"""Regenerate PLANS.md: formatted Catalyst plans for the scale-critical
operators, annotated with the properties each plan must exhibit.

Usage: python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geomatics_geotk_spark import plans, queries  # noqa: E402
from geomatics_geotk_spark.operators import spatial_join  # noqa: E402
from geomatics_geotk_spark.session import get_spark  # noqa: E402
from geomatics_geotk_spark.sources.documents import synth_documents, zones_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def _trim(plan: str, max_lines: int = 40) -> str:
    """Keep only the operator tree (node details carry megabyte-sized
    generated expressions)."""
    out = []
    for ln in plan.splitlines():
        if re.match(r"^\(\d+\)", ln):
            break
        out.append(re.sub(r"#\d+L?", "", ln.rstrip()))
        if len(out) >= max_lines:
            break
    out.append("(node details elided — run scripts/dump_plans.py locally)")
    return "\n".join(out)


def main() -> None:
    spark = get_spark("plans")
    sections = []

    docs = synth_documents(spark, 1000)
    tiled = spatial_join.tile_assign(spatial_join.decode_geo_spans(docs), 12)
    flag = spatial_join.spatial_join(
        tiled, zones_table(spark, grid=8), res=12, strategy="broadcast"
    ).select("doc_id", "zone_id", "cell_id")
    sections.append((
        "Flagship: decode → tile → broadcast pip join",
        "One scan-side map stage + BroadcastHashJoin; refine is Column math "
        "(no ArrowEvalPython/BatchEvalPython node); zero shuffles.",
        _trim(plans.formatted_plan(flag)),
    ))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = queries.q_pip_salted_shuffle(spark, SF)
        salted_plan = _trim(plans.formatted_plan(q))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    sections.append((
        "Salted shuffle pip join (broadcast disabled to show the exchange)",
        "Hash exchange on (cell_id, salt): hot cells spread over salt "
        "sub-keys, AQE skew-join enabled on top.  At bench scale AQE "
        "rightly picks broadcast instead; this is the shape the plan "
        "takes when the zone side outgrows the broadcast threshold.  The "
        "zone side is packed on the executors in one mapInArrow and "
        "checkpointed, so it enters as a Scan ExistingRDD.",
        salted_plan,
    ))

    agg = queries.q_pricing_summary(spark, SF)
    sections.append((
        "Aggregation (pricing summary)",
        "HashAggregate(partial) → Exchange → HashAggregate(final): map-side "
        "combine halves shuffle volume.",
        _trim(plans.formatted_plan(agg)),
    ))

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    pushed = li.where(F.col("l_quantity") > 49).select("l_orderkey", "l_quantity")
    sections.append((
        "Scan hygiene",
        "PushedFilters + pruned ReadSchema at the parquet scan.",
        _trim(plans.formatted_plan(pushed), 25),
    ))

    sections.append((
        "GML decode stage (gml_decode)",
        "Scan → ONE ArrowEvalPython (the batch XML decode) → projection; "
        "no shuffle — GML parsing is purely stage-local and never "
        "re-crosses the Python boundary downstream.",
        _trim(plans.formatted_plan(queries.q_gml_decode(spark, SF)), 25),
    ))

    sections.append((
        "Geometry-distance join (dwithin_zones)",
        "strategy='broadcast': the zone side (margin-expanded cells) is "
        "packed on the driver into one Arrow table — a LocalTableScan, "
        "exploded as Column ops, no Python node; candidates "
        "broadcast-join on cell_id, rings attach on zone_id, then ONE "
        "Arrow node runs the per-candidate nearest-witness + Vincenty "
        "refine (full cells short-circuit to 0).  strategy='shuffle' "
        "packs the zone side on the executors in one mapInArrow and "
        "swaps both broadcasts for hash exchanges.",
        _trim(plans.formatted_plan(queries.q_dwithin_zones(spark, SF)), 36),
    ))

    sections.append((
        "Generic-geometry join (geometry_join, intersects)",
        "Envelope extraction (ONE Arrow node, scan-side — asNondeterministic "
        "barrier stops Catalyst re-running it per consumer) → covering-cell "
        "explode (Column) → zone-cell equi-join → candidate dedupe "
        "(one exchange; SortAggregate because the carried wkt payload is a "
        "string — min(string) has no hash-agg buffer; partial agg still "
        "runs map-side) → ring-attach join on zone_id → batch DE-9IM "
        "refine (one Arrow node; factorized by (zone, kind) inside each "
        "batch, concatenated-array kernels — no per-pair Python).  The "
        "zone side is packed on the driver under strategy='broadcast' (a "
        "LocalTableScan) and on the executors under 'shuffle' (one "
        "mapInArrow); rings never ride through the explode/shuffle, only "
        "the final dimension join.",
        _trim(plans.formatted_plan(queries.q_geometry_join_lines(spark, SF)), 40),
    ))

    sections.append((
        "Columnar simhash (signature build)",
        "Explode tokens (map-side) → partial HashAggregate (64 bit-lane "
        "sums collapse each doc per partition) → one exchange on doc_id → "
        "final agg → signature shifts: shuffle volume is docs x 64 ints, "
        "never docs x tokens.  No Python anywhere.",
        _trim(plans.formatted_plan(
            __import__("geomatics_geotk_spark.operators.dedup", fromlist=["dedup"])
            .with_simhash_columnar(
                spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
            )
        ), 30),
    ))

    sections.append((
        "Stream-signature band index (lsh_band_index)",
        "Zero exchanges, zero Python, zero aggregation — chained Projects "
        "over the scan.  With no aggregate above it the same program is "
        "legal in a stateless append stream, so the streaming index and "
        "the batch index are ONE plan.  The 32 lane minima fold in a "
        "single F.aggregate pass (32 separate array_min(transform(...)) "
        "columns would inline the base-hash transform 32x after "
        "projection collapse — measured 15x slower).  Caveat: lambda "
        "Column expressions evaluate INTERPRETED, so the bulk build has "
        "an Arrow twin (lsh_band_index_arrow, bit-identical, same "
        "oracle, 8x faster at sf0.1): one mapInPandas stage, C md5 once "
        "per shingle, all 32 affine minima in one numpy matrix op.",
        _trim(plans.formatted_plan(queries.q_lsh_band_index(spark, SF)), 25),
    ))

    sections.append((
        "Exact per-stratum percentiles (length_percentiles)",
        "row_number window, count window, and the final per-lang agg all "
        "co-partition on lang — ONE exchange end to end; the percentile "
        "picks are integer order-statistic indexes (no float "
        "interpolation), which is what lets DuckDB replay them bit-exact.",
        _trim(plans.formatted_plan(queries.q_length_percentiles(spark, SF)), 25),
    ))

    sections.append((
        "HLL distinct registers (hll_distinct)",
        "Explode tokens → hash/bucket/rho Column math (integer-only: rho "
        "via length(bin(v)), no float log) → partial max map-side → ONE "
        "exchange of at most m=256 registers per lang → final max + the "
        "summary agg.  The shuffle carries SKETCH STATE, never values — "
        "the count-distinct twin whose exchange is O(m), not O(distinct).",
        _trim(plans.formatted_plan(queries.q_hll_distinct(spark, SF)), 25),
    ))

    TEXT_FAMILY_NOTES_R3 = """
## Sketch / graph family (round 3)

- `cms_vocab`: counter build = explode ×4 lanes → partial count →
  one exchange bounded by depth×width keys per lang; the probe side
  joins the counter table as a **broadcast** and min-reduces over
  lanes.  Hot tokens are hot KEYS absorbed by map-side partials.
- `bloom_dedup`: the corpus crosses stages only as its ≤ m bit rows
  (broadcast); probes compute k Column hashes and count hits — the
  incremental-dedup shape where the historical corpus is never joined.
- `pagerank`: per iteration ONE rank⋈edges equi-join + one
  map-side-combined sum exchange on dst; fixed-point BIGINT ranks make
  partial-agg order irrelevant (bit-identical at any parallelism,
  tested) and localCheckpoint truncates lineage between iterations.
  At scale the edge table is bucketed by src so the join co-partitions.
- `budget_pack`: the naive packer is a GLOBAL cumsum window
  (single-partition).  The plan here is the two-phase equivalent:
  per-bucket totals (tiny agg) + a ~21-row bucket window, row-level
  window ONLY inside the boundary bucket — equivalence to the naive
  selection is tested and oracle-checked.
- `mix_resample`: per-source counts (tiny agg) broadcast back; the
  keep/drop decision is a per-row integer hash compare — the corpus
  itself never shuffles.
"""

    TEXT_FAMILY_NOTES = """
## Training-data pipeline family (round 3)

Asserted in `tests/test_plans_text.py` (distinct-node counts, not
substring greps):

- `repetition`, `pii_scan`: scan → one Project — **zero exchanges, zero
  Python**; every ratio/regex/redaction is a Column expression inside
  whole-stage codegen.  At 100 TB these are pure map passes that scale
  with input splits.
- `split_assign`: per-row hash-bucket Column map, then exactly **one
  exchange** with partial+final HashAggregate around it (the
  per-(split,lang) report).  The assignment itself is shuffle-free —
  filtering a split out of the corpus is a scan-level predicate.
- `heavy_shingles`: explode → partial count map-side → one exchange on
  the shingle key; the relative threshold's corpus count crosses in as a
  **broadcast scalar** (BroadcastNestedLoopJoin over 1 row), never a
  shuffle.  A hot boilerplate gram is one hot KEY whose partials combine
  map-side — frequency skew does not skew the shuffle.
- `decontaminate` / `curation_funnel`'s contamination stage: eval-side
  distinct shingles are benchmark-sized → **BroadcastHashJoin**; the
  corpus aggregates once on doc_id.  No SortMergeJoin anywhere.
- `stratified_sample`: two Window nodes — the first partitions on
  (stratum, salt) so no window partition exceeds the salt shard, the
  second ranks the ≤ k·salts survivors per stratum.  Salt count is a
  parallelism knob only; the row set is provably invariant (tested at
  salts ∈ {1, 8} and oracle-checked against the direct single-window
  top-k).
- `vocab_topk`: partial+final count around one exchange, then
  **WindowGroupLimit** above and below the rank exchange — Catalyst
  pushes the k=20 limit into the shuffle, so the rank exchange carries
  ≤ k rows per (lang, input partition), not the whole count table.
- `chunk_sliding`: scan → per-row chunk-count math → narrow Generate —
  **zero exchanges, zero Python**; fan-out bounded by
  ceil(tokens/stride).  ReadSchema pruned to (doc_id, text).
- `line_dedup`: line building is a narrow Generate (token array bound
  as a column so the interpreted transform never re-splits); the
  duplicate-line set joins back as a **BroadcastHashJoin** (the corpus
  line stream never shuffles for the marking join); remaining
  exchanges: the distinct-df count on the line key + the doc_id
  reassembly.  No SortMergeJoin.
- `selfsim`: 16-token stride-1 windows via the codegen-only
  index-explode pattern, reduced to 64-bit hashes BEFORE the frequency
  exchange — the shuffle carries (id, long), never window text; the
  duplicated-window set broadcasts back.
- `span_compact`: a narrow per-row Column fold over the span array —
  zero exchanges; the oracle is an independent gaps-and-islands SQL
  formulation.
- `keeper_election`: one `max_by` aggregation keyed on component —
  partial aggregates combine map-side, so a mega-cluster is a hot KEY,
  never a corpus-wide window.
- `oov_rate` / `minhash_est_jaccard`: vocab / signatures reduce to
  k-row or per-doc state that broadcasts or equi-joins back; the corpus
  token/pair stream never self-joins on data rows.
- `pack_sequences`: the concat-and-split packer's global cumsum runs as
  a two-phase DISTRIBUTED PREFIX SUM — per-bucket totals (tiny agg), a
  ≤buckets-row offset window, then a within-bucket running sum whose
  window partition is ~1/buckets of the corpus; integer math makes it
  exactly equal the naive global window the oracle runs.
- `weighted_sample` / `bm25_topk`: global top-k is
  TakeOrderedAndProject (per-task heaps merged at the driver), never a
  partition-less window over data rows; bm25's only global window ranks
  the k≤10 survivors AFTER the limit.
- Session-wide: `InferFiltersFromGenerate` is excluded (session.py,
  merged into caller sessions by `queries._read`) — the rule clones
  explode generators into scan Filters that re-run the tokenizer regex
  per array element (12x on every shingle explode; see BENCH.md).
"""

    sections.append((
        "Bloom-filtered join (bloom_join)",
        "Runtime-filter pattern: the probe side carries a plain scan-stage "
        "Filter (md5-hash InSet bit tests — the bounded collected filter is "
        "embedded as one SQL IN fragment, O(1) per probe), then exactly ONE "
        "join (the real one).  No bitmap join of any kind, no "
        "BroadcastNestedLoopJoin.",
        _trim(plans.formatted_plan(queries.q_bloom_join(spark, SF))),
    ))

    sections.append((
        "Tile pyramid (tile_pyramid)",
        "Multi-resolution rollup in ONE exchange: a projection materializes "
        "the fine cell (the spread-bit chain evaluates once per row — "
        "inlining it into the 3 struct fields triples the codegen), parent "
        "cells derive by Morton shift map-side, one explode feeds a single "
        "partially-aggregated groupBy.",
        _trim(plans.formatted_plan(queries.q_tile_pyramid(spark, SF))),
    ))

    sections.append((
        "kNN cell-ring join (knn_cellring)",
        "Docs join the poi table's cell-disk explode by BROADCAST on "
        "cell_id; per-doc completeness (does the covered ring guarantee "
        "the k-th neighbor?) derives from inline window aggregates over "
        "the SAME partition key — the exchange is reused, no rejoin and "
        "no doc-cardinality broadcast; only the unresolved residue "
        "reaches the bounded brute fallback via a hint-free anti-join "
        "(AQE picks the strategy).",
        _trim(plans.formatted_plan(queries.q_knn_cellring(spark, SF)), 36),
    ))

    sections.append((
        "Zonal stats (zonal_stats)",
        "Tiles explode to covering cells (Column math) → broadcast "
        "zone-cell equi-join → codegen envelope∩polygon refine (full "
        "cells classified without refining) → ONE map-side-combined "
        "hash-agg exchange for the per-zone stats.  strategy='broadcast': "
        "the zone side is packed on the driver (a LocalTableScan); "
        "'shuffle' packs it on the executors in one mapInArrow.",
        _trim(plans.formatted_plan(queries.q_zonal_stats(spark, SF)), 30),
    ))

    sections.append((
        "Composed ANN retrieval (ann_topk_ivf_int8)",
        "The 100 TB retrieval shape end to end: corpus rows carry ONE "
        "IVF cell int (the bucketing layout of the stored table) and a "
        "4-8x-narrower int8 qvec; probed queries broadcast-join on cell "
        "(the corpus never shuffles), the int8 coarse score thins "
        "candidates, and BOTH rankings are the salted two-phase top-k — "
        "phase-1 windows partition on (q_id, _tk_salt) with "
        "WindowGroupLimit, so no task ever sorts a query's whole "
        "candidate set (tests/test_plans_similarity.py asserts every "
        "ANN-family plan).",
        _trim(plans.formatted_plan(queries.q_ann_topk_ivf_int8(spark, SF)), 40),
    ))

    sections.append((
        "PQ/ADC retrieval (ann_topk_ivf_pq)",
        "Deepest-compression retrieval tier: the corpus scan carries ONLY "
        "(id, cell, codes) — m=8 ints per row, no float vectors — and the ADC "
        "score is a JVM Column fold over broadcast per-query lookup "
        "tables (zip_with index + element_at; Python appears only in the "
        "constant-size encode/LUT Arrow batches).  The exact rerank "
        "JOINS BACK to the vector store by id for the pool rows only, "
        "so the wide float column is read for ≤ pool·Q rows; both "
        "rankings are the salted two-phase top-k.  The ADC stage sits "
        "behind IVF cell pruning — the FAISS IVFx,PQy layout where the "
        "stored table is bucketed by cell.",
        _trim(plans.formatted_plan(queries.q_ann_topk_ivf_pq(spark, SF)), 40),
    ))

    sections.append((
        "A-ES weighted sample (weighted_sample)",
        "Weighted sampling without replacement: per-row Column expression "
        "(id hash → uniform → ln(u)/w exponential key), then "
        "TakeOrderedAndProject — per-task k-row heaps merged at the "
        "driver, NO global sort and NO window at any corpus size; "
        "deterministic and layout-independent unlike df.sample.",
        _trim(plans.formatted_plan(queries.q_weighted_sample(spark, SF)), 25),
    ))

    sections.append((
        "BM25 retrieval (bm25_topk)",
        "Query-term isin folds into the token explode stage (only matching "
        "tokens shuffle); (N, avgdl) cross in as one broadcast row; global "
        "top-k is TakeOrderedAndProject (per-partition heaps), not a "
        "single-task window.",
        _trim(plans.formatted_plan(queries.q_bm25_topk(spark, SF))),
    ))

    sections.append((
        "Raster focal stats (focal_mean)",
        "Scatter-explode of a LITERAL offset array (Generate node, "
        "map-side) → ONE exchange on the target cell with partial "
        "aggregation absorbing the x9 expansion; the gather-join "
        "alternative would shuffle both sides and cannot pre-combine.",
        _trim(plans.formatted_plan(queries.q_focal_mean(spark, SF)), 25),
    ))

    sections.append((
        "Shoelace ring measures (polygon_measures)",
        "Vertex rows: ONE window exchange on ring_id (lead + first_value "
        "share the sort), edge cross terms as Column math, and the rollup "
        "REUSES the window's hash partitioning — no second exchange.  "
        "ring_geodesic_area is the same shape with trig terms.",
        _trim(plans.formatted_plan(queries.q_polygon_measures(spark, SF)), 25),
    ))

    sections.append((
        "Triangle counting (triangle_counts)",
        "Degree-ordered orientation: canonical-edge dedupe + degree "
        "aggregate, wedge self-join keyed on the orientation-minimal "
        "center (bounded O(m^1.5) under hub skew), closing-pair equi-join, "
        "per-node rollup.  Every join is a key equi-join; no crossJoin.",
        _trim(plans.formatted_plan(queries.q_triangle_counts(spark, SF)), 40),
    ))

    sections.append((
        "Track regularization (resample_track)",
        "ONE lag window exchange on the entity; the per-leg sequence() "
        "tick generator is a map-side Generate node, so output volume is "
        "duration/period per entity and a tick-dense leg explodes only "
        "its own row.  No Python anywhere.",
        _trim(plans.formatted_plan(queries.q_resample_track(spark, SF)), 25),
    ))

    sections.append((
        "IDW interpolation (idw_interpolate)",
        "Broadcast observation dim (BroadcastNestedLoopJoin at dim size) "
        "→ salted two-phase top-k (never one task per doc) → decimal "
        "weight rollup reusing the ranking exchange.  Corpus-scale "
        "observation tables swap the candidate stage for knn_join's "
        "cell-ring equi-join and keep the same weighting tail.",
        _trim(plans.formatted_plan(queries.q_idw_interpolate(spark, SF)), 35),
    ))

    sections.append((
        "Misra-Gries exact heavy hitters (heavy_hitters)",
        "Pass 2 only (pass 1's mapInPandas summaries feed a bounded "
        "partitions·(k+1)-row collect before this plan is built): the "
        "candidate recount is a BROADCAST semi-join into the token scan "
        "+ one map-side-combined count — the exchange carries candidate "
        "items only, never the open n-gram vocabulary.",
        _trim(plans.formatted_plan(queries.q_heavy_hitters(spark, SF)), 35),
    ))

    sections.append((
        "Fuzzy edit-distance join (fuzzy_name_pairs)",
        "Symmetric-delete blocking (d=1): variant explode map-side on "
        "both sides, ONE equi-join on the variant string, pair dedup as "
        "a map-side array filter (no dropDuplicates exchange), length "
        "filter + JVM levenshtein inside the join stage.  No Python.",
        _trim(plans.formatted_plan(queries.q_fuzzy_name_pairs(spark, SF)), 35),
    ))

    sections.append((
        "Grid DBSCAN (grid_clusters)",
        "Cell binning map-side; the per-cell count is the ONLY "
        "data-sized exchange; dense-cell adjacency = 8-offset explode + "
        "equi-join on the packed cell key; CC label propagation runs on "
        "dense cells only; one label join-back.  (CC iterations appear "
        "as the localCheckpoint scan.)",
        _trim(plans.formatted_plan(queries.q_grid_clusters(spark, SF)), 40),
    ))

    sections.append((
        "Supercover track rasterization (track_cells)",
        "One lag window exchange builds legs; the two nested sequence "
        "explodes and the Liang-Barsky slab filter are a map-side "
        "Generate chain; the rollup is one map-side-combined exchange.",
        _trim(plans.formatted_plan(queries.q_track_cells(spark, SF)), 30),
    ))

    sections.append((
        "KMV registers + estimate (kmv_vocab)",
        "One dedup exchange on (group, hash), salted two-phase k-min "
        "(no single-task sort per group), estimator over ≤ k rows per "
        "group; the exact-distinct comparison side is its own branch.",
        _trim(plans.formatted_plan(queries.q_kmv_vocab(spark, SF)), 40),
    ))

    sections.append((
        "Getis-Ord Gi* hot spots (hotspot_gi)",
        "9-offset scatter is a map-side Generate; ONE equi-join back on "
        "the occupied-cell key + one hash-agg; the global moments cross "
        "in as a broadcast single row.  No cartesian, no Python.",
        _trim(plans.formatted_plan(queries.q_hotspot_gi(spark, SF)), 35),
    ))

    sections.append((
        "Emerging hot spot analysis (emerging_hotspots)",
        "Daily Gi* surfaces (moments BROADCAST-joined per day) feed the "
        "Mann-Kendall pair compare — an equi-join on the CELL over the "
        "days×cells series frame, never raw events; arg-max closing gi "
        "joins on the same cell key.  All JVM.",
        _trim(plans.formatted_plan(queries.q_emerging_hotspots(spark, SF)), 40),
    ))

    sections.append((
        "Rolling z-score rate anomaly (rate_anomaly)",
        "Raw events collapse to the (type, hour) series in ONE map-side-"
        "combined exchange; the trailing frame window hash-partitions on "
        "event_type; top-20 is TakeOrderedAndProject — no global sort, "
        "no single-partition window.",
        _trim(plans.formatted_plan(queries.q_rate_anomaly(spark, SF)), 25),
    ))

    sections.append((
        "PMI collocations (pmi_collocations)",
        "Bigram structs explode map-side (Generate after the token-array "
        "filter); ONE data-volume exchange for pair counts; unigram joins "
        "run on vocab-sized frames; the two scalar totals are "
        "BroadcastNestedLoopJoins; TakeOrderedAndProject top-k (plan-"
        "asserted: zero Window nodes).",
        _trim(plans.formatted_plan(queries.q_pmi_collocations(spark, SF)), 35),
    ))

    sections.append((
        "Market-basket pairs (basket_pairs)",
        "collect_set on the basket key is the ONLY data-sized exchange; "
        "pair structs explode from the sorted array map-side — the plan "
        "is asserted JOIN-FREE (the shape to regress into is an item "
        "self-join); partial-combined pair counts; TakeOrderedAndProject.",
        _trim(plans.formatted_plan(queries.q_basket_pairs(spark, SF)), 25),
    ))

    sections.append((
        "Mann-Kendall trend test (trend_test)",
        "The O(hours²) pair compare is an equi-join on event_type over "
        "the tiny count series (exchange carries the series, not "
        "events); sign sums, tie terms and n fold in three hash-aggs on "
        "the same key.",
        _trim(plans.formatted_plan(queries.q_trend_test(spark, SF)), 30),
    ))

    sections.append((
        "CUSUM level-shift alarms (cusum_alarm)",
        "The max(0,·) recursion is its prefix-sum/running-min closed "
        "form: two STACKED windows sharing ONE per-type exchange over "
        "the hourly count series (never raw events); everything before "
        "the one reporting division is scaled BIGINT arithmetic.",
        _trim(plans.formatted_plan(queries.q_cusum_alarm(spark, SF)), 30),
    ))

    sections.append((
        "Pooled Flesch readability (readability)",
        "Three split→filter→size counts are map-side Column math; ONE "
        "map-side-combined exchange on lang (|langs| rows out); the "
        "Flesch division runs on the aggregated BIGINT totals only.",
        _trim(plans.formatted_plan(queries.q_readability(spark, SF)), 20),
    ))

    sections.append((
        "Media-asset reuse audit (media_reuse)",
        "Span synthesis + explode + media filter are all map-side "
        "(Generate under the first HashAggregate); countDistinct "
        "expands in the standard two-pass agg on media_ref — the only "
        "data-sized exchange; TakeOrderedAndProject top-20.",
        _trim(plans.formatted_plan(queries.q_media_reuse(spark, SF)), 25),
    ))

    sections.append((
        "Last-touch attribution (attribution)",
        "The last-click timestamp is a running max(CASE) frame over "
        "each user's stream — ONE exchange on user_id, NO self-join / "
        "as-of shuffle; bucket labels collapse to ≤5 groups in a "
        "partial-combined agg.",
        _trim(plans.formatted_plan(queries.q_attribution(spark, SF)), 25),
    ))

    sections.append((
        "Zonal majority class (zonal_majority)",
        "The zonal_join pair stream collapses to (zone, class) counts "
        "map-side-combined; the mode window ranks ≤7 rows per zone; "
        "share joins totals on the same zone key (broadcast-sized).",
        _trim(plans.formatted_plan(queries.q_zonal_majority(spark, SF)), 35),
    ))

    sections.append((
        "Behavioral entropy (behavior_entropy)",
        "One (user, type) count exchange, then per-user frames of ≤ "
        "|event types| rows; the n·ln n − Σ c·ln c fold is decimal "
        "arithmetic on INTEGER counts (bit-exact vs the oracle).",
        _trim(plans.formatted_plan(queries.q_behavior_entropy(spark, SF)), 25),
    ))

    sections.append((
        "Hausdorff route matching (hausdorff_routes)",
        "The 5×20 route dimension folds INLINE per point row (100 "
        "codegen comparisons — zero joins, zero Python); ONE map-side-"
        "combined exchange on user_id; argmin over routes is an "
        "array_min on the aggregated row.",
        _trim(plans.formatted_plan(queries.q_hausdorff_routes(spark, SF)), 15),
    ))

    sections.append((
        "Voronoi site rollup (voronoi_stats)",
        "The 25-site dimension (bounded driver collect, the clustering-"
        "centroid pattern) folds inline as an array_min over (d², key) "
        "structs — no join, no per-event exchange; the ONLY shuffle is "
        "the ≤25-row per-site rollup.",
        _trim(plans.formatted_plan(queries.q_voronoi_stats(spark, SF)), 15),
    ))

    sections.append((
        "Hexagonal binning (hex_bin)",
        "Cube-rounded axial hex ids are pure map-side Column math; ONE "
        "map-side-combined exchange on (q, r); TakeOrderedAndProject "
        "top-30.",
        _trim(plans.formatted_plan(queries.q_hex_bin(spark, SF)), 15),
    ))

    sections.append((
        "ACF profile (acf_profile)",
        "All 6 lags share ONE window spec (one exchange + sort of the "
        "series frame); the lag dimension explodes map-side; moment "
        "rollup partial-combines on (key, lag).",
        _trim(plans.formatted_plan(queries.q_acf_profile(spark, SF)), 25),
    ))

    sections.append((
        "Theil-Sen slope (theil_sen)",
        "The O(T²) pair generation is a self-equi-join ON THE KEY of "
        "the series frame (the mann_kendall shape); the lower-median "
        "window runs on per-key pair lists — series-bounded, never "
        "corpus-bounded.",
        _trim(plans.formatted_plan(queries.q_theil_sen(spark, SF)), 25),
    ))

    sections.append((
        "CDC merge-apply (cdc_apply)",
        "ONE window exchange on the business key — the log IS the "
        "state; no base-table merge join (plan-asserted Join-free).",
        _trim(plans.formatted_plan(queries.q_cdc_apply(spark, SF)), 15),
    ))

    sections.append((
        "Common-neighbor link prediction (common_neighbors)",
        "Wedge pairs explode MAP-SIDE from sorted midpoint adjacency "
        "arrays (the basket_pairs shape — no edge self-join); pair "
        "counts partial-combine; degrees join on the node-sized table; "
        "TakeOrderedAndProject top-30.",
        _trim(plans.formatted_plan(queries.q_common_neighbors(spark, SF)), 40),
    ))

    sections.append((
        "Bursty vocabulary (token_bursts)",
        "Explode → map-side partial count on (token, day); totals roll "
        "up from the vocab×days table, never corpus rows; "
        "TakeOrderedAndProject (zero Window nodes).",
        _trim(plans.formatted_plan(queries.q_token_bursts(spark, SF)), 25),
    ))

    sections.append((
        "EWMA control chart (ewma_chart)",
        "The ≤32-element frame array rides the series window's ONE "
        "exchange; the fold is plan-time JVM codegen (alpha = 0.25 "
        "binary-exact, bit-identical to DuckDB's list_reduce).",
        _trim(plans.formatted_plan(queries.q_ewma_chart(spark, SF)), 15),
    ))

    sections.append((
        "Haar multi-resolution rollup (haar_multires)",
        "The 4 levels explode map-side from series rows; ONE map-side-"
        "combined exchange on (type, level, block) — all-integer "
        "coefficients.",
        _trim(plans.formatted_plan(queries.q_haar_multires(spark, SF)), 15),
    ))

    sections.append((
        "Zipf tail fit (zipf_fit)",
        "Token counts partial-combine map-side; the rank window and "
        "fit moments run on the per-lang top-100 frame — vocabulary-"
        "sized; decimal-rounded logs make the fit oracle-exact.",
        _trim(plans.formatted_plan(queries.q_zipf_fit(spark, SF)), 25),
    ))

    sections.append((
        "Empirical semivariogram (variogram)",
        "The corpus collapses to the bounded cell surface in ONE "
        "map-side-combined exchange; the pair join is a "
        "BroadcastNestedLoopJoin of that surface with the band "
        "predicate in the join filter — never raw events.",
        _trim(plans.formatted_plan(queries.q_variogram(spark, SF)), 25),
    ))

    sections.append((
        "Forward-fill gap repair (gap_fill)",
        "The dense grid explodes map-side from one (min, max) row per "
        "type; observed counts left-join on (type, hour); carry-forward "
        "is last(ignorenulls) over ONE series window.",
        _trim(plans.formatted_plan(queries.q_gap_fill(spark, SF)), 25),
    ))

    sections.append((
        "Kaplan-Meier survival (survival_km)",
        "Per-user rollup is the one corpus exchange; the cumulative-"
        "product window runs ONLY on the |distinct durations| risk "
        "frame (decimal-rounded log folds, exp at the end).",
        _trim(plans.formatted_plan(queries.q_survival_km(spark, SF)), 30),
    ))

    sections.append((
        "k-core peel (kcore)",
        "Final plan after the bounded driver-side fixpoint loop: the "
        "degree rollup over the last checkpointed edge set (each round "
        "was one degree agg + two semi-joins + localCheckpoint).",
        _trim(plans.formatted_plan(queries.q_kcore(spark, SF)), 15),
    ))

    sections.append((
        "Lead-lag cross-correlation (leadlag_xcorr)",
        "Both series collapse in the shared (type, hour) exchange; the "
        "13 shifts explode map-side over the click series; alignment is "
        "an equi-join on shifted epoch-hours — all series-sized frames.",
        _trim(plans.formatted_plan(queries.q_leadlag_xcorr(spark, SF)), 30),
    ))

    sections.append((
        "Journey trigram mining (path_trigrams)",
        "Two lead() columns share ONE window exchange on user_id; "
        "trigram counts partial-combine; TakeOrderedAndProject top-20.",
        _trim(plans.formatted_plan(queries.q_path_trigrams(spark, SF)), 15),
    ))

    sections.append((
        "MAD outlier fences (mad_outliers)",
        "Three agg passes on event_type with 5-row med/MAD tables "
        "broadcast back — quantiles via the AGG path (plan-asserted "
        "zero Window nodes), never a corpus ranking.",
        _trim(plans.formatted_plan(queries.q_mad_outliers(spark, SF)), 30),
    ))

    sections.append((
        "Rate-alarm drilldown (anomaly_drilldown)",
        "The ≤5-row alarm table broadcasts into the events join; user "
        "counts partial-combine on (type, hour, user); the top-3 window "
        "ranks only each alarm hour's user frame.",
        _trim(plans.formatted_plan(queries.q_anomaly_drilldown(spark, SF)), 35),
    ))

    sections.append((
        "Markov stationary mix (markov_stationary)",
        "The only corpus-sized work is the transition-count window; 12 "
        "fixed-point iterations run as tiny broadcast joins + decimal "
        "aggs over the |types|² chain (plan shown: final iteration).",
        _trim(plans.formatted_plan(queries.q_markov_stationary(spark, SF)), 20),
    ))

    sections.append((
        "Calendar seasonality (seasonality_profile)",
        "Integer (epoch_days+4)%7 day-of-week sidesteps engine "
        "DAYOFWEEK conventions; ONE map-side-combined exchange on the "
        "7·24·|types| key space; totals join type-sized.",
        _trim(plans.formatted_plan(queries.q_seasonality_profile(spark, SF)), 20),
    ))

    sections.append((
        "Degree assortativity (assortativity)",
        "Stub frame = adjacency ⋈ degrees (node-sized) twice; one "
        "global BIGINT moment agg; the Pearson scalar folds at the end.",
        _trim(plans.formatted_plan(queries.q_assortativity(spark, SF)), 30),
    ))

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — Catalyst physical plans of the scale-critical operators\n\n"
            "Generated by `python scripts/dump_plans.py` (attribute ids stripped).\n"
        )
        for title, note, plan in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")
        f.write(TEXT_FAMILY_NOTES)
        f.write(TEXT_FAMILY_NOTES_R3)
    print("PLANS.md written")


if __name__ == "__main__":
    main()
