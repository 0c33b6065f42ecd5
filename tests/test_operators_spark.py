"""End-to-end operator tests on local Spark: synthetic interleaved docs →
decode → tile → joins, cross-checked against brute-force numpy truth, with
the span-sequence invariant asserted after every pipeline.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomatics_geotk_spark import cells, plans
from geomatics_geotk_spark.kernels import geodesic, geometry as geom_k
from geomatics_geotk_spark.operators import dedup, envelope, knn, similarity, spatial_join, temporal, text, zonal
from geomatics_geotk_spark.operators.spatial_join import (
    decode_geo_spans,
    dwithin_join,
    prepare_zones,
    tile_assign,
)
from geomatics_geotk_spark.sources import (
    assert_spans_preserved,
    pois_table,
    raster_tiles_table,
    synth_documents,
    with_span_hash,
    zones_table,
)

N_DOCS = 2000


@pytest.fixture(scope="module")
def docs(spark):
    df = synth_documents(spark, N_DOCS).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def decoded(docs):
    return tile_assign(decode_geo_spans(docs), 12).cache()


@pytest.fixture(scope="module")
def docs_pd(decoded):
    return decoded.select("doc_id", "lon", "lat").toPandas().sort_values("doc_id")


class TestSynthDocuments:
    def test_deterministic_across_partitionings(self, spark):
        a = with_span_hash(synth_documents(spark, 300, partitions=2))
        b = with_span_hash(synth_documents(spark, 300, partitions=13))
        assert a.select("doc_id", "span_hash").exceptAll(b.select("doc_id", "span_hash")).count() == 0

    def test_schema_and_geo_span(self, docs):
        row = docs.first()
        kinds = [s["kind"] for s in row["spans"]]
        assert kinds.count("geo") == 1
        assert 2 <= len(kinds) <= 8
        offsets = [s["offset"] for s in row["spans"]]
        assert offsets == sorted(offsets) and len(set(offsets)) == len(offsets)

    def test_interleaving_has_text_and_media(self, docs):
        counts = docs.select(
            F.explode("spans").alias("s")
        ).groupBy("s.kind").count().collect()
        kinds = {r["kind"]: r["count"] for r in counts}
        assert kinds.get("text", 0) > 0 and kinds.get("media", 0) > 0
        assert kinds["geo"] == N_DOCS

    def test_hot_cells_skew(self, decoded):
        top = decoded.groupBy("cell_id").count().orderBy(F.desc("count")).first()
        assert top["count"] > N_DOCS * 0.03  # hot cells concentrate ~20%/3


class TestDecodeAndTile:
    def test_decode_matches_wkt(self, docs):
        d = decode_geo_spans(docs).select("doc_id", "lon", "lat").first()
        assert -123.5 - 0.01 <= d["lon"] <= -122.5 + 0.01
        assert 49.0 - 0.01 <= d["lat"] <= 50.0 + 0.01

    def test_jvm_cell_matches_numpy(self, decoded, docs_pd):
        expected = cells.cell_of(docs_pd["lon"].to_numpy(), docs_pd["lat"].to_numpy(), 12)
        got = decoded.select("doc_id", "cell_id").toPandas().sort_values("doc_id")["cell_id"].to_numpy()
        assert np.array_equal(got, expected)

    def test_spans_preserved_through_decode(self, docs, decoded):
        assert_spans_preserved(docs, decoded.select("doc_id", "spans"))

    @pytest.fixture
    def edge_docs(self, spark, docs):
        """Docs the decode must map to null lon/lat, plus one with two geo
        spans, under ANSI mode (Spark 4's default)."""
        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        rows = [
            ("empty", []),
            ("text-only", [("text", "a b", "", 0), ("media", "", "media://x", 10)]),
            ("two-geo", [("text", "x", "", 0), ("geo", "POINT (1.5 2.5)", "", 10),
                         ("geo", "POINT (3 4)", "", 20)]),
            ("garbage", [("geo", "garbage", "", 0)]),
        ]
        yield spark.createDataFrame(rows, docs.schema)
        spark.conf.set("spark.sql.ansi.enabled", prev)

    def test_decode_edge_docs_give_null_not_error(self, edge_docs):
        got = {r["doc_id"]: (r["lon"], r["lat"]) for r in decode_geo_spans(edge_docs).collect()}
        assert got == {
            "empty": (None, None),
            "text-only": (None, None),
            "two-geo": (1.5, 2.5),  # the first geo span wins
            "garbage": (None, None),
        }

    def test_tile_assign_null_point_sentinel_cell(self, edge_docs):
        tiled = tile_assign(decode_geo_spans(edge_docs), 12)
        assert not tiled.schema["cell_id"].nullable
        got = {r["doc_id"]: r["cell_id"] for r in tiled.collect()}
        assert got == {
            "empty": -1, "text-only": -1, "garbage": -1,
            "two-geo": int(cells.cell_of(1.5, 2.5, 12)),
        }

    def test_no_point_never_joins_corner_zone(self, spark, edge_docs):
        """A zone fully covering the cell of (-180, -90) must not match a
        doc without a point: its null lon/lat used to clamp into that
        cell, where the full-cell accept skipped the refine."""
        # past the corner, so the corner cell's corners are strictly inside
        corner = [(-181.0, -91.0), (-170.0, -91.0), (-170.0, -80.0), (-181.0, -80.0), (-181.0, -91.0)]
        zones = spark.createDataFrame(
            [("zone-corner", "CRS:84", corner, [])],
            "zone_id string, crs string, exterior array<struct<x:double,y:double>>, "
            "interiors array<array<struct<x:double,y:double>>>",
        )
        zc, _ = prepare_zones(zones, 12)
        assert zc.where("full AND cell_id = 3458764513820540928").count() == 1
        inside = spark.createDataFrame(
            [("inside", [("geo", "POINT (-179.99 -89.99)", "", 0)])], edge_docs.schema
        )
        docs = decode_geo_spans(edge_docs.unionByName(inside))
        for strategy in ("broadcast", "shuffle"):
            out = spatial_join.spatial_join(docs, zones, res=12, strategy=strategy)
            assert {r["doc_id"] for r in out.collect()} == {"inside"}, strategy


class TestSpatialJoin:
    @pytest.fixture(scope="class")
    def zones(self, spark):
        return zones_table(spark, grid=4)

    def _brute_truth(self, spark, zones, docs_pd):
        _, ring_map = prepare_zones(zones, 12)
        lon = docs_pd["lon"].to_numpy()
        lat = docs_pd["lat"].to_numpy()
        truth = set()
        for z, rings in ring_map.items():
            m = geom_k.points_in_polygon(lon, lat, rings)
            for did in docs_pd["doc_id"].to_numpy()[m]:
                truth.add((did, z))
        return truth

    def test_broadcast_matches_brute_force(self, spark, decoded, zones, docs_pd):
        out = spatial_join.spatial_join(decoded, zones, res=12, strategy="broadcast")
        got = {(r["doc_id"], r["zone_id"]) for r in out.select("doc_id", "zone_id").collect()}
        assert got == self._brute_truth(spark, zones, docs_pd)

    def test_shuffle_salted_same_rows(self, spark, decoded, zones):
        """The executor zone side joined on cell_id alone (the hot-cell
        salting it once had is gone) gives the broadcast rows."""
        bc = spatial_join.spatial_join(decoded, zones, res=12, strategy="broadcast")
        sh = spatial_join.spatial_join(decoded, zones, res=12, strategy="shuffle")
        a = {(r["doc_id"], r["zone_id"]) for r in bc.select("doc_id", "zone_id").collect()}
        b = {(r["doc_id"], r["zone_id"]) for r in sh.select("doc_id", "zone_id").collect()}
        assert a == b

    def test_salted_shuffle_no_point_docs_keep_cold_matches(self, spark, docs, decoded, zones,
                                                            no_broadcast):
        """Docs without a point all share cell id -1; enough of them make it
        a hot cell, which AQE's skew-join split divides (its bounds
        lowered to this test's kilobytes), and the matches in the cold
        cells must survive that."""
        no_point = tile_assign(decode_geo_spans(
            spark.createDataFrame([(f"no-point-{i}", []) for i in range(1000)], docs.schema)
        ), 12)
        bc = spatial_join.spatial_join(decoded, zones, res=12, strategy="broadcast")
        skew = {"spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"}
        prev = {k: spark.conf.get(k) for k in skew}
        for k, v in skew.items():
            spark.conf.set(k, v)
        try:
            sh = spatial_join.spatial_join(
                decoded.unionByName(no_point), zones, res=12, strategy="shuffle"
            ).select("doc_id", "zone_id")
            b = {(r["doc_id"], r["zone_id"]) for r in sh.collect()}
            final = sh._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
        a = {(r["doc_id"], r["zone_id"]) for r in bc.select("doc_id", "zone_id").collect()}
        assert a and a == b
        assert "isFinalPlan=true" in final and "SortMergeJoin(skew=true)" in final, final

    def test_disjoint_is_complement(self, spark, decoded, zones):
        inter = spatial_join.spatial_join(decoded, zones, res=12)
        dis = spatial_join.spatial_join(decoded, zones, res=12, predicate="disjoint")
        n_matched = inter.select("doc_id").distinct().count()
        assert dis.count() == N_DOCS - n_matched

    def test_spans_survive_join(self, docs, decoded, zones):
        out = spatial_join.spatial_join(decoded, zones, res=12).select("doc_id", "spans").dropDuplicates(["doc_id"])
        joined_ids = [r["doc_id"] for r in out.select("doc_id").collect()]
        subset_before = docs.where(F.col("doc_id").isin(joined_ids[:50]))
        subset_after = out.where(F.col("doc_id").isin(joined_ids[:50]))
        assert_spans_preserved(subset_before, subset_after)


class TestDWithinKnn:
    @pytest.fixture(scope="class")
    def pois(self, spark):
        return pois_table(spark, n_random=32).cache()

    def test_dwithin_matches_brute(self, spark, decoded, pois, docs_pd):
        d_m = 3000.0
        out = dwithin_join(decoded.limit(500), pois, d_m)
        got = {(r["doc_id"], r["poi_id"]) for r in out.select("doc_id", "poi_id").collect()}
        pp = pois.toPandas()
        sub = decoded.limit(500).select("doc_id", "lon", "lat").toPandas()
        truth = set()
        for _, p in pp.iterrows():
            d = geodesic.inverse(sub["lat"].to_numpy(), sub["lon"].to_numpy(),
                                 np.full(len(sub), p["y"]), np.full(len(sub), p["x"]))
            for did in sub["doc_id"].to_numpy()[d < d_m]:
                truth.add((did, p["poi_id"]))
        assert got == truth

    def test_knn_matches_brute(self, spark, decoded, pois):
        k = 3
        sub = decoded.limit(200)
        out = knn.knn_join(sub, pois, k=k)
        got = {}
        for r in out.select("doc_id", "poi_id", "rank").collect():
            got.setdefault(r["doc_id"], []).append((r["rank"], r["poi_id"]))
        pp = pois.toPandas()
        sp = sub.select("doc_id", "lon", "lat").toPandas()
        for _, row in sp.iterrows():
            d = geodesic.inverse(np.full(len(pp), row["lat"]), np.full(len(pp), row["lon"]),
                                 pp["y"].to_numpy(), pp["x"].to_numpy())
            order = sorted(zip(d, pp["poi_id"]))[:k]
            expect = [pid for _, pid in order]
            gotlist = [pid for _, pid in sorted(got[row["doc_id"]])]
            assert gotlist == expect, row["doc_id"]

    def test_knn_fallback_side_flip_identical(self, spark, decoded, pois, monkeypatch):
        """r5: past FALLBACK_BROADCAST_LIMIT pois the exact fallback
        broadcasts the unresolved-doc RESIDUE and streams the poi table;
        the row set must be identical to the poi-broadcast path (limit=0
        forces the flipped side on the same data)."""
        sub = decoded.limit(150)
        key = lambda df: sorted(  # noqa: E731
            (r["doc_id"], r["rank"], r["poi_id"])
            for r in df.select("doc_id", "rank", "poi_id").collect()
        )
        a = key(knn.knn_join(sub, pois, k=3, strategy="cellring"))
        monkeypatch.setattr(knn, "FALLBACK_BROADCAST_LIMIT", 0)
        b = key(knn.knn_join(sub, pois, k=3, strategy="cellring"))
        assert a == b


class TestZonal:
    def test_zonal_pairs_match_brute(self, spark):
        tiles = raster_tiles_table(spark, grid=8)
        zones = zones_table(spark, grid=2)
        out = zonal.zonal_join(tiles, zones, res=8)
        got = {(r["tile_id"], r["zone_id"]) for r in out.select("tile_id", "zone_id").collect()}
        _, ring_map = prepare_zones(zones, 8)
        tp = tiles.toPandas()
        truth = set()
        for _, t in tp.iterrows():
            env_ring = geom_k.envelope_as_polygon(t["xmin"], t["ymin"], t["xmax"], t["ymax"])
            for z, rings in ring_map.items():
                if geom_k.polygons_intersect([env_ring], rings):
                    truth.add((t["tile_id"], z))
        assert got == truth

    def test_zonal_shuffle_strategy_same_rows(self, spark, request):
        """The executor zone side (no broadcast hint — the 10^6-zone plan),
        sized so by Spark's broadcast bound at -1, must return the
        identical pair set."""
        tiles = raster_tiles_table(spark, grid=8)
        zones = zones_table(spark, grid=2)
        key = lambda df: sorted((r["tile_id"], r["zone_id"]) for r in df.select("tile_id", "zone_id").collect())  # noqa: E731
        b = key(zonal.zonal_join(tiles, zones, res=8))
        request.getfixturevalue("no_broadcast")
        s = zonal.zonal_join(tiles, zones, res=8)
        assert "BroadcastHashJoin" not in plans.formatted_plan(s)
        assert b == key(s)
        with pytest.raises(ValueError, match="strategy"):
            pts = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
            spatial_join.spatial_join(pts, zones, res=8, strategy="broadcst")

    def test_zonal_stats_schema(self, spark):
        tiles = raster_tiles_table(spark, grid=4)
        zones = zones_table(spark, grid=2)
        st = zonal.zonal_stats(tiles, zones, res=8)
        assert {"zone_id", "n_tiles", "sum_value", "avg_value", "min_value", "max_value"} <= set(st.columns)
        assert st.count() > 0


class TestEnvelopeOps:
    def test_envelope_agg_global(self, spark, decoded):
        env = envelope.envelope_agg(decoded).first()
        assert env["xmin"] >= -123.51 and env["xmax"] <= -122.49

    def test_antipode_and_kvp(self, spark):
        df = spark.createDataFrame(
            [(-116.0, 32.6, -115.0, 34.0)], "xmin double, ymin double, xmax double, ymax double"
        )
        kvp = envelope.with_envelope_kvp(df).first()["kvp"]
        assert kvp == "-116.0,32.6,-115.0,34.0"
        anti = envelope.with_antipodal_envelope(df).first()
        assert anti["anti_ymin"] == -34.0 and anti["anti_ymax"] == -32.6

    def test_gml_round_down(self, spark):
        df = spark.createDataFrame([(1.239, -1.239, 2.555, -2.555)],
                                   "xmin double, ymin double, xmax double, ymax double")
        r = envelope.with_envelope_gml_corners(df).first()
        assert r["lower_corner"] == "1.23 -1.23"
        assert r["upper_corner"] == "2.55 -2.55"


class TestTemporalOps:
    def test_interval_join_during(self, spark):
        left = spark.createDataFrame(
            [("i1", "2015-12-03 10:15:30", None)], "id string, begin string, end string"
        ).select("id", F.to_timestamp("begin").alias("begin"), F.to_timestamp("end").alias("end"))
        right = spark.createDataFrame(
            [("p1", "2015-02-03 10:15:30", "2016-05-03 10:15:30"),
             ("p2", "2016-01-01 00:00:00", "2016-02-01 00:00:00")],
            "id string, begin string, end string",
        ).select("id", F.to_timestamp("begin").alias("begin"), F.to_timestamp("end").alias("end"))
        out = temporal.interval_join(left, right, "During")
        assert [r["id_r"] for r in out.collect()] == ["p1"]

    def test_extent_pad(self, spark):
        df = spark.createDataFrame(
            [("a", "2015-07-03 10:15:30", "2015-11-03 10:15:30"),
             ("b", "2015-12-03 10:15:30", None)],
            "id string, begin string, end string",
        ).select("id", F.to_timestamp("begin").alias("begin"), F.to_timestamp("end").alias("end"))
        r = temporal.temporal_extent(df).first()
        assert str(r["extent_begin"]) == "2015-07-03 09:15:30"
        assert str(r["extent_end"]) == "2015-12-03 11:15:30"

    def test_split_interval_meets(self, spark):
        df = spark.createDataFrame(
            [("p", "2015-11-03 10:15:30", "2016-01-03 10:15:30")],
            "id string, begin string, end string",
        ).select("id", F.to_timestamp("begin").alias("begin"), F.to_timestamp("end").alias("end"))
        rows = temporal.split_interval(df, 2).orderBy("sub_index").collect()
        assert len(rows) == 2
        assert rows[0]["sub_end"] == rows[1]["sub_begin"]
        assert str(rows[0]["sub_begin"]) == "2015-11-03 10:15:30"
        assert str(rows[1]["sub_end"]) == "2016-01-03 10:15:30"


class TestDedupText:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
            (2, "the quick brown fox jumps over a lazy dog"),     # near dup
            (3, "el rapido zorro marron salta sobre el perro"),
            (4, "completely different content about spark shuffles"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_dedup(self, corpus):
        kept = dedup.exact_dedup(corpus)
        assert kept.count() == 4
        assert kept.where(F.col("doc_id") == 1).count() == 0

    def test_ngram_jaccard_finds_near_dup(self, corpus):
        pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.3)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (0, 1) in got and (0, 2) in got and (1, 2) in got
        assert not any(3 in p or 4 in p for p in got)

    def test_ngram_jaccard_prefix_filter_exact(self, spark):
        """The ppjoin prefix + length + positional prunes are necessary-
        condition filters only: filtered and unfiltered paths must return
        the IDENTICAL row set, including a pair sitting exactly on the
        length-ratio boundary (min/max == t with J == t)."""
        rows = [(i, " ".join(f"w{j}" for j in range(i % 7 + 3)) +
                 (" extra tail tokens here" if i % 3 == 0 else ""))
                for i in range(40)]
        # planted boundary pair: 4 vs 2 shingles, inter=2 -> J = 0.5 = t
        rows += [(100, "a1 a2 a3 a4 a5 a6"), (101, "a1 a2 a3 a4")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        on = dedup.ngram_jaccard_pairs(df, threshold=0.5, prefix_filter=True)
        off = dedup.ngram_jaccard_pairs(df, threshold=0.5, prefix_filter=False)
        got_on = sorted(map(tuple, on.collect()))
        got_off = sorted(map(tuple, off.collect()))
        assert got_on == got_off
        assert (100, 101, 0.5) in [(a, b, round(j, 9)) for a, b, j in got_on]

    def test_minhash_lsh_candidates(self, corpus):
        pairs = dedup.minhash_lsh_pairs(corpus, n_hashes=16, bands=8)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (0, 1) in got  # identical docs always collide

    def test_simhash_near_dups(self, corpus):
        pairs = dedup.simhash_near_dups(corpus, max_hamming=10)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (0, 1) in got

    def test_text_features(self, corpus):
        out = text.with_lang_id(text.with_quality_score(text.with_token_counts(corpus)))
        r = {row["doc_id"]: row for row in out.collect()}
        assert r[0]["n_tokens_ws"] == 9
        assert r[0]["lang_pred"] == "en"
        assert r[3]["lang_pred"] == "es"
        assert 0.0 <= r[0]["quality_score"] <= 1.0

    def test_fingerprint_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(0, "a b c"), (1, "c b a")], "doc_id long, text string"
        )
        fps = [r["fingerprint"] for r in text.with_fingerprint(df).orderBy("doc_id").collect()]
        assert fps[0] != fps[1]


class TestSimilarity:
    def test_brute_topk_matches_numpy(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(300).cache()
        queries = emb.limit(3).select(F.col("vec_id").alias("q_id"), "embedding")
        out = similarity.brute_topk(emb, queries, k=4)
        got = {}
        for r in out.collect():
            got.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"]))
        ep = emb.toPandas()
        mat = np.vstack(ep["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        for q_idx in range(3):
            cos = mat @ mat[q_idx] / (norms * norms[q_idx])
            order = sorted(zip(-cos, ep["vec_id"]))[:4]
            expect = [vid for _, vid in order]
            gotlist = [vid for _, vid in sorted(got[ep['vec_id'][q_idx]])]
            assert gotlist == expect

    def test_quantize_int8_bounds(self, spark):
        """|q_i| <= 127 and dequantized error <= 0.5/scale per lane."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
        q = similarity.quantize_int8(emb).select("embedding", "qvec").collect()
        for r in q:
            v = np.array(r["embedding"], dtype=np.float64)
            qv = np.array(r["qvec"], dtype=np.float64)
            assert np.abs(qv).max() <= 127
            scale = 127.0 / np.abs(v).max()
            assert np.abs(qv - v * scale).max() <= 0.5 + 1e-9

    def test_ann_int8_full_pool_equals_brute(self, spark):
        """With one IVF cell and pool >= corpus size the int8 path MUST
        equal brute-force exactly (the rerank is the exact cosine over
        all rows)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200).cache()
        queries = emb.limit(3).select(F.col("vec_id").alias("q_id"), "embedding")
        a = similarity.ann_topk_ivf_int8(emb, queries, k=4, pool=200, n_centroids=1, nprobe=1)
        b = similarity.brute_topk(emb, queries, k=4)
        key = lambda df: sorted((r["q_id"], r["rank"], r["vec_id"]) for r in df.collect())  # noqa: E731
        assert key(a) == key(b)

    def test_ann_int8_small_pool_recall(self, spark):
        """Even with a small pool the quantized coarse pass keeps recall
        high on weak random neighbors (planted fixtures make it exact)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(300).cache()
        queries = emb.limit(4).select(F.col("vec_id").alias("q_id"), "embedding")
        a = {(r["q_id"], r["vec_id"]) for r in similarity.ann_topk_ivf_int8(
            emb, queries, k=4, pool=30, n_centroids=1, nprobe=1).collect()}
        b = {(r["q_id"], r["vec_id"]) for r in similarity.brute_topk(emb, queries, k=4).collect()}
        recall = len(a & b) / len(b)
        assert recall >= 0.9, recall

    def test_ann_lsh_recall(self, spark):
        """Multi-table LSH recall vs brute force — ≥0.9 on the driver
        embeddings (weak-cosine neighbors, the hard regime)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
        queries = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        exact = similarity.brute_topk(emb, queries, k=5)
        approx = similarity.ann_topk(emb, queries, k=5, planes_per_table=4, n_tables=24)
        e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
        a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        print(f"ann_lsh recall: {recall:.3f}")
        assert recall >= 0.9

    def test_ann_ivf_recall_and_candidates(self, spark):
        """IVF probes nprobe/n_centroids of the corpus; recall must beat
        the candidate fraction by a wide margin (it's reading structure,
        not luck)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
        queries = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        exact = similarity.brute_topk(emb, queries, k=5)
        cents = similarity.learn_centroids(emb, n_centroids=32)
        approx = similarity.ann_topk_ivf(
            emb, queries, k=5, n_centroids=32, nprobe=8, centroids=cents
        )
        e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
        a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        print(f"ann_ivf recall: {recall:.3f} (candidate fraction ~{8/32:.2f})")
        assert recall >= 0.6
        # scan fraction: corpus rows landing in probed cells stays bounded
        corpus = similarity.with_ivf_cell(emb, cents, nprobe=1)
        per_cell = corpus.select(F.element_at("cells", 1).alias("c")).groupBy("c").count()
        biggest8 = sum(
            r["count"] for r in per_cell.orderBy(F.col("count").desc()).limit(8).collect()
        )
        assert biggest8 < emb.count() * 0.8

    def test_ann_pq_recall(self, spark):
        """PQ/ADC coarse scan (64x-compressed codes) + exact rerank:
        with pool=50 over a 500-row corpus the ADC pool must retain the
        true top-5 almost everywhere even in the weak-cosine regime."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
        queries = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        exact = similarity.brute_topk(emb, queries, k=5)
        approx = similarity.ann_topk_ivf_pq(emb, queries, k=5, pool=50, m=8, n_codes=64,
                                            n_centroids=1, nprobe=1)
        e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
        a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        print(f"ann_pq recall: {recall:.3f}")
        assert recall >= 0.85
        # rerank exactness: for every query whose ADC pool retained the
        # FULL true top-5, the approximate ranks must equal the exact
        # ranks (a pool miss shifts every rank below it, so partial
        # queries prove nothing about the rerank)
        er = {(r["q_id"], r["vec_id"]): r["rank"] for r in exact.collect()}
        ar = {(r["q_id"], r["vec_id"]): r["rank"] for r in approx.collect()}
        full = [q for q in {k[0] for k in er}
                if all(k in ar for k in er if k[0] == q)]
        assert full, "no query fully recalled — rerank exactness unprovable"
        assert all(er[k] == ar[k] for k in er if k[0] in full)

    def test_zero_norm_embedding_ranks_last(self, spark):
        """An all-zero corpus vector has no cosine: every ANN path scores
        it −2.0 (never NaN, which Spark orders greatest) and ranks it
        below every real neighbor (the _safe_cos guard)."""
        rng = np.random.default_rng(7)
        rows = [(i, rng.standard_normal(64).tolist()) for i in range(40)]
        zero_id = len(rows)
        rows.append((zero_id, [0.0] * 64))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        k = len(rows)
        assert np.isfinite(similarity.learn_centroids(emb, n_centroids=4)).all()
        outs = {
            "ann_topk": similarity.ann_topk(emb, queries, k=k, planes_per_table=2),
            "ann_topk_ivf_int8": similarity.ann_topk_ivf_int8(
                emb, queries, k=k, pool=k, n_centroids=1, nprobe=1),
            "ann_topk_ivf": similarity.ann_topk_ivf(emb, queries, k=k, n_centroids=4, nprobe=4),
        }
        for name, df in outs.items():
            got = df.collect()
            assert not any(np.isnan(r["cosine"]) for r in got), name
            zero = [r for r in got if r["vec_id"] == zero_id]
            assert zero, f"{name}: the zero row never reached a top-k"
            for z in zero:
                assert z["cosine"] == -2.0, name
                last = max(r["rank"] for r in got if r["q_id"] == z["q_id"])
                assert z["rank"] == last, name


class TestBeyond:
    def test_beyond_is_complement_of_dwithin(self, spark):
        from geomatics_geotk_spark.operators.spatial_join import (
            beyond_join,
            decode_geo_spans,
            dwithin_join,
        )
        from geomatics_geotk_spark.sources.documents import pois_table, synth_documents

        docs = decode_geo_spans(synth_documents(spark, 800))
        pois = pois_table(spark, n_random=8)
        near_ids = {
            r["doc_id"]
            for r in dwithin_join(docs, pois, 8000.0).select("doc_id").collect()
        }
        beyond_ids = {
            r["doc_id"] for r in beyond_join(docs, pois, 8000.0).select("doc_id").collect()
        }
        all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
        assert beyond_ids == all_ids - near_ids


class TestSimilarityR5:
    """Round-5 scale/recall contracts: salted two-phase top-k exactness
    and the adversarial (rotated, non-direction-identical) near-dup
    fixture."""

    @pytest.mark.parametrize("shape", ["score_desc", "two_col_asc"])
    def test_topk_salt_invariance(self, spark, shape):
        """stats.salted_topk is EXACT for any salts >= 1 and equals one
        unsalted window: the salt count is a parallelism knob, never a
        semantics knob.  Two order shapes: score desc then long id (ANN,
        IDW, kNN) and ascending over (bucket, string id) with ties in
        the bucket (stratified samples, KMV)."""
        from pyspark.sql import Window

        from geomatics_geotk_spark.operators import stats

        if shape == "score_desc":
            vid = F.col("id")
            score = F.sin(F.col("id").cast("double")) * 100
            order = [F.col("score").desc(), F.col("vec_id").asc()]
        else:
            vid = F.col("id").cast("string")
            score = F.pmod(F.col("id") * 37, F.lit(11))
            order = [F.col("score").asc(), F.col("vec_id").asc()]
        scored = spark.range(500).select(
            (F.col("id") % 7).alias("q_id"), vid.alias("vec_id"), score.alias("score")
        )
        ref = scored.withColumn(
            "rank", F.row_number().over(Window.partitionBy("q_id").orderBy(*order))
        ).where(F.col("rank") <= 5)
        outs = []
        for salts in (1, 4, 16):
            salt = F.pmod(F.xxhash64(F.col("vec_id").cast("string"), F.lit(17)), F.lit(salts))
            outs.append(stats.salted_topk(scored, ["q_id"], order, 5, salt))
        outs.append(ref)
        outs = [sorted(
            (r["q_id"], r["rank"], r["vec_id"], round(r["score"], 9)) for r in df.collect()
        ) for df in outs]
        assert outs[0] == outs[1] == outs[2] == outs[3]
        assert len(outs[0]) == 35  # 7 queries x top-5

    def test_ann_ivf_int8_full_probe_equals_brute(self, spark):
        """nprobe = n_centroids + pool >= corpus: the composed path MUST
        equal brute-force exactly (nothing is pruned)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200).cache()
        queries = emb.limit(3).select(F.col("vec_id").alias("q_id"), "embedding")
        cents = similarity.learn_centroids(emb, n_centroids=8)
        a = similarity.ann_topk_ivf_int8(
            emb, queries, k=4, pool=200, n_centroids=8, nprobe=8, centroids=cents
        )
        b = similarity.brute_topk(emb, queries, k=4)
        key = lambda df: sorted((r["q_id"], r["rank"], r["vec_id"]) for r in df.collect())  # noqa: E731
        assert key(a) == key(b)

    def test_ann_ivf_int8_pruned_recall(self, spark):
        """With real pruning (nprobe/n_centroids = 1/4 of cells, small
        pool) the composition still beats the candidate fraction by a
        wide margin on weak random neighbors."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
        queries = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        cents = similarity.learn_centroids(emb, n_centroids=32)
        a = {(r["q_id"], r["vec_id"]) for r in similarity.ann_topk_ivf_int8(
            emb, queries, k=5, pool=30, n_centroids=32, nprobe=8, centroids=cents
        ).collect()}
        e = {(r["q_id"], r["vec_id"]) for r in similarity.brute_topk(emb, queries, k=5).collect()}
        recall = len(e & a) / len(e)
        print(f"ann_ivf_int8 recall: {recall:.3f}")
        assert recall >= 0.6

    def test_embedding_neardups_adversarial_recall(self, spark):
        """On the rotated cos-0.98 fixture the multi-table OR-amplified
        join finds every planted pair."""
        from geomatics_geotk_spark import queries as q

        aug = q._neardup_fixture(spark, "/root/testdata/sf0.001").cache()
        expected = {
            (r["vec_id"], r["vec_id"] + 1_000_000)
            for r in aug.where((F.col("vec_id") % 40 == 0) & (F.col("vec_id") < 1_000_000))
            .select("vec_id").collect()
        }
        assert expected
        got = {
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_near_dups(
                aug, threshold=0.95, dim=64, planes_per_table=12, n_tables=16
            ).collect()
        }
        assert expected <= got, sorted(expected - got)

    def test_semantic_dedup_cluster_blocked_exactness(self, spark):
        """The SemDeDup contract, both directions: semantic_dedup emits
        EXACTLY the same-final-cluster subset of the brute-force pair set
        (precision exact, recall bounded by the clustering) — verified
        against an independent numpy all-pairs brute force and a separate
        kmeans assignment call."""
        import numpy as np

        from geomatics_geotk_spark import queries as q
        from geomatics_geotk_spark.operators import clustering

        aug = q._neardup_fixture(spark, "/root/testdata/sf0.001").localCheckpoint(
            eager=False
        )
        got = {
            (r["cluster"], r["id_a"], r["id_b"])
            for r in similarity.semantic_dedup(
                aug, k=4, iters=3, threshold=0.95
            ).collect()
        }
        # independent brute force: numpy all-pairs cosine over the fixture
        rows = aug.collect()
        ids = np.array([r["vec_id"] for r in rows])
        m = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ m.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= 0.95
        brute = {
            (int(min(a, b)), int(max(a, b)))
            for a, b in zip(ids[iu[keep]], ids[ju[keep]])
        }
        assert brute, "fixture planted no >=0.95 pairs"
        # independent cluster assignment (same deterministic kmeans)
        assigned, _ = clustering.kmeans(aug, k=4, iters=3)
        cl = {
            r["vec_id"]: r["cluster"]
            for r in assigned.select("vec_id", "cluster").collect()
        }
        expected = {
            (cl[a], a, b) for a, b in brute if cl[a] == cl[b]
        }
        assert got == expected


class TestGroupQuantiles:
    def test_exact_matches_numpy_linear_interpolation(self, spark):
        import numpy as np
        from geomatics_geotk_spark.operators import stats

        vals = [float(v) for v in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]]
        df = spark.createDataFrame(
            [("g", v) for v in vals], "grp string, x double"
        )
        row = stats.group_quantiles(df, "grp", "x", probs=(0.25, 0.5, 0.9)).collect()[0]
        exp = np.percentile(vals, [25, 50, 90])  # default linear = pos p*(n-1)
        assert row["n"] == len(vals)
        for got, want in zip((row["p25"], row["p50"], row["p90"]), exp):
            assert abs(got - want) < 1e-9, (got, want)

    def test_approx_sketch_within_rank_error_bound(self, spark):
        """percentile_approx (GK sketch, the 100 TB path) must land
        within the modeled rank error n/accuracy of the exact value on
        10,000 distinct values."""
        from geomatics_geotk_spark.operators import stats

        df = spark.range(10_000).select(
            F.lit("g").alias("grp"), F.col("id").cast("double").alias("x")
        )
        exact = stats.group_quantiles(df, "grp", "x").collect()[0]
        approx = stats.group_quantiles(df, "grp", "x", exact=False,
                                       accuracy=10_000).collect()[0]
        for c in ("p50", "p90", "p99"):
            assert abs(approx[c] - exact[c]) <= 2.0, (c, approx[c], exact[c])

    def test_property_matches_numpy_on_random_groups(self, spark):
        """Seeded-random property check (one Spark pass over all cases):
        per-group exact quantiles equal numpy's linear interpolation for
        arbitrary group sizes incl. n=1, duplicates, negatives."""
        import random

        import numpy as np
        from geomatics_geotk_spark.operators import stats

        rng = random.Random(42)
        rows, expect = [], {}
        for g in range(12):
            n = rng.choice([1, 2, 3, 7, 40, 101])
            vals = [round(rng.uniform(-1000, 1000), 3) for _ in range(n)]
            if rng.random() < 0.5:  # duplicate-heavy groups
                vals = [rng.choice(vals) for _ in range(n)]
            rows += [(f"g{g}", v) for v in vals]
            expect[f"g{g}"] = np.percentile(vals, [50, 90, 99])
        df = spark.createDataFrame(rows, "grp string, x double")
        got = {
            r["grp"]: (r["p50"], r["p90"], r["p99"])
            for r in stats.group_quantiles(df, "grp", "x").collect()
        }
        assert set(got) == set(expect)
        for g, exp in expect.items():
            for a, b in zip(got[g], exp):
                assert abs(a - b) < 1e-9, (g, got[g], exp)


def _lev(a, b):
    m = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(len(a) + 1):
        m[i][0] = i
    for j in range(len(b) + 1):
        m[0][j] = j
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            m[i][j] = min(
                m[i - 1][j] + 1, m[i][j - 1] + 1,
                m[i - 1][j - 1] + (a[i - 1] != b[j - 1]),
            )
    return m[len(a)][len(b)]


class TestFuzzyEditJoin:
    """Edit-distance self-join: EXACT equality with a brute-force
    reference on a fixture containing substitution, insertion, AND
    deletion edits, on BOTH blocking paths (d=1 symmetric-delete
    neighborhoods; d=2 ED-Join rarest-gram prefix filter)."""

    NAMES = [
        "alpha-node-017", "alpha-node-018",   # substitution (dist 1)
        "alpha-node-0170",                    # insertion vs 017
        "alpha-node-17",                      # deletion vs 017... dist 1
        "beta-node-017",                      # dist >1 from alpha family
        "gamma-rod", "gamma-rods", "gamma-rd",
        "zz",                                 # shorter than q (gram path)
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, n) for i, n in enumerate(self.NAMES)], "id long, name string"
        )

    def test_delete_path_matches_bruteforce(self, spark):
        """d=1 takes the symmetric-delete path — complete for ALL
        non-empty strings, including ones below the gram length."""
        names = self.NAMES
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.fuzzy_edit_join(self._df(spark), "id", "name", d=1).collect()
        }
        want = {
            (i, j, _lev(names[i], names[j]))
            for i in range(len(names)) for j in range(i + 1, len(names))
            if _lev(names[i], names[j]) <= 1
        }
        assert got == want and len(want) >= 4

    def test_gram_path_matches_bruteforce(self, spark):
        """d=2 takes the rarest-gram prefix path; strings shorter than
        q are excluded by its documented contract."""
        names = self.NAMES
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.fuzzy_edit_join(
                self._df(spark), "id", "name", d=2, q=3
            ).collect()
        }
        want = {
            (i, j, _lev(names[i], names[j]))
            for i in range(len(names)) for j in range(i + 1, len(names))
            if _lev(names[i], names[j]) <= 2
            and len(names[i]) >= 3 and len(names[j]) >= 3
        }
        assert got == want and len(want) > len(
            {w for w in want if w[2] <= 1}
        )  # d=2 admits strictly more than d=1

    def test_invalid_params_rejected(self, spark):
        df = spark.createDataFrame([(1, "abcdef")], "id long, name string")
        with pytest.raises(ValueError):
            dedup.fuzzy_edit_join(df, "id", "name", d=-1)
        with pytest.raises(ValueError):
            dedup.fuzzy_edit_join(df, "id", "name", d=2, q=0)


class TestSkyline:
    """2-D skyline semantics: equals the NOT EXISTS brute force on a
    fixture with dominated points, frontier ties, and exact duplicates,
    at any parallelism (local-prune/global-prune decomposition)."""

    POINTS = [
        (0, 1.0, 5.0), (1, 2.0, 3.0), (2, 3.0, 1.0),   # the frontier
        (3, 2.0, 3.0),                                   # duplicate of 1: survives
        (4, 2.0, 4.0), (5, 3.0, 3.0), (6, 9.0, 9.0),    # dominated
        (7, 1.0, 6.0),                                   # dominated by 0
    ]

    @pytest.mark.parametrize("partitions", [1, 3, 8])
    def test_matches_bruteforce(self, spark, partitions):
        from geomatics_geotk_spark.operators import stats
        df = spark.createDataFrame(
            self.POINTS, "id long, x double, y double"
        ).repartition(partitions)
        got = {r["id"] for r in stats.skyline2(df, "x", "y").collect()}
        pts = self.POINTS
        want = {
            i for (i, x, y) in pts
            if not any(
                qx <= x and qy <= y and (qx < x or qy < y)
                for (j, qx, qy) in pts if j != i
            )
        }
        assert got == want == {0, 1, 2, 3}


class TestMoransI:
    """Global Moran's I: sign and value match a numpy reference on
    constructed lattices (checkerboard -> strongly negative, split
    halves -> positive), and the BIGINT headroom guard trips."""

    def _numpy_moran(self, cells):
        import numpy as np
        xs = np.array([v for (_, _, v) in cells], dtype=np.float64)
        n = len(cells)
        z = xs - xs.mean()
        num = 0.0
        w = 0
        for i, (cxi, cyi, _) in enumerate(cells):
            for j, (cxj, cyj, _) in enumerate(cells):
                if i != j and abs(cxi - cxj) <= 1 and abs(cyi - cyj) <= 1:
                    num += z[i] * z[j]
                    w += 1
        return (n / w) * num / (z @ z)

    def _run(self, spark, cells):
        from geomatics_geotk_spark.operators import stats
        df = spark.createDataFrame(cells, "cx long, cy long, n long")
        return stats.morans_i(df, "cx", "cy", "n").first()

    def test_checkerboard_negative(self, spark):
        cells = [(i, j, 10 if (i + j) % 2 == 0 else 1)
                 for i in range(4) for j in range(4)]
        got = self._run(spark, cells)
        want = self._numpy_moran(cells)
        # queen contiguity: diagonal same-color neighbors soften the
        # checkerboard to mildly negative (rook would be strongly so);
        # still clearly below the E[I] = -1/(n-1) = -0.0667 random line
        assert got["moran_i"] < -0.1
        assert abs(got["moran_i"] - want) < 1e-9

    def test_split_positive(self, spark):
        cells = [(i, j, 10 if i < 2 else 1)
                 for i in range(4) for j in range(4)]
        got = self._run(spark, cells)
        want = self._numpy_moran(cells)
        assert got["moran_i"] > 0.3
        assert abs(got["moran_i"] - want) < 1e-9

    def test_overflow_guard_trips(self, spark):
        from geomatics_geotk_spark.operators import stats
        cells = [(0, 0, 4_000_000_000), (0, 1, 1)]
        df = spark.createDataFrame(cells, "cx long, cy long, n long")
        with pytest.raises(Exception, match="headroom"):
            stats.morans_i(df, "cx", "cy", "n").collect()


class TestGetisOrdGi:
    """Per-cell Gi*: values match a float numpy reference on a planted
    hotspot lattice, the hot core ranks highest, and the headroom
    guard trips (same bound as morans_i)."""

    def _numpy_gi(self, cells):
        import numpy as np
        xs = np.array([v for (_, _, v) in cells], dtype=np.float64)
        n = len(cells)
        xbar = xs.mean()
        s = np.sqrt((xs * xs).mean() - xbar * xbar)
        out = {}
        for i, (cxi, cyi, _) in enumerate(cells):
            w = np.array([
                1.0 if abs(cxi - cxj) <= 1 and abs(cyi - cyj) <= 1 else 0.0
                for (cxj, cyj, _) in cells
            ])
            k = w.sum()
            out[(cxi, cyi)] = (w @ xs - xbar * k) / (
                s * np.sqrt((n * k - k * k) / (n - 1))
            )
        return out

    def test_matches_numpy_and_ranks_core_hot(self, spark):
        from geomatics_geotk_spark.operators import stats
        # 5x5 lattice, planted 2x2 hot block in one corner
        cells = [
            (i, j, 50 if (i <= 1 and j <= 1) else 2)
            for i in range(5) for j in range(5)
        ]
        df = spark.createDataFrame(cells, "cx long, cy long, n long")
        got = {(r["cx"], r["cy"]): r["gi"]
               for r in stats.getis_ord_gi(df, "cx", "cy", "n").collect()}
        want = self._numpy_gi(cells)
        assert set(got) == set(want)
        for key in want:
            assert abs(got[key] - want[key]) < 1e-9, key
        hottest = max(got, key=got.get)
        assert hottest in {(0, 0), (0, 1), (1, 0), (1, 1)}
        assert got[(4, 4)] < 0  # far corner sits in a cold neighborhood

    def test_overflow_guard_trips(self, spark):
        import pytest as _pytest
        from geomatics_geotk_spark.operators import stats
        cells = [(0, 0, 4_000_000_000), (0, 1, 1)]
        df = spark.createDataFrame(cells, "cx long, cy long, n long")
        # out-of-headroom values fail LOUDLY either via the explicit
        # assert or via ANSI overflow on the Σx² moment (whichever the
        # plan evaluates first) — never a silent wrong answer
        with _pytest.raises(Exception, match="headroom|ARITHMETIC_OVERFLOW"):
            stats.getis_ord_gi(df, "cx", "cy", "n").collect()


class TestRollingZscore:
    """Keyed rolling z-score: values match a sequential numpy reference,
    short-baseline and zero-variance rows are dropped, and the current
    row never dilutes its own baseline."""

    def test_matches_numpy_reference(self, spark):
        import numpy as np
        from geomatics_geotk_spark.operators import stats
        rng = np.random.RandomState(7)
        rows = [("k%d" % k, t, int(v))
                for k in range(3)
                for t, v in enumerate(rng.randint(1, 20, size=40))]
        df = spark.createDataFrame(rows, "key string, t long, n long")
        got = {(r["key"], r["t"]): r
               for r in stats.rolling_zscore(
                   df, ["key"], "t", "n", trailing=10, min_obs=5).collect()}
        by_key = {}
        for k, t, v in rows:
            by_key.setdefault(k, []).append((t, v))
        want = {}
        for k, series in by_key.items():
            series.sort()
            vals = [v for _, v in series]
            for i, (t, v) in enumerate(series):
                base = vals[max(0, i - 10):i]
                m = len(base)
                if m < 5:
                    continue
                s1, s2 = sum(base), sum(b * b for b in base)
                den = m * s2 - s1 * s1
                if den <= 0:
                    continue
                want[(k, t)] = (v * m - s1) / (den ** 0.5)
        assert set(got) == set(want)
        for key, z in want.items():
            assert abs(got[key]["z"] - z) < 1e-12, key

    def test_spike_excluded_from_its_own_baseline(self, spark):
        from geomatics_geotk_spark.operators import stats
        # flat series of 5s, then one spike of 500: the spike's baseline
        # is the flat run (sum 60, zero... variance) — zero variance
        # drops it UNLESS noise exists, so alternate 4/6 for variance
        rows = [("a", t, 4 if t % 2 == 0 else 6) for t in range(12)]
        rows.append(("a", 12, 500))
        df = spark.createDataFrame(rows, "key string, t long, n long")
        out = {r["t"]: r for r in stats.rolling_zscore(
            df, ["key"], "t", "n", trailing=24, min_obs=12).collect()}
        assert list(out) == [12]          # only the spike has a full baseline
        assert out[12]["sum_base"] == 60  # 6*4 + 6*6 — spike not included
        assert out[12]["z"] > 400         # (500-5)/1 against sd 1

    def test_zero_variance_dropped(self, spark):
        from geomatics_geotk_spark.operators import stats
        rows = [("a", t, 7) for t in range(20)]
        df = spark.createDataFrame(rows, "key string, t long, n long")
        assert stats.rolling_zscore(
            df, ["key"], "t", "n", trailing=10, min_obs=5).count() == 0


class TestPmiCollocations:
    """PMI collocations: a planted always-adjacent pair outranks chance
    pairs, the value matches closed-form math.log, and token-array
    filtering preserves adjacency across punctuation runs."""

    def test_planted_pair_wins_and_value_exact(self, spark):
        import math
        from geomatics_geotk_spark.operators import text
        # 20 docs of "red blue" + filler words that also repeat so they
        # pass min_count but pair up randomly
        docs = [("red blue alpha beta",)] * 10 + [("beta alpha red blue",)] * 10
        df = spark.createDataFrame(docs, "text string")
        out = text.pmi_collocations(df, "text", min_count=5, k=10).collect()
        top = out[0]
        assert (top["w1"], top["w2"]) == ("red", "blue")
        # closed form: c=20, c1=c2=20, nu=80, nb=60
        want = round(math.log(20) + 2 * math.log(80)
                     - math.log(20) - math.log(20) - math.log(60), 9)
        assert abs(top["pmi_r"] - want) < 1e-12
        assert top["n_pair"] == 20 and top["n_w1"] == 20 and top["n_w2"] == 20

    def test_adjacency_preserved_across_punctuation(self, spark):
        from geomatics_geotk_spark.operators import text
        docs = [("foo--bar!!",)] * 5
        df = spark.createDataFrame(docs, "text string")
        out = text.pmi_collocations(df, "text", min_count=5, k=10).collect()
        assert [(r["w1"], r["w2"]) for r in out] == [("foo", "bar")]

    def test_min_count_prunes(self, spark):
        from geomatics_geotk_spark.operators import text
        docs = [("one two",)] * 4 + [("three four",)] * 6
        df = spark.createDataFrame(docs, "text string")
        out = text.pmi_collocations(df, "text", min_count=5, k=10).collect()
        assert [(r["w1"], r["w2"]) for r in out] == [("three", "four")]


class TestCooccurrencePairs:
    """Basket affinity: pair counts match brute force, per-basket
    multiplicity collapses to set semantics, pairs are sorted, and
    min_support prunes."""

    def test_counts_match_bruteforce(self, spark):
        from itertools import combinations
        from geomatics_geotk_spark.operators import graph
        baskets = {
            1: [10, 20, 30], 2: [20, 30], 3: [10, 20, 30, 40],
            4: [30, 20], 5: [40, 10], 6: [20, 30, 20],  # dup item in 6
        }
        rows = [(b, i) for b, items in baskets.items() for i in items]
        df = spark.createDataFrame(rows, "basket long, item long")
        got = {(r["item_a"], r["item_b"]): r["n_baskets"]
               for r in graph.cooccurrence_pairs(
                   df, "basket", "item", min_support=1, k=100).collect()}
        want = {}
        for items in baskets.values():
            for a, b in combinations(sorted(set(items)), 2):
                want[(a, b)] = want.get((a, b), 0) + 1
        assert got == want
        assert all(a < b for a, b in got)

    def test_min_support_and_topk_order(self, spark):
        from geomatics_geotk_spark.operators import graph
        rows = [(b, i) for b in range(5) for i in (1, 2)] + [(9, 7), (9, 8)]
        df = spark.createDataFrame(rows, "basket long, item long")
        out = graph.cooccurrence_pairs(
            df, "basket", "item", min_support=2, k=10).collect()
        assert [(r["item_a"], r["item_b"], r["n_baskets"]) for r in out] \
            == [(1, 2, 5)]


class TestQuantileCalibration:
    """Decile calibration: quantile_disc order statistics per group and
    pooled, verified against a sorted-list reference."""

    def test_matches_sorted_reference(self, spark):
        from geomatics_geotk_spark.operators import stats
        ga = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]          # uniform
        gb = [100, 100, 100, 200, 200, 300, 400, 500]  # skewed, ties
        rows = [("a", v) for v in ga] + [("b", v) for v in gb]
        df = spark.createDataFrame(rows, "src string, v long")
        got = {(r["src"], r["decile"]): (r["v_group"], r["v_global"])
               for r in stats.quantile_calibration(df, "src", "v").collect()}

        def qdisc(sorted_vals, d):
            n = len(sorted_vals)
            return sorted_vals[(n * d + 9) // 10 - 1]

        pooled = sorted(ga + gb)
        for name, vals in (("a", sorted(ga)), ("b", sorted(gb))):
            for d in range(1, 10):
                assert got[(name, d)] == (qdisc(vals, d), qdisc(pooled, d)), \
                    (name, d)
        assert len(got) == 18


class TestMannKendall:
    """Mann-Kendall: S/var/z match a brute-force reference with tie
    correction; monotone series hit |S| = C(n,2); constant series z=0."""

    def _reference(self, vals):
        import math
        n = len(vals)
        s = sum((0 if a == b else (1 if b > a else -1))
                for i, a in enumerate(vals) for b in vals[i + 1:])
        from collections import Counter
        tie18 = sum(t * (t - 1) * (2 * t + 5)
                    for t in Counter(vals).values())
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        if s != 0 and var18 > 0:
            z = (s - (1 if s > 0 else -1)) / math.sqrt(var18 / 18.0)
        else:
            z = 0.0
        return n, s, var18, z

    def test_matches_bruteforce(self, spark):
        from geomatics_geotk_spark.operators import stats
        series = {
            "up": [1, 2, 3, 4, 5, 6, 7, 8],          # S = C(8,2) = 28
            "flat": [5, 5, 5, 5, 5],                  # z = 0, var18 = 0
            "noisy": [3, 7, 2, 7, 5, 1, 9, 4, 4, 6],  # ties present
        }
        rows = [(k, t, v) for k, vals in series.items()
                for t, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "key string, t long, v long")
        got = {r["key"]: r for r in stats.mann_kendall(
            df, ["key"], "t", "v").collect()}
        for k, vals in series.items():
            n, s, var18, z = self._reference(vals)
            r = got[k]
            assert (r["n_obs"], r["s_stat"], r["var18"]) == (n, s, var18), k
            assert abs(r["z"] - z) < 1e-12, k
        assert got["up"]["s_stat"] == 28
        assert got["flat"]["z"] == 0.0


class TestGini:
    """Gini: known closed forms — all-equal 0, single-holder (n-1)/n,
    ties invariant under input order, zero-total group reports 0."""

    def test_closed_forms(self, spark):
        from geomatics_geotk_spark.operators import stats
        rows = (
            [("equal", 10)] * 8
            + [("onehot", 0)] * 9 + [("onehot", 100)]
            + [("zeros", 0)] * 4
            + [("half", 0), ("half", 0), ("half", 50), ("half", 50)]
        )
        df = spark.createDataFrame(rows, "grp string, v long")
        got = {r["grp"]: r for r in stats.gini(df, "grp", "v").collect()}
        assert got["equal"]["gini"] == 0.0
        assert abs(got["onehot"]["gini"] - 9 / 10) < 1e-15
        assert got["zeros"]["gini"] == 0.0 and got["zeros"]["total"] == 0
        assert abs(got["half"]["gini"] - 0.5) < 1e-15

    def test_tie_order_invariant(self, spark):
        from geomatics_geotk_spark.operators import stats
        vals = [7, 3, 3, 3, 9, 1, 1]
        a = spark.createDataFrame([("g", v) for v in vals], "grp string, v long")
        b = spark.createDataFrame([("g", v) for v in reversed(vals)],
                                  "grp string, v long")
        ga = stats.gini(a, "grp", "v").collect()[0]["gini"]
        gb = stats.gini(b, "grp", "v").collect()[0]["gini"]
        assert ga == gb


class TestBenfordAudit:
    """Benford audit: digit extraction is string-exact, all nine rows
    always present, deviation matches the closed form."""

    def test_digits_and_devs(self, spark):
        import math
        from geomatics_geotk_spark.operators import stats
        # 100 values with first digit 1, 50 with first digit 9
        rows = [(10 + i % 90,) for i in range(100)]   # 10..99 -> digit 1..9
        rows = [(1000 + i,) for i in range(100)] + [(9000 + i,) for i in range(50)]
        df = spark.createDataFrame(rows, "v long")
        out = {r["digit"]: r for r in stats.benford_audit(df, "v").collect()}
        assert set(out) == set(range(1, 10))
        assert out[1]["n_obs"] == 100 and out[9]["n_obs"] == 50
        assert out[2]["n_obs"] == 0  # zero-obs digits still report
        n, p1 = 150, math.log10(2)
        exp1 = n * p1
        assert abs(out[1]["expected_r"] - round(exp1, 9)) < 1e-12
        assert abs(out[1]["dev_r"]
                   - round((100 - exp1) ** 2 / exp1, 9)) < 1e-9

    def test_nonpositive_dropped(self, spark):
        from geomatics_geotk_spark.operators import stats
        df = spark.createDataFrame([(0,), (-5,), (123,)], "v long")
        out = {r["digit"]: r["n_obs"]
               for r in stats.benford_audit(df, "v").collect()}
        assert sum(out.values()) == 1 and out[1] == 1


class TestKernelDensity:
    """Epanechnikov KDE: values match a numpy reference on a planted
    lattice and an isolated cell keeps exactly its own mass."""

    def test_matches_numpy(self, spark):
        import numpy as np
        from geomatics_geotk_spark.operators import stats
        cells = [(i, j, (i * 7 + j * 3) % 11 + 1)
                 for i in range(6) for j in range(6)]
        df = spark.createDataFrame(cells, "cx long, cy long, n long")
        got = {(r["cx"], r["cy"]): r["density"]
               for r in stats.kernel_density(df, radius=2).collect()}
        for cxi, cyi, _ in cells:
            num = sum(
                v * (4 - (cxi - cxj) ** 2 - (cyi - cyj) ** 2)
                for cxj, cyj, v in cells
                if (cxi - cxj) ** 2 + (cyi - cyj) ** 2 <= 4
            )
            assert got[(cxi, cyi)] == num / 4.0, (cxi, cyi)

    def test_isolated_cell_self_mass(self, spark):
        from geomatics_geotk_spark.operators import stats
        df = spark.createDataFrame([(0, 0, 8), (100, 100, 4)],
                                   "cx long, cy long, n long")
        got = {(r["cx"], r["cy"]): r["density"]
               for r in stats.kernel_density(df, radius=2).collect()}
        # w(0) = R^2 => density = x * R^2 / R^2 = x
        assert got == {(0, 0): 8.0, (100, 100): 4.0}


class TestGetisOrdGiPartitioned:
    """part_cols: each partition's surface is independent and equals the
    unpartitioned operator run on that slice; degenerate slices drop."""

    def test_partitions_match_slices(self, spark):
        from geomatics_geotk_spark.operators import stats
        day1 = [(1, i, j, 50 if (i <= 1 and j <= 1) else 2)
                for i in range(4) for j in range(4)]
        day2 = [(2, i, j, 3 + ((i + j) % 5)) for i in range(4) for j in range(4)]
        df = spark.createDataFrame(day1 + day2, "d long, cx long, cy long, n long")
        got = {(r["d"], r["cx"], r["cy"]): r["gi"]
               for r in stats.getis_ord_gi(
                   df, "cx", "cy", "n", part_cols=("d",)).collect()}
        for d, rows in ((1, day1), (2, day2)):
            sl = spark.createDataFrame(
                [(cx, cy, n) for _, cx, cy, n in rows],
                "cx long, cy long, n long")
            want = {(d, r["cx"], r["cy"]): r["gi"]
                    for r in stats.getis_ord_gi(sl, "cx", "cy", "n").collect()}
            for k, v in want.items():
                assert got[k] == v, k
        assert len(got) == 32

    def test_degenerate_slices_dropped(self, spark):
        from geomatics_geotk_spark.operators import stats
        rows = (
            [(1, 0, 0, 5)]                       # single cell: n = 1
            + [(2, i, 0, 7) for i in range(4)]   # zero variance
            + [(3, i, j, 1 + i + 2 * j) for i in range(3) for j in range(3)]
        )
        df = spark.createDataFrame(rows, "d long, cx long, cy long, n long")
        out = stats.getis_ord_gi(df, "cx", "cy", "n",
                                 part_cols=("d",)).collect()
        days = {r["d"] for r in out}
        assert days == {3}
        assert all(not (r["gi"] != r["gi"]) for r in out)  # no NaN


class TestCoverageGaps:
    """Missing-bucket audit: planted holes are found exactly, span
    endpoints are never reported, dense keys report nothing."""

    def test_planted_holes(self, spark):
        import datetime as dt
        from geomatics_geotk_spark.operators import stats
        base = dt.datetime(2024, 5, 1, 0, 30)
        present = [0, 1, 2, 5, 6, 9]          # holes at 3, 4, 7, 8
        rows = [("a", base + dt.timedelta(hours=h)) for h in present]
        rows += [("dense", base + dt.timedelta(hours=h)) for h in range(4)]
        df = spark.createDataFrame(rows, "key string, ts timestamp")
        out = stats.coverage_gaps(df, ["key"], "ts", "hour").collect()
        got = sorted((r["key"], r["missing_bucket"]) for r in out)
        want = sorted(
            ("a", dt.datetime(2024, 5, 1, h, 0)) for h in (3, 4, 7, 8)
        )
        assert got == want

    def test_single_bucket_key_silent(self, spark):
        import datetime as dt
        from geomatics_geotk_spark.operators import stats
        rows = [("solo", dt.datetime(2024, 5, 1, 12, i)) for i in range(3)]
        df = spark.createDataFrame(rows, "key string, ts timestamp")
        assert stats.coverage_gaps(df, ["key"], "ts", "hour").count() == 0


class TestCusumAlarms:
    """CUSUM closed form ≡ the sequential max(0, ·) recursion on a
    planted level-shift series; resets after dips; quiet series silent."""

    def _sequential(self, vals, a_pm, h_pm):
        t, n = sum(vals), len(vals)
        s, out = 0, []
        for i, x in enumerate(vals):
            s = max(0, s + 1000 * n * x - (1000 + a_pm) * t)
            if s >= h_pm * t:
                out.append((i, x, s / (1000.0 * t)))
        return out

    def test_matches_sequential_recursion(self, spark):
        from geomatics_geotk_spark.operators import stats
        # flat 10s, then a sustained shift to 25, then back
        vals = [10] * 20 + [25] * 15 + [10] * 10
        rows = [("k", i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "key string, t long, n long")
        got = sorted(
            (r["t"], r["n"], r["s_means"])
            for r in stats.cusum_alarms(
                df, ["key"], "t", "n",
                allowance_permille=200, threshold_permille=3000).collect()
        )
        want = self._sequential(vals, 200, 3000)
        assert [(t, x) for t, x, _ in want] == [(t, x) for t, x, _ in got]
        for (_, _, sw), (_, _, sg) in zip(want, got):
            assert abs(sw - sg) < 1e-12
        assert got, "the planted shift must alarm"

    def test_quiet_series_no_alarms(self, spark):
        from geomatics_geotk_spark.operators import stats
        rows = [("k", i, 10 + (i % 2)) for i in range(40)]
        df = spark.createDataFrame(rows, "key string, t long, n long")
        assert stats.cusum_alarms(df, ["key"], "t", "n").count() == 0


class TestReadability:
    """Pooled Flesch: counts match hand counts; vowel-run syllables on
    whole text equal the per-word sum; missing punctuation floors at
    one sentence."""

    def test_hand_counts(self, spark):
        from geomatics_geotk_spark.operators import text
        docs = [
            ("en", "The cat sat. The dog ran!"),   # w=6 s=2 syl: e,a,a,e,o,a = 6
            ("en", "hello world"),                 # w=2 s=1 syl: e,o,o = 3
            ("fr", None),                          # dropped
        ]
        df = spark.createDataFrame(docs, "lang string, text string")
        out = {r["lang"]: r for r in text.readability(df).collect()}
        assert set(out) == {"en"}
        r = out["en"]
        assert (r["n_docs"], r["words"], r["sentences"], r["syllables"]) \
            == (2, 8, 3, 9)
        want = 206.835 - 1.015 * (8 / 3) - 84.6 * (9 / 8)
        assert abs(r["flesch"] - want) < 1e-12

    def test_wordboundary_syllable_equivalence(self, spark):
        from geomatics_geotk_spark.operators import text
        # whole-text vowel runs == sum of per-word vowel runs
        docs = [("x", "aa bb ee-ii cc"), ("x", "you say yoyo")]
        df = spark.createDataFrame(docs, "lang string, text string")
        r = text.readability(df).collect()[0]
        # doc1 runs: aa, ee, ii -> 3; doc2: ou(+y start? 'you'->'you' is
        # y,o,u one run), ay, oyo -> you=1, say=1, yoyo=1 -> 3
        assert r["syllables"] == 6


class TestRouteHausdorff:
    """Directed Hausdorff route matching ≡ a numpy max-min cross-check;
    tie-break prefers the smaller route id; degenerate inputs raise."""

    def test_matches_numpy(self, spark):
        import numpy as np

        from geomatics_geotk_spark.operators import trajectory
        rng = np.random.default_rng(7)
        routes = [
            (r, [(int(a), int(b)) for a, b in
                 rng.integers(0, 1000, size=(6, 2))])
            for r in range(3)
        ]
        pts = [(f"u{e}", int(a), int(b)) for e in range(4)
               for a, b in rng.integers(0, 1000, size=(5, 2))]
        df = spark.createDataFrame(pts, "user_id string, ilat long, ilon long")
        got = {r["user_id"]: r for r in
               trajectory.route_hausdorff(df, routes).collect()}
        for e in range(4):
            mine = np.array([(a, b) for u, a, b in pts if u == f"u{e}"])
            hs = []
            for rid, verts in routes:
                v = np.array(verts)
                d2 = ((mine[:, None, :] - v[None, :, :]) ** 2).sum(axis=2)
                hs.append((int(d2.min(axis=1).max()), rid))
            want_h, want_r = min(hs)
            r = got[f"u{e}"]
            assert (r["h_sq_udeg"], r["best_route"]) == (want_h, want_r)
            assert r["n_points"] == 5

    def test_tie_breaks_to_lower_route_id(self, spark):
        from geomatics_geotk_spark.operators import trajectory
        # identical routes -> identical h; route 0 must win
        verts = [(0, 0), (10, 10)]
        df = spark.createDataFrame(
            [("u", 3, 4)], "user_id string, ilat long, ilon long")
        out = trajectory.route_hausdorff(
            df, [(1, verts), (0, verts)]).collect()[0]
        assert out["best_route"] == 0
        assert out["h_sq_udeg"] == 3 * 3 + 4 * 4

    def test_rejects_empty(self, spark):
        import pytest as _pytest

        from geomatics_geotk_spark.operators import trajectory
        df = spark.createDataFrame(
            [("u", 0, 0)], "user_id string, ilat long, ilon long")
        with _pytest.raises(ValueError):
            trajectory.route_hausdorff(df, [])
        with _pytest.raises(ValueError):
            trajectory.route_hausdorff(df, [(0, [])])


class TestAcf:
    """ACF closed form ≡ numpy.corrcoef on the lag-aligned pairs;
    constant series yields NULL; a period-2 series alternates sign."""

    def test_matches_numpy(self, spark):
        import numpy as np

        from geomatics_geotk_spark.operators import stats
        rng = np.random.default_rng(11)
        vals = rng.integers(0, 100, size=40)
        rows = [("k", i, int(v)) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "key string, t long, n long")
        got = {r["lag"]: r for r in
               stats.acf(df, ["key"], "t", "n", max_lag=4).collect()}
        for lg in range(1, 5):
            x, y = vals[lg:].astype(float), vals[:-lg].astype(float)
            want = np.corrcoef(x, y)[0, 1]
            assert got[lg]["n_pairs"] == 40 - lg
            assert abs(got[lg]["acf_r"] - want) < 1e-9

    def test_constant_series_null(self, spark):
        from geomatics_geotk_spark.operators import stats
        rows = [("k", i, 7) for i in range(10)]
        df = spark.createDataFrame(rows, "key string, t long, n long")
        out = stats.acf(df, ["key"], "t", "n", max_lag=2).collect()
        assert all(r["acf_r"] is None for r in out)

    def test_alternating_series_sign(self, spark):
        from geomatics_geotk_spark.operators import stats
        rows = [("k", i, 10 if i % 2 == 0 else 20) for i in range(20)]
        df = spark.createDataFrame(rows, "key string, t long, n long")
        got = {r["lag"]: r["acf_r"] for r in
               stats.acf(df, ["key"], "t", "n", max_lag=2).collect()}
        assert got[1] < -0.9 and got[2] > 0.9

    def test_rejects_bad_lag(self, spark):
        import pytest as _pytest

        from geomatics_geotk_spark.operators import stats
        df = spark.createDataFrame([("k", 0, 1)], "key string, t long, n long")
        with _pytest.raises(ValueError):
            stats.acf(df, ["key"], "t", "n", max_lag=0)


class TestTheilSen:
    """Lower-median pairwise slope ≡ the numpy enumeration; a clean
    linear series recovers its exact slope under one wild outlier."""

    def test_matches_numpy(self, spark):
        import numpy as np

        from geomatics_geotk_spark.operators import stats
        rng = np.random.default_rng(3)
        ts = np.sort(rng.choice(np.arange(100), size=15, replace=False))
        vs = rng.integers(0, 50, size=15)
        rows = [("k", int(t), int(v)) for t, v in zip(ts, vs)]
        df = spark.createDataFrame(rows, "key string, t long, n long")
        out = stats.theil_sen(df, ["key"], "t", "n").collect()[0]
        slopes = sorted(
            (vs[j] - vs[i]) / (ts[j] - ts[i])
            for i in range(15) for j in range(i + 1, 15)
        )
        m = len(slopes)
        assert out["n_pairs"] == m
        assert out["slope_med"] == slopes[(m + 1) // 2 - 1]

    def test_outlier_immune(self, spark):
        from geomatics_geotk_spark.operators import stats
        rows = [("k", i, 3 * i) for i in range(12)]
        rows[5] = ("k", 5, 1000)  # one wild point
        df = spark.createDataFrame(rows, "key string, t long, n long")
        out = stats.theil_sen(df, ["key"], "t", "n").collect()[0]
        assert out["slope_med"] == 3.0


class TestCommonNeighbors:
    """Wedge-counted link prediction ≡ a brute-force python set
    enumeration on a small random graph; adjacent pairs are excluded;
    Jaccard uses the |N(a)∪N(b)| denominator."""

    def test_matches_bruteforce(self, spark):
        import itertools

        import numpy as np

        from geomatics_geotk_spark.operators import graph
        rng = np.random.default_rng(5)
        edges = {tuple(sorted((int(p[0]), int(p[1]))))
                 for p in rng.integers(0, 12, (30, 2)) if p[0] != p[1]}
        df = spark.createDataFrame(
            [(a, b) for a, b in edges], "src long, dst long")
        got = {(r["node_a"], r["node_b"]):
               (r["n_common"], r["deg_a"], r["deg_b"], r["jaccard"])
               for r in graph.common_neighbor_scores(df).collect()}
        nbr = {}
        for a, b in edges:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        want = {}
        for u, v in itertools.combinations(sorted(nbr), 2):
            cn = len(nbr[u] & nbr[v])
            if cn >= 1 and (u, v) not in edges:
                want[(u, v)] = (
                    cn, len(nbr[u]), len(nbr[v]),
                    cn / (len(nbr[u]) + len(nbr[v]) - cn),
                )
        assert got == want

    def test_excludes_existing_edges(self, spark):
        from geomatics_geotk_spark.operators import graph
        # triangle + pendant: (0,1) adjacent, both see 2 -> excluded
        df = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (2, 3)], "src long, dst long")
        out = {(r["node_a"], r["node_b"])
               for r in graph.common_neighbor_scores(df).collect()}
        assert (0, 1) not in out
        assert (0, 3) in out and (1, 3) in out


class TestKcore:
    """Peeling fixpoint ≡ a sequential python peel; cascade removal
    (a chain hanging off a clique) is fully pruned; empty core OK."""

    def _py_kcore(self, edges, k):
        edges = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        while True:
            deg = {}
            for a, b in edges:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            nxt = {e for e in edges if e[0] in keep and e[1] in keep}
            if nxt == edges:
                break
            edges = nxt
        out = {}
        for a, b in edges:
            out[a] = out.get(a, 0) + 1
            out[b] = out.get(b, 0) + 1
        return out

    def test_matches_sequential_peel(self, spark):
        import numpy as np

        from geomatics_geotk_spark.operators import graph
        rng = np.random.default_rng(9)
        edges = [(int(a), int(b)) for a, b in rng.integers(0, 20, (60, 2))]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["core_degree"]
               for r in graph.kcore(df, k=3).collect()}
        assert got == self._py_kcore(edges, 3)

    def test_cascade_prunes_chain(self, spark):
        from geomatics_geotk_spark.operators import graph
        # K4 clique (0-3) + a chain 3-4-5: chain peels away entirely
        clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        df = spark.createDataFrame(
            clique + [(3, 4), (4, 5)], "src long, dst long")
        got = {r["node"]: r["core_degree"]
               for r in graph.kcore(df, k=3).collect()}
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_empty_core(self, spark):
        from geomatics_geotk_spark.operators import graph
        df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
        assert graph.kcore(df, k=3).count() == 0

    @staticmethod
    def _chain(spark, n):
        return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")

    def test_peel_depth_at_cap_converges(self, spark):
        """A 60-node chain peels its two end edges per round: the 2-core
        is empty after exactly 30 peels, the default cap, so the
        confirming round runs past it."""
        from geomatics_geotk_spark.operators import graph
        assert graph.kcore(self._chain(spark, 60), k=2).count() == 0

    def test_peel_depth_past_cap_raises(self, spark):
        from geomatics_geotk_spark.operators import graph
        chain = self._chain(spark, 8)  # 7 edges: 4 peels
        assert graph.kcore(chain, k=2, max_iters=4).count() == 0
        with pytest.raises(RuntimeError, match="no fixpoint within 3 rounds"):
            graph.kcore(chain, k=2, max_iters=3)


class TestEwmaFold:
    """The frame-fold EWMA ≡ the sequential recursion seeded at the
    window's oldest row (exact: alpha = 0.25 is binary-representable)."""

    def test_matches_sequential(self, spark):
        import numpy as np

        from geomatics_geotk_spark import queries  # noqa: F401
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        rng = np.random.default_rng(2)
        vals = [int(v) for v in rng.integers(0, 100, size=50)]
        df = spark.createDataFrame(
            [("k", i, v) for i, v in enumerate(vals)],
            "key string, t long, n long")
        w = Window.partitionBy("key").orderBy("t").rowsBetween(-31, 0)
        arr = F.collect_list(F.col("n").cast("double")).over(w)
        staged = df.select("t", "n", arr.alias("_fr"))
        ewma = F.aggregate(
            F.slice(F.col("_fr"), F.lit(2), F.size("_fr") - F.lit(1)),
            F.element_at("_fr", 1),
            lambda acc, x: acc * F.lit(0.75) + x * F.lit(0.25),
        )
        got = {r["t"]: r["e"] for r in
               staged.select("t", ewma.alias("e")).collect()}
        for t in range(50):
            frame = vals[max(0, t - 31):t + 1]
            acc = float(frame[0])
            for x in frame[1:]:
                acc = acc * 0.75 + x * 0.25
            assert got[t] == acc, t


class TestHaarMultires:
    """Level-L Haar coefficients over a hand series: approx = block
    sums, detail = left-half minus right-half, pyramid-consistent."""

    def test_hand_series(self, spark):
        import datetime as dt

        from geomatics_geotk_spark import queries as qmod
        # direct algebra on a tiny frame via the same expressions
        from pyspark.sql import functions as F
        rows = []
        base = dt.datetime(2024, 1, 1)
        counts = [3, 1, 4, 1, 5, 9, 2, 6]
        for i, n in enumerate(counts):
            for j in range(n):
                rows.append(("t", base + dt.timedelta(hours=i, minutes=j)))
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            df.write.mode("overwrite").parquet(f"{d}/events.parquet")
            out = qmod.q_haar_multires(spark, d).collect()
        got = {(r["level"], r["block"]): (r["approx"], r["detail"])
               for r in out}
        eh0 = 473352  # epoch hours of 2024-01-01 00:00 (÷8 aligned)
        # level 1 blocks pair consecutive hours
        assert got[(1, (eh0 + 0) // 2)] == (3 + 1, 3 - 1)
        assert got[(1, (eh0 + 4) // 2)] == (5 + 9, 5 - 9)
        # level 3: one aligned block over all 8 hours
        assert got[(3, eh0 // 8)] == (31, (3 + 1 + 4 + 1) - (5 + 9 + 2 + 6))
        lvl2 = [v for (lv, _), v in got.items() if lv == 2]
        assert sum(a for a, _ in lvl2) == sum(counts)


class TestHexBinRounding:
    """Cube-rounding invariants on the hex_bin expressions: every point
    maps to hex axial coords whose cube form sums to zero, and the
    assigned hex center is the nearest of all hexes (spot-checked on a
    random cloud against a numpy re-implementation)."""

    def test_matches_numpy_cube_round(self, spark):
        import numpy as np

        from geomatics_geotk_spark import queries as qmod
        import tempfile

        rng = np.random.default_rng(13)
        # synthesize events whose derived positions tile the box densely
        rows = [(int(i),) for i in rng.integers(0, 100000, size=400)]
        df = spark.createDataFrame(rows, "event_id long").select(
            "event_id", F.lit(1).alias("user_id"),
            F.current_timestamp().alias("ts"),
        )
        with tempfile.TemporaryDirectory() as d:
            df.write.mode("overwrite").parquet(f"{d}/events.parquet")
            out = qmod.q_hex_bin(spark, d).collect()
            pts = qmod._event_pts(spark, d).select("lon", "lat").collect()
        # numpy reference cube rounding
        inv_sqrt3, s = 0.5773502691896258, 20.0
        counts = {}
        for r in pts:
            qf = (r["lon"] * inv_sqrt3 - r["lat"] / 3.0) * s
            rf = (r["lat"] * 2.0 / 3.0) * s
            yf = -qf - rf
            rx, ry, rz = (np.floor(qf + .5), np.floor(yf + .5),
                          np.floor(rf + .5))
            dx, dy, dz = abs(rx - qf), abs(ry - yf), abs(rz - rf)
            if dx > dy and dx > dz:
                rx = -ry - rz
            elif dy > dz:
                ry = -rx - rz
            else:
                rz = -rx - ry
            counts[(int(rx), int(rz))] = counts.get((int(rx), int(rz)), 0) + 1
        want = sorted(counts.items(), key=lambda kv: (-kv[1],) + kv[0])[:30]
        got = [((r["hex_q"], r["hex_r"]), r["n_events"]) for r in out]
        assert got == [(k, v) for k, v in want]


class TestSurvivalKm:
    """Kaplan-Meier over a hand-built cohort: risk sets shrink by
    earlier endings, factors multiply only where deaths occur, and a
    full-death band pins the curve to zero."""

    def _run(self, spark, users):
        """users: list of (user_id, dur_days, died) synthesized as
        events with first ts 2024-01-01 and last ts offset by dur."""
        import datetime as dt
        import tempfile

        from geomatics_geotk_spark import queries as qmod
        base = dt.datetime(2024, 1, 1)
        rows, eid = [], 0
        for uid, dur, died in users:
            rows.append((eid, uid, base, "view", 1.0))
            eid += 1
            last_type = "error" if died else "click"
            rows.append((eid, uid, base + dt.timedelta(days=dur),
                         last_type, 1.0))
            eid += 1
        df = spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, "
            "event_type string, value double")
        with tempfile.TemporaryDirectory() as d:
            df.write.mode("overwrite").parquet(f"{d}/events.parquet")
            return {r["dur"]: r for r in
                    qmod.q_survival_km(spark, d).collect()}

    def test_textbook_curve(self, spark):
        import math
        # durations: 2 (1 death of 2 ending), 5 (1 death), 8 (censored)
        users = [(1, 2, True), (2, 2, False), (3, 5, True), (4, 8, False)]
        got = self._run(spark, users)
        assert got[2]["n_risk"] == 4 and got[2]["n_deaths"] == 1
        assert got[5]["n_risk"] == 2 and got[5]["n_deaths"] == 1
        assert got[8]["n_risk"] == 1 and got[8]["n_deaths"] == 0
        # S(2) = 3/4; S(5) = 3/4 * 1/2; S(8) unchanged (no death)
        def ref(*terms):
            s = sum(round(math.log(n - d), 6) - round(math.log(n), 6)
                    for n, d in terms)
            return round(math.exp(round(s, 6)), 9)
        assert got[2]["survival_r"] == ref((4, 1))
        assert got[5]["survival_r"] == ref((4, 1), (2, 1))
        assert got[8]["survival_r"] == ref((4, 1), (2, 1))

    def test_total_death_band_zeroes(self, spark):
        users = [(1, 3, True), (2, 3, True), (3, 1, False)]
        got = self._run(spark, users)
        # at dur=3 every remaining user dies -> S pinned to 0
        assert got[3]["survival_r"] == 0.0


class TestLeadLagXcorr:
    """Cross-correlation vs numpy on a planted lead: y = x shifted by
    +2 hours ⇒ the peak sits exactly at shift +2 with r ≈ 1."""

    def test_planted_lead(self, spark):
        import datetime as dt
        import tempfile

        import numpy as np

        from geomatics_geotk_spark import queries as qmod
        rng = np.random.default_rng(4)
        base = dt.datetime(2024, 1, 1)
        x = rng.integers(1, 30, size=48)
        rows, eid = [], 0
        for h, n in enumerate(x):
            for _ in range(int(n)):            # clicks at hour h
                rows.append((eid, 1, base + dt.timedelta(hours=h),
                             "click", 1.0))
                eid += 1
            for _ in range(int(n)):            # purchases 2h later
                rows.append((eid, 1, base + dt.timedelta(hours=h + 2),
                             "purchase", 1.0))
                eid += 1
        df = spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, "
            "event_type string, value double")
        with tempfile.TemporaryDirectory() as d:
            df.write.mode("overwrite").parquet(f"{d}/events.parquet")
            got = {r["shift"]: r["xcorr_r"] for r in
                   qmod.q_leadlag_xcorr(spark, d).collect()}
        assert got[2] == 1.0
        assert all(v is None or v < 1.0
                   for s, v in got.items() if s != 2)


class TestMarkovStationary:
    """12 decimal power iterations converge to the true stationary
    distribution of the fixture chain (cross-checked vs numpy
    eigenvector to 1e-6) and sum to ~1."""

    def test_matches_eigen(self, spark):
        import numpy as np

        from geomatics_geotk_spark import queries as qmod
        SF = "/root/testdata/sf0.001"
        out = {r["state"]: r["pi_r"] for r in
               qmod.q_markov_stationary(spark, SF).collect()}
        assert abs(sum(out.values()) - 1.0) < 1e-9
        # rebuild P from the same transition counts
        tr = {(r["from_type"], r["to_type"]): r["n"] for r in
              qmod.q_event_transitions(spark, SF).collect()}
        states = sorted(out)
        P = np.zeros((len(states), len(states)))
        for (a, b), n in tr.items():
            P[states.index(a), states.index(b)] = n
        P = P / P.sum(axis=1, keepdims=True)
        vals, vecs = np.linalg.eig(P.T)
        v = np.real(vecs[:, np.argmax(np.real(vals))])
        v = v / v.sum()
        for i, s in enumerate(states):
            assert abs(out[s] - v[i]) < 1e-6, s

    def test_three_state_chain(self, spark, tmp_path):
        """A chain of 3 event types starts from round(1/3, 12) in both
        engines: the query equals a numpy power iteration from the same
        start and the DuckDB oracle, row for row."""
        import duckdb
        import numpy as np
        import pandas as pd

        from geomatics_geotk_spark import queries as qmod
        rng = np.random.default_rng(7)
        P = np.array([[0.6, 0.3, 0.1], [0.2, 0.5, 0.3], [0.3, 0.2, 0.5]])
        types = ["a", "b", "c"]
        rows = []
        for user in range(6):
            s = user % 3
            for step in range(60):
                rows.append((len(rows), user, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=step),
                             types[s]))
                s = rng.choice(3, p=P[s])
        events = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "event_type"])
        events.to_parquet(tmp_path / "events.parquet", coerce_timestamps="us")

        out = {r["state"]: r["pi_r"] for r in qmod.q_markov_stationary(spark, str(tmp_path)).collect()}
        counts = np.zeros((3, 3))
        for _, g in events.sort_values(["user_id", "ts", "event_id"]).groupby("user_id"):
            seq = [types.index(t) for t in g["event_type"]]
            np.add.at(counts, (seq[:-1], seq[1:]), 1)
        pi = np.full(3, round(1 / 3, 12))
        for _ in range(12):
            pi = pi @ (counts / counts.sum(axis=1, keepdims=True))
        assert sorted(out) == types
        assert np.allclose([out[t] for t in types], pi, rtol=0, atol=1e-9)

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
        assert dict(con.execute(qmod.ORACLES["markov_stationary"]).fetchall()) == out
