"""Plan-hygiene asserts for the final-session operators: each
docstring's 100 TB claim must be visible in the physical plan so a
Spark upgrade or refactor can't silently regress it.

- hotspot_gi: neighborhood sums come from the 9-offset scatter +
  equi-join — never a cell×cell cartesian; all JVM.
- rate_anomaly: the z window hash-partitions on event_type (no
  single-partition funnel); the top-20 is TakeOrderedAndProject,
  not a global sort.
- pmi_collocations: pair ranking is TakeOrderedAndProject; the two
  scalar totals broadcast; no cartesian anywhere.
- basket_pairs: pairs explode from the per-basket array — the plan
  contains NO join at all (the classic shape to regress into is an
  item-table self-join).
- quantile_calibration: the only single-partition window is the
  documented value-cardinality global cumulative; the decile spec
  and final map join broadcast.
"""

from __future__ import annotations

import re

from geomatics_geotk_spark import plans, queries

SF = "/root/testdata/sf0.001"


def _no_python(plan: str) -> bool:
    return "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}", plan))


class TestSession3Plans:
    def test_hotspot_gi_scatter_join_no_cartesian(self, spark):
        df = queries.q_hotspot_gi(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        # neighborhood agg joins back on the occupied-cell key
        assert (
            _nodes(plan, "SortMergeJoin")
            + _nodes(plan, "BroadcastHashJoin")
            + _nodes(plan, "ShuffledHashJoin")
            >= 1
        )
        # the global moments arrive by broadcast, not a shuffle
        assert "BroadcastExchange" in plan

    def test_rate_anomaly_keyed_window_topk(self, spark):
        df = queries.q_rate_anomaly(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert "TakeOrderedAndProject" in plan
        assert _nodes(plan, "Window") >= 1

    def test_pmi_topk_and_broadcast_totals(self, spark):
        df = queries.q_pmi_collocations(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan
        # nu and nb scalars broadcast under the nested-loop cross joins
        assert _nodes(plan, "BroadcastNestedLoopJoin") >= 2
        # no global window rank anywhere
        assert _nodes(plan, "Window") == 0

    def test_basket_pairs_has_no_join(self, spark):
        df = queries.q_basket_pairs(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "TakeOrderedAndProject" in plan
        # pairs explode map-side from collect_set — a join would mean
        # the self-join shape this operator exists to avoid
        for node in ("SortMergeJoin", "BroadcastHashJoin",
                     "ShuffledHashJoin", "CartesianProduct",
                     "BroadcastNestedLoopJoin"):
            assert _nodes(plan, node) == 0, node
        assert _nodes(plan, "Generate") >= 1

    def test_quantile_calibration_windows_and_broadcasts(self, spark):
        df = queries.q_quantile_calibration(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan
        # per-group cumulative hash-partitions on the group; the single
        # SinglePartition exchange is the documented global cumulative
        # over the distinct-value count table
        assert len(re.findall(r"SinglePartition", plan)) <= 2


class TestStatsBatchPlans:
    def test_trend_test_series_join_no_python(self, spark):
        df = queries.q_trend_test(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        assert "SinglePartition" not in plan

    def test_revenue_gini_keyed_window_broadcast_nation(self, spark):
        df = queries.q_revenue_gini(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert "BroadcastHashJoin" in plan  # nation fan-in

    def test_benford_nine_row_agg_broadcast_total(self, spark):
        df = queries.q_benford_audit(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan


class TestSpaceTimePlans:
    def test_kernel_density_scatter_join(self, spark):
        df = queries.q_kernel_density(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        assert "SinglePartition" not in plan

    def test_emerging_hotspots_no_cartesian_no_python(self, spark):
        df = queries.q_emerging_hotspots(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        # daily moments arrive by broadcast keyed on the day
        assert "BroadcastHashJoin" in plan


class TestCusumPlan:
    def test_cusum_one_exchange_two_windows(self, spark):
        df = queries.q_cusum_alarm(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert _nodes(plan, "Window") >= 1


class TestGeoBatch4Plans:
    """hausdorff_routes / voronoi_stats / hex_bin: inline-literal folds,
    zero joins on the corpus path, no Python, no single-partition sort."""

    def test_hausdorff_routes_join_free(self, spark):
        df = queries.q_hausdorff_routes(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        assert "SinglePartition" not in plan

    def test_voronoi_stats_join_free(self, spark):
        df = queries.q_voronoi_stats(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        assert "Join" not in plan  # 25-site dim folds inline, never joins
        assert "SinglePartition" not in plan

    def test_hex_bin_single_exchange_topk(self, spark):
        df = queries.q_hex_bin(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "Join" not in plan
        assert "TakeOrderedAndProject" in plan
        assert _nodes(plan, "Exchange") == 1


class TestSeriesBatch4Plans:
    """acf_profile / theil_sen / cdc_apply: series-frame or key-window
    shapes — no Python, no single-partition window, no cartesian."""

    def test_acf_one_series_window(self, spark):
        df = queries.q_acf_profile(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert "CartesianProduct" not in plan
        assert _nodes(plan, "Window") == 1  # all 6 lags share one spec

    def test_theil_sen_series_join(self, spark):
        df = queries.q_theil_sen(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert "CartesianProduct" not in plan

    def test_cdc_apply_one_window_exchange(self, spark):
        df = queries.q_cdc_apply(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert "Join" not in plan  # the log IS the state — no base-table merge
        assert _nodes(plan, "Exchange") == 1


class TestLinkBurstPlans:
    """common_neighbors / token_bursts: join-free wedge or vocab-keyed
    aggregation shapes — no Python, global top-k never a window."""

    def test_common_neighbors_no_edge_self_join_python(self, spark):
        df = queries.q_common_neighbors(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_token_bursts_takeordered(self, spark):
        df = queries.q_token_bursts(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan


class TestCorePlans:
    def test_ewma_one_window_no_python(self, spark):
        df = queries.q_ewma_chart(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert _nodes(plan, "Window") == 1
        assert "Join" not in plan


class TestMultiresZipfPlans:
    def test_haar_one_exchange_no_python(self, spark):
        df = queries.q_haar_multires(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "Join" not in plan
        assert "SinglePartition" not in plan
        # levels explode map-side; series agg + level agg share no extra
        # data-sized exchange beyond the two hash aggregations
        assert _nodes(plan, "Exchange") <= 2

    def test_zipf_vocab_frame_window(self, spark):
        df = queries.q_zipf_fit(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert "CartesianProduct" not in plan


class TestGeoStatBatchPlans:
    def test_variogram_probe_equi_join_no_python(self, spark):
        df = queries.q_variogram(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        # offset probes pair via an EQUI-join on the probed coordinate —
        # a cell-surface self-cross (BNLJ/Cartesian) is the regression
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_gap_fill_one_series_window(self, spark):
        df = queries.q_gap_fill(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert _nodes(plan, "Window") == 1

    def test_survival_km_risk_frame_only(self, spark):
        df = queries.q_survival_km(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        # the global cumulative-product window is allowed ONLY because
        # it runs on the |distinct durations| risk frame; the corpus
        # exchange is the per-user rollup
        assert "CartesianProduct" not in plan


class TestLeadLagPathPlans:
    def test_leadlag_series_frames_only(self, spark):
        df = queries.q_leadlag_xcorr(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan

    def test_path_trigrams_one_window_takeordered(self, spark):
        df = queries.q_path_trigrams(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert _nodes(plan, "Window") == 1  # both leads share the spec
        assert "TakeOrderedAndProject" in plan


class TestRobustDrilldownPlans:
    def test_mad_no_corpus_window(self, spark):
        df = queries.q_mad_outliers(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "Window" not in plan  # quantiles via agg path, not ranking
        assert _nodes(plan, "BroadcastHashJoin") >= 2

    def test_drilldown_alarm_broadcast(self, spark):
        df = queries.q_anomaly_drilldown(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        # the <=5-row alarm table must arrive broadcast at the events join
        assert "BroadcastHashJoin" in plan


class TestChainSeasonAssortPlans:
    def test_seasonality_one_data_exchange(self, spark):
        df = queries.q_seasonality_profile(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert "CartesianProduct" not in plan

    def test_assortativity_no_python(self, spark):
        df = queries.q_assortativity(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan


class TestOverlapPeaksPlans:
    def test_audience_overlap_membership_frame(self, spark):
        df = queries.q_audience_overlap(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "CartesianProduct" not in plan
        assert "SinglePartition" not in plan

    def test_series_peaks_one_window(self, spark):
        df = queries.q_series_peaks(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "SinglePartition" not in plan
        assert _nodes(plan, "Window") == 1  # lag/lead/frame share the spec
        assert "Join" not in plan
