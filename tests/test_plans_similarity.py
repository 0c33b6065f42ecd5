"""Plan-hygiene asserts for the ANN family (r4 verdict item 1): every
per-query ranking must be the salted two-phase top-k — phase 1 windows
over (q_id, _tk_salt) so no single task ever sorts a query's full
candidate set, phase 2 sorts at most k·salts survivors per query.
"""

from __future__ import annotations

import re

from geomatics_geotk_spark import plans, queries

SF = "/root/testdata/sf0.001"


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}", plan))


def _window_specs(plan: str) -> list[str]:
    """The partitionBy argument lists of every Window node, in plan
    order (formatted explain prints them in the node detail section)."""
    return re.findall(r"windowspecdefinition\(([^)]*)\)", plan)


class TestAnnPlans:
    def _assert_two_phase(self, df, n_rankings: int):
        """Every ranking = (salted window, exact window) pair; every
        SALTED window's partition spec carries _tk_salt, so the biggest
        window partition is bounded by the per-(q_id, salt) candidate
        slice, never a query's whole candidate set.  The row_number
        filter must also reach the window as a WindowGroupLimit, so each
        partition keeps a k-row heap instead of a full sort."""
        plan = plans.formatted_plan(df)
        specs = _window_specs(plan)
        salted = [s for s in specs if "_tk_salt" in s]
        exact = [s for s in specs if "_tk_salt" not in s]
        assert len(specs) == 2 * n_rankings, specs
        assert len(salted) == n_rankings and len(exact) == n_rankings, specs
        assert _nodes(plan, "WindowGroupLimit") >= n_rankings, plan

    def test_cosine_topk_two_phase(self, spark):
        self._assert_two_phase(queries.q_cosine_topk(spark, SF), 1)

    def test_ann_topk_two_phase(self, spark):
        self._assert_two_phase(queries.q_ann_topk(spark, SF), 1)

    def test_ann_topk_ivf_two_phase(self, spark):
        self._assert_two_phase(queries.q_ann_topk_ivf(spark, SF), 1)

    def test_ann_topk_ivf_int8_two_phase(self, spark):
        """int8 and PQ have TWO rankings: the coarse pool and the exact
        rerank."""
        self._assert_two_phase(queries.q_ann_topk_ivf_int8(spark, SF), 2)

    def test_ann_topk_ivf_pq_two_phase(self, spark):
        self._assert_two_phase(queries.q_ann_topk_ivf_pq(spark, SF), 2)


class TestSemanticDedupPlan:
    def test_single_exchange_no_join(self, spark):
        """semantic_dedup's physical plan must be the grouped-matmul
        shape: exactly ONE Exchange (hashpartitioning on cluster), a
        FlatMapGroupsInPandas pair stage, and NO join — the rejected
        self-join shapes (PLANS.md) had two exchanges and re-evaluated
        the k-means assignment folds in a pushed-down isnotnull filter."""
        from geomatics_geotk_spark.operators import similarity

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = plans.formatted_plan(
            similarity.semantic_dedup(emb, k=4, iters=3, threshold=0.95)
        )
        assert _nodes(plan, "Exchange") == 1, plan
        assert _nodes(plan, "FlatMapGroupsInPandas") == 1, plan
        assert "Join" not in plan, plan
        # the assignment fold must not leak into a Filter below the
        # exchange (the isnotnull-refold pathology)
        filters = re.findall(r"\(\d+\) Filter\nInput.*\nCondition : (.*)", plan)
        assert all("array_position" not in f for f in filters), filters
