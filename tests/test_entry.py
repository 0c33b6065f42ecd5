"""Driver-surface invariants: catalog counts (README's numbers can't
drift), no unargued twin queries sharing an oracle, the
oldest-checked-first query order, planted ground truth for
the deployed xxhash64 LSH paths, and the knn_join no-doc-side-broadcast
scale guarantee (r3 verdict items 3 and 7)."""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from geomatics_geotk_spark import queries  # noqa: E402
from geomatics_geotk_spark.operators import knn  # noqa: E402

SF = "/root/testdata/sf0.001"
ROOT = Path(__file__).resolve().parent.parent


class TestCatalog:
    def test_catalog_counts(self):
        """README.md's module-map count is the catalog size, and every
        query has an oracle."""
        readme = (ROOT / "README.md").read_text()
        counts = re.findall(r"(\d+) queries,\s+ALL (\d+) with", readme)
        assert counts, "README lost its 'N queries, ALL N with' line"
        n = str(len(entrymod.queries()))
        assert set(counts) == {(n, n)}
        assert set(entrymod.oracle_sql()) == set(entrymod.queries())

    def test_every_query_callable_and_named(self):
        for name, fn in entrymod.queries().items():
            assert callable(fn), name

    # Queries that may share one oracle, with the reason each group
    # exists.  Any other shared oracle is a twin that has to be argued
    # for here or merged.
    SHARED_ORACLES = {
        frozenset({"pip_convex", "pip_salted_shuffle"}):
            "driver vs executor zone side",
        frozenset({"interleaved_tile_pip", "interleaved_gml_pip"}):
            "WKT vs GML decode",
        frozenset({"ann_topk", "ann_topk_ivf", "ann_topk_ivf_int8", "ann_topk_ivf_pq"}):
            "four index types over one planted truth",
    }

    def test_shared_oracles_are_allowlisted(self):
        by_oracle = {}
        for e in queries.CATALOG:
            by_oracle.setdefault(e.oracle, set()).add(e.name)
        shared = {frozenset(v) for v in by_oracle.values() if len(v) > 1}
        assert shared == set(self.SHARED_ORACLES)


class TestQueryOrder:
    """QUERIES is ordered oldest-checked first: by the latest round each
    query was green in CORRECTNESS_r*.json, never-green first."""

    @staticmethod
    def _round(root, rnd, rows):
        path = root / f"CORRECTNESS_r{rnd:02d}.json"
        path.write_text(json.dumps({n: {"hash_match": g} for n, g in rows.items()}))

    def test_rule(self, tmp_path):
        self._round(tmp_path, 1, {"a": True, "b": True, "c": True, "d": None})
        self._round(tmp_path, 2, {"a": True, "c": False, "e": False})
        # a last green r2; b, c last green r1 (c's r2 row is red);
        # d (null row), e (red only) and f (no row) were never green
        names = ["a", "b", "c", "d", "e", "f"]
        assert queries.oldest_checked_first(names, tmp_path) == ["d", "e", "f", "b", "c", "a"]
        # ties keep the given order
        assert queries.oldest_checked_first(names[::-1], tmp_path) == ["f", "e", "d", "c", "b", "a"]

    def test_no_files_keeps_table_order(self, tmp_path):
        names = ["c", "a", "b"]
        assert queries.oldest_checked_first(names, tmp_path) == names
        # package shipped as a --py-files zip: the "root" is a file
        archive = tmp_path / "deps.zip"
        archive.write_bytes(b"")
        assert queries.oldest_checked_first(names, archive) == names

    def test_committed_files_put_unchecked_first(self):
        green = set()
        for path in ROOT.glob("CORRECTNESS_r*.json"):
            rows = json.loads(path.read_text())
            green |= {n for n, row in rows.items() if row["hash_match"] is True}
        assert green, "no committed CORRECTNESS_r*.json rows"
        assert not green & set(list(queries.QUERIES)[:50])


class TestPlantedFastTwins:
    """The xxhash64 production hash paths against constructed ground
    truth: real corpus ∪ namespaced planted twins (ids offset by 2M) ⇒
    the output pairs touching a planted doc are exactly the planted twins
    (identical text ⇒ all bands/blocks collide; disjoint token universes
    ⇒ no cross-doc candidate survives)."""

    def _expected(self, spark):
        base = (
            spark.read.parquet(f"{SF}/documents.parquet")
            .where(F.col("doc_id") < 40)
            .select("doc_id")
        )
        off = queries._PLANTED_TWIN_OFFSET
        return {
            (r["doc_id"] + 2_000_000, r["doc_id"] + 2_000_000 + off)
            for r in base.collect()
        }

    def test_minhash_fast_planted(self, spark):
        out = queries.q_minhash_lsh_fast(spark, SF).collect()
        assert {(r["id_a"], r["id_b"]) for r in out} == self._expected(spark)
        assert {r["n_bands_shared"] for r in out} == {8}

    def test_simhash_fast_planted(self, spark):
        out = queries.q_simhash_neardups_fast(spark, SF).collect()
        assert {(r["id_a"], r["id_b"]) for r in out} == self._expected(spark)
        assert all(r["hamming"] == 0 for r in out)


class TestKnnJoinScaleShape:
    """knn_join must never re-join a broadcast DOC-cardinality id set:
    completeness is a window over topk, unresolved docs go through a
    plain (AQE-decided) anti-join.  At 10^12 docs a forced broadcast of
    per-doc ids is an OOM by construction (r3 verdict item 3)."""

    def _docs_pois(self, spark, n_pois=200):
        docs = queries._pts_from_key(
            spark.read.parquet(f"{SF}/orders.parquet"), "o_orderkey"
        )
        pois = spark.range(n_pois).select(
            F.col("id").alias("poi_id"),
            (F.pmod(F.col("id") * F.lit(37.77), F.lit(360.0)) - 180.0).alias("x"),
            (F.pmod(F.col("id") * F.lit(17.17), F.lit(170.0)) - 85.0).alias("y"),
        )
        return docs, pois

    def test_no_doc_side_broadcast_hint(self, spark):
        docs, pois = self._docs_pois(spark)
        out = knn.knn_join(docs, pois, k=3, strategy="cellring")
        lines = (
            out._jdf.queryExecution().analyzed().toString().splitlines()  # noqa: SLF001
        )
        hints = [i for i, l in enumerate(lines) if "ResolvedHint" in l]
        assert hints, "expected the poi-side broadcast hints to be present"
        # every broadcast hint must sit on a POI-derived subtree — the
        # child line projects poi columns.  A hint over a doc-id set
        # (the old complete_ids rejoin) would project doc_id alone.
        for i in hints:
            child = lines[i + 1]
            assert "poi_id" in child, child

    def test_schema_identical_across_strategies(self, spark):
        docs, pois = self._docs_pois(spark, n_pois=50)
        sub = docs.limit(20)
        a = knn.knn_join(sub, pois, k=2, strategy="brute")
        b = knn.knn_join(sub, pois, k=2, strategy="cellring")
        assert a.columns == b.columns
        ra = {(r["doc_id"], r["poi_id"], r["rank"]) for r in a.collect()}
        rb = {(r["doc_id"], r["poi_id"], r["rank"]) for r in b.collect()}
        assert ra == rb

    def test_strategy_validated(self, spark):
        docs, pois = self._docs_pois(spark, n_pois=10)
        with pytest.raises(ValueError, match="strategy"):
            knn.knn_join(docs, pois, strategy="broadcst")
