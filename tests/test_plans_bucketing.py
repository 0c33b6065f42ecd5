"""Plan-hygiene assertions (the .explain checks scale depends on) and
bucketed co-located joins."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from geomatics_geotk_spark import plans, queries
from geomatics_geotk_spark.operators import spatial_join
from geomatics_geotk_spark.sources import bucketing
from geomatics_geotk_spark.sources.documents import synth_documents, zones_table

SF = "/root/testdata/sf0.001"


class TestPlanHygiene:
    def test_pip_join_is_broadcast(self, spark):
        df = queries.q_pip_convex(spark, SF)
        assert plans.plan_has_broadcast(df)
        assert "SortMergeJoin" not in plans.formatted_plan(df)

    def test_revenue_join_is_broadcast(self, spark):
        df = queries.q_revenue_by_nation(spark, SF)
        assert plans.plan_has_broadcast(df)

    def test_column_pruning_reaches_scan(self, spark):
        """tile pipeline projecting (doc_id, cell_id) must not read the
        lineitem-width of the documents table — only doc_id + text feed
        the derived columns."""
        df = queries.q_tile_assign(spark, SF)
        cols = plans.scan_read_schema(df)
        assert "o_orderkey" in cols
        assert "o_totalprice" not in cols and "o_orderdate" not in cols

    def test_filter_pushdown_reaches_scan(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        df = li.where(F.col("l_quantity") > 49).select("l_orderkey", "l_quantity")
        assert plans.plan_has_pushed_filters(df)

    def test_flagship_refine_is_jvm_only(self, spark, tmp_path):
        """The broadcast pip join must contain no Python/Arrow eval node
        and no lambda — the refine is lambda-free Column math in the JVM —
        and its zone side is a local Arrow relation, not a scan of a
        pickled Python RDD.  Once it has run, the final plan compiles the
        join, refine included, in a whole-stage-codegen stage."""
        # parquet, so the docs side holds none of the generator's lambdas
        synth_documents(spark, 2000).write.parquet(str(tmp_path / "docs"))
        docs = spark.read.parquet(str(tmp_path / "docs"))
        tiled = spatial_join.tile_assign(spatial_join.decode_geo_spans(docs), 12)
        joined = spatial_join.spatial_join(
            tiled, zones_table(spark, grid=4), res=12, strategy="broadcast"
        )
        plan = plans.formatted_plan(joined)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "lambdafunction" not in plan
        # the docs side is a parquet scan, so these leaves are the zone side's
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert re.search(r"\*\(\d+\) BroadcastHashJoin", final), final

    def test_zones_table_is_local_relation(self, spark):
        """zones_table plans as a local Arrow relation (its collect is a
        driver-local read, no job), with the same rows as the list-built
        table it replaced (a hash of its sorted rows, recorded then)."""
        z = zones_table(spark, grid=8)
        plan = plans.formatted_plan(z)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert z.schema.simpleString() == (
            "struct<zone_id:string,crs:string,exterior:array<struct<x:double,y:double>>,"
            "interiors:array<array<struct<x:double,y:double>>>>"
        )
        rows = sorted(z.collect())
        assert len(rows) == 66
        assert hashlib.sha256(repr(rows).encode()).hexdigest() == (
            "0f3d57d1a2a3cbafa11231a6eaf63f357fa295ed35bce1c49c5a8b6679914d52"
        )

    def test_dwithin_prep_schema_has_no_slots(self, spark):
        """With a distance margin the zone prep builds no edge slots: its
        output schema is the one the DWithin join has always read."""
        z = spatial_join.prep_zone_struct(zones_table(spark, grid=2), 12, margin_m=5000)
        assert z.schema["_z"].dataType.simpleString() == (
            "struct<exterior:array<struct<x:double,y:double>>,"
            "interiors:array<array<struct<x:double,y:double>>>,"
            "cells:array<struct<cell_id:bigint,full:boolean>>>"
        )

    def test_only_spatial_join_builds_slots(self, spark):
        """The zone preps build edge slots only when asked, as
        spatial_join does: both preps keep their five exploded columns
        and prep_zone_struct its (cell_id, full) cells.  The executor
        prep is one MapInArrow, with no Python UDF."""
        zones = zones_table(spark, grid=2)
        cols = ["cell_id", "zone_id", "full", "exterior", "interiors"]
        z = spatial_join.prep_zone_struct(zones, 12)
        assert spatial_join.prepare_zones(zones, 12)[0].columns == cols
        assert spatial_join._explode_zone_cells(z).columns == cols
        assert z.schema["_z"].dataType["cells"].dataType.elementType.names == ["cell_id", "full"]
        plan = plans.formatted_plan(z)
        assert "MapInArrow" in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    @pytest.mark.parametrize(
        "op", ["spatial_join", "dwithin_zone_join", "geometry_join", "zonal_join", "dwithin_join"])
    def test_zone_side_follows_strategy(self, spark, tmp_path, request, op):
        """Every cell join takes its strategy from one size rule: the
        zones plan's size estimate against Spark's broadcast bound.  Under
        the session default the small zone side is the driver-packed
        local relation (a LocalTableScan, no MapInArrow), broadcast; with
        the bound at -1 it is the checkpointed executor pack (Scan
        ExistingRDD, no LocalTableScan) and nothing is broadcast.
        dwithin_join's poi side is not packed, only broadcast or not by
        the same rule.  Both give the same rows with a bigint zone_id,
        and the rows of string ids."""
        from geomatics_geotk_spark.operators.geometry_join import geometry_join
        from geomatics_geotk_spark.operators.zonal import zonal_join

        # parquet, so the only local relation or RDD scan is the zone side
        synth_documents(spark, 200).write.parquet(str(tmp_path / "docs"))
        pts = spatial_join.tile_assign(
            spatial_join.decode_geo_spans(spark.read.parquet(str(tmp_path / "docs"))), 12
        ).select("doc_id", "lon", "lat", "cell_id")
        joins = {
            "spatial_join": lambda z: spatial_join.spatial_join(
                pts, z, res=12).select("doc_id", "zone_id"),
            "dwithin_zone_join": lambda z: spatial_join.dwithin_zone_join(
                pts, z, 3000.0).select("doc_id", "zone_id", "dist_m"),
            "geometry_join": lambda z: geometry_join(
                pts.select("doc_id", F.format_string("POINT (%s %s)", "lon", "lat").alias("wkt")),
                z),
            "zonal_join": lambda z: zonal_join(
                pts.select(F.col("doc_id").alias("tile_id"),
                           *[(F.col(c) + d).alias(n) for c, d, n in (
                               ("lon", -0.01, "xmin"), ("lat", -0.01, "ymin"),
                               ("lon", 0.01, "xmax"), ("lat", 0.01, "ymax"))]), z),
            # the pois are the lon/lat zones' first corners
            "dwithin_join": lambda z: spatial_join.dwithin_join(
                pts, z.where(F.col("crs") == "CRS:84").select(
                    F.col("zone_id").alias("poi_id"),
                    F.col("exterior")[0]["x"].alias("x"),
                    F.col("exterior")[0]["y"].alias("y")), 20000.0,
            ).select("doc_id", F.col("poi_id").alias("zone_id"), "dist_m"),
        }
        zones = zones_table(spark, grid=2)
        by_hash = dict(zones.select(F.xxhash64("zone_id"), "zone_id").collect())
        bigint = zones.withColumn("zone_id", F.xxhash64("zone_id"))
        named = sorted(map(tuple, joins[op](zones).collect()))
        got = {}
        for bound in ("default", "-1"):
            if bound == "-1":
                request.getfixturevalue("no_broadcast")
            df = joins[op](bigint)
            plan = plans.formatted_plan(df)
            if bound == "default":
                assert "BroadcastHashJoin" in plan, plan
                assert "MapInArrow" not in plan and "ExistingRDD" not in plan, plan
                assert "LocalTableScan" in plan, plan
            else:
                assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan, plan
                if op != "dwithin_join":
                    assert "ExistingRDD" in plan and "LocalTableScan" not in plan, plan
            got[bound] = sorted(df.collect())
        assert got["default"] and got["default"] == got["-1"]
        assert sorted(tuple(by_hash[v] if k == "zone_id" else v for k, v in r.asDict().items())
                      for r in got["-1"]) == named

    def test_zone_side_sizing_runs_no_job(self, spark, tmp_path):
        """The size rule reads the zones plan's Catalyst estimate, which
        runs no Spark job: sizing and packing a parquet zone side on the
        driver takes one job, the collect of its zones."""
        zones_table(spark, grid=2).write.parquet(str(tmp_path / "zones"))
        zones = spark.read.parquet(str(tmp_path / "zones"))
        sc = spark.sparkContext
        group = f"zone-side-{tmp_path.name}"
        sc.setJobGroup(group, "size and pack a zone side")
        try:
            assert spatial_join._broadcastable(zones)
            _, _, broadcast = spatial_join._zone_side(zones, 12)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert broadcast
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    def test_decode_has_no_lambda(self, spark):
        """The decode projection is codegen'd expressions only.  It runs
        over an empty relation with the docs' schema, so the generator's
        own lambdas stay out of the plan."""
        docs = spark.createDataFrame([], synth_documents(spark, 1).schema)
        plan = plans.formatted_plan(spatial_join.decode_geo_spans(docs))
        assert "array_position" in plan
        assert "lambdafunction" not in plan

    def test_zero_zones_join_is_empty(self, spark):
        docs = synth_documents(spark, 100)
        tiled = spatial_join.tile_assign(spatial_join.decode_geo_spans(docs), 12)
        zones = zones_table(spark, grid=4).limit(0)
        for strategy in ("broadcast", "shuffle"):
            joined = spatial_join.spatial_join(tiled, zones, res=12, strategy=strategy)
            assert joined.count() == 0, strategy

    def test_agg_has_mapside_partial(self, spark):
        """Partial + final HashAggregate around one exchange — the
        map-side-combine shape (AQE hides codegen ids pre-execution, so
        assert the aggregation topology instead)."""
        plan = plans.formatted_plan(queries.q_pricing_summary(spark, SF))
        assert plan.count("HashAggregate") >= 2
        assert "Exchange" in plan


class TestBucketedJoin:
    @pytest.fixture(scope="class")
    def tables(self, spark):
        docs = spatial_join.tile_assign(
            spatial_join.decode_geo_spans(synth_documents(spark, 2000)), 10
        ).select("doc_id", "cell_id")
        zones = docs.select("cell_id").distinct().withColumn(
            "zone_tag", F.pmod(F.col("cell_id"), F.lit(7))
        )
        bucketing.write_bucketed(docs, "t_docs_b", n_buckets=8)
        bucketing.write_bucketed(zones, "t_zones_b", n_buckets=8)
        yield "t_docs_b", "t_zones_b"
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_zones_b")

    def test_no_shuffle_exchange(self, spark, tables):
        lt, rt = tables
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bucketing.bucketed_join(spark, lt, rt)
            plan = plans.formatted_plan(j)
            assert "Exchange" not in plan  # co-located: no shuffle at all
            assert j.count() == 2000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def test_rows_match_unbucketed(self, spark, tables):
        lt, rt = tables
        j = bucketing.bucketed_join(spark, lt, rt)
        plain = spark.table(lt).join(spark.table(rt), "cell_id")
        assert j.count() == plain.count()
