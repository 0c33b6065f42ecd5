"""The workloads, built only from the package's public API.

A pass is one closed-loop run of a workload's pipeline: build the
DataFrame, force it through the ``noop`` sink (or the sink write for
``tile_sink``) and read back the row count, an order-insensitive checksum
and the output rows of a seeded sample of docs, all observed inside the
same job.  A traced iteration runs the cumulative prefixes of the
pipeline (scan, +decode, +tile, +probe, full) as separate jobs, each
timed as a span; a layer's time is the difference between consecutive
prefixes.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import gen
import oracle
from meter import Spans, plan_counters

from geomatics_geotk_spark import cells
from geomatics_geotk_spark.functions import point_in_polygon_col
from geomatics_geotk_spark.operators.spatial_join import (
    DEFAULT_RES, decode_geo_spans, dwithin_zone_join, prep_zone_struct, prepare_zones,
    spatial_join, tile_assign,
)
from geomatics_geotk_spark.sources.documents import zones_table
from geomatics_geotk_spark.sources.gml import gml_decode_udf
from geomatics_geotk_spark.sources.sink import checkpointed_write

DISTANCE_M = 5000.0
N_BUCKETS = 16
SAMPLE = 2000
DWITHIN_RES = cells.res_for_meters(max(DISTANCE_M, 500.0) * 4)  # dwithin_zone_join's own choice
TILED_CHECKSUM = ["doc_id", "cell_id"]
TILED_SAMPLE = ["doc_id", "lon", "lat", "cell_id"]
SINK_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "sink")


def _checksum(cols: list[str]):
    """Order-insensitive: a sum of per-row hashes (masked so the sum
    cannot overflow).  ``dist_m`` enters rounded to the millimetre."""
    cols = [F.round(c, 3) if c == "dist_m" else F.col(c) for c in cols]
    return F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF)))


def observed(df: DataFrame, **extra) -> tuple[DataFrame, Observation]:
    """``df`` with a row count (and any ``extra`` aggregates) observed in
    the job that consumes it."""
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")] + [v.alias(k) for k, v in extra.items()]
    return df.observe(obs, *aggs), obs


def noop(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _timed(spans: Spans, name: str, fn):
    with spans.span(name) as s:
        out = fn()
    return s.seconds, out


def _diff(want: set, got: set) -> list[str]:
    errs = [f"missing {x}" for x in sorted(want - got)[:5]]
    errs += [f"unexpected {x}" for x in sorted(got - want)[:5]]
    return errs


class Workload:
    """One workload bound to a Spark session and its generated inputs.

    Every pass is checked three ways: its row count and checksum must
    equal the first pass's, and the output rows of the sample docs must
    equal a brute-force numpy evaluation of those docs.  The sample is
    every doc whose row id is ``seed mod m``, ``m = n // SAMPLE``.
    """

    name = ""
    docs = 0  # input size at which the benchmark runs
    checksum_cols: list[str] = []
    sample_cols: list[str] = []

    def __init__(self, spark, inputs: dict, seed: int, n: int):
        self.spark, self.inputs, self.seed, self.n = spark, inputs, seed, n
        self.modulus = max(1, n // SAMPLE)
        self.sample_ids = np.arange(seed % self.modulus, n, self.modulus, dtype=np.int64)
        self.sample_names = gen.doc_ids(self.sample_ids).to_pylist()
        self._want = None
        self._writes = 0

    def read_docs(self) -> DataFrame:
        return self.spark.read.parquet(self.inputs["docs"])

    def warm_up(self) -> None:
        """The pipeline over the first few input files: every code path
        runs once, and every core starts its Python worker; the output is
        not checked."""
        noop(self.pipeline(self._first_files()))

    def _first_files(self) -> DataFrame:
        """One input file per core (each file is 1/16 of the docs)."""
        k = min(self.spark.sparkContext.defaultParallelism, gen.N_FILES)
        return self.spark.read.parquet(*[os.path.join(self.inputs["docs"], f"part-{i:05d}.parquet")
                                         for i in range(k)])

    def pipeline(self, docs: DataFrame) -> DataFrame:
        raise NotImplementedError

    def expected(self):
        """Brute-force output rows of the sample docs."""
        raise NotImplementedError

    def want(self):
        if self._want is None:
            self._want = self.expected()
        return self._want

    def sample_errors(self, rows: list) -> list[str]:
        got = {tuple(r) for r in rows}
        errs = _diff(self.want(), got)
        if len(rows) != len(got):
            errs.append(f"{len(rows) - len(got)} duplicated sample rows")
        return errs

    def _sample_rows(self, cols: list[str]):
        in_sample = F.substring("doc_id", 5, 12).cast("long") % F.lit(self.modulus) == F.lit(self.seed % self.modulus)
        return F.collect_list(F.when(in_sample, F.struct(*cols)))

    def checks(self) -> dict:
        """Aggregates every pass observes: the checksum and the sample rows."""
        return {"checksum": _checksum(self.checksum_cols), "sample": self._sample_rows(self.sample_cols)}

    def tiled_expected(self) -> set:
        """Sample rows of the tiled docs: (doc_id, lon, lat, cell_id)."""
        lon, lat = gen.points(self.seed, self.sample_ids)
        return set(zip(self.sample_names, lon.tolist(), lat.tolist(),
                       oracle.cell_id(lon, lat, DEFAULT_RES).tolist()))

    def dropped_doc(self) -> str:
        """A sample doc with output rows, for a deliberately wrong output."""
        return min(row[0] for row in self.want())

    def run_pass(self, drop_doc: str | None = None) -> dict:
        """One untraced pass; ``drop_doc`` (self-test only) removes that
        doc's output rows, a deliberately wrong output."""
        t0 = time.perf_counter()
        out = self.pipeline(self.read_docs())
        if drop_doc is not None:
            out = out.where(F.col("doc_id") != F.lit(drop_doc))
        out, obs = observed(out, **self.checks())
        noop(out)
        seconds = time.perf_counter() - t0
        m = obs.get
        return {"seconds": seconds, "rows": m["rows"], "checksum": m["checksum"],
                "errors": self.sample_errors(m["sample"])}

    def traced(self, spans: Spans) -> tuple[dict, dict]:
        """One traced iteration: (layer seconds, counts that must repeat)."""
        raise NotImplementedError

    def _full(self, docs: DataFrame) -> int:
        """The whole pipeline, built and run; its output row count."""
        out, obs = observed(self.pipeline(docs))
        noop(out)
        return obs.get["rows"]

    def trace_counts(self) -> dict:
        """Counters read once per traced run (they repeat exactly per seed)."""
        return plan_counters(self.pipeline(self.read_docs()))

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(SINK_ROOT, str(os.getpid())), ignore_errors=True)

    def sink_write(self, df: DataFrame) -> dict:
        """``checkpointed_write`` of ``df`` into a fresh directory, then the
        resume on that directory, then a read-back check of what landed."""
        self._writes += 1
        out_dir = os.path.join(SINK_ROOT, str(os.getpid()), f"w{self._writes}")
        t0 = time.perf_counter()
        summary = checkpointed_write(df, out_dir, bucket_col="cell_id", n_buckets=N_BUCKETS)
        t1 = time.perf_counter()
        resumed = checkpointed_write(df, out_dir, bucket_col="cell_id", n_buckets=N_BUCKETS)
        t2 = time.perf_counter()
        checks = {"rows": F.count(F.lit(1)), "checksum": _checksum(TILED_CHECKSUM),
                  "sample": self._sample_rows(TILED_SAMPLE),
                  "misfiled": F.sum((F.col("_bucket") != F.pmod("cell_id", F.lit(N_BUCKETS))).cast("long"))}
        back = self.spark.read.parquet(os.path.join(out_dir, "data")).agg(
            *[v.alias(k) for k, v in checks.items()]).first()
        files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs]
        res = {
            "seconds": t1 - t0, "resume_s": t2 - t1, "rows": back["rows"], "checksum": back["checksum"],
            "files_written": sum(f.endswith(".parquet") and "_lineage" not in f for f in files),
            "bytes_written": sum(os.path.getsize(f) for f in files),
            "rows_written": summary["rows"],
            "buckets_skipped": len(resumed["skipped_buckets"]),
            "errors": _diff(self.tiled_expected(), {tuple(r) for r in back["sample"]}),
        }
        shutil.rmtree(out_dir, ignore_errors=True)
        if back["misfiled"]:
            res["errors"].append(f"{back['misfiled']} rows in the wrong bucket")
        if summary["rows"] != back["rows"]:
            res["errors"].append(f"lineage rows {summary['rows']} != rows read back {back['rows']}")
        if resumed["written_buckets"] or len(resumed["skipped_buckets"]) != N_BUCKETS:
            res["errors"].append(f"resume rewrote buckets {resumed['written_buckets']}")
        return res


class FlagshipPip(Workload):
    name = "flagship_pip"
    docs = 200_000
    checksum_cols = sample_cols = ["doc_id", "zone_id", "cell_id"]

    def pipeline(self, docs):
        tiled = tile_assign(decode_geo_spans(docs))
        out = spatial_join(tiled, zones_table(self.spark, grid=8), strategy="broadcast")
        return out.select("doc_id", "zone_id", "cell_id")

    def _zone_rings(self) -> dict[str, list[np.ndarray]]:
        zones = {}
        for r in zones_table(self.spark, grid=8).collect():
            rings = [np.array([(p["x"], p["y"]) for p in ring]) for ring in [r["exterior"], *r["interiors"]]]
            if r["crs"] == "EPSG:4326":  # stored (lat, lon)
                rings = [ring[:, ::-1] for ring in rings]
            zones[r["zone_id"]] = rings
        return zones

    def expected(self):
        names = self.sample_names
        lon, lat = gen.points(self.seed, self.sample_ids)
        cell = dict(zip(names, oracle.cell_id(lon, lat, DEFAULT_RES).tolist()))
        return {(d, z, cell[d]) for d, z in oracle.pip_pairs(names, lon, lat, self._zone_rings())}

    def traced(self, spans):
        times, counts = {}, {}
        docs = self.read_docs()
        decoded = decode_geo_spans(docs)
        tiled = tile_assign(decoded)
        times["scan"], _ = _timed(spans, "prefix.scan", lambda: noop(docs))
        times["decode"], _ = _timed(spans, "prefix.decode", lambda: noop(decoded))
        times["tile"], _ = _timed(spans, "prefix.tile", lambda: noop(tiled))

        def probe():
            with spans.span("operators.spatial_join.prepare_zones") as s:
                zone_cells, _ = prepare_zones(zones_table(self.spark, grid=8), DEFAULT_RES)
            times["prepare_zones"] = s.seconds
            cand, obs = observed(tiled.join(F.broadcast(zone_cells), "cell_id"),
                                 full=F.sum(F.col("full").cast("long")))
            noop(cand)
            return obs.get
        times["probe"], m = _timed(spans, "prefix.probe", probe)
        counts["candidates"], counts["full_accepts"] = m["rows"], m["full"]
        times["full"], counts["output_rows"] = _timed(spans, "prefix.full", lambda: self._full(docs))
        # the sink layer, measured on the same tiled docs (tile_sink's
        # pipeline), so a run of this workload covers every layer
        times["sink"], sink = _timed(spans, "prefix.sink", lambda: self.sink_write(tiled))
        counts.update({k: sink[k] for k in ("rows_written", "files_written", "buckets_skipped")})
        counts["sink_errors"] = sink["errors"]
        layers = {
            "sources.scan_s": times["scan"],
            "operators.spatial_join.decode_s": times["decode"] - times["scan"],
            "operators.spatial_join.tile_s": times["tile"] - times["decode"],
            "operators.spatial_join.prepare_zones_s": times["prepare_zones"],
            "operators.spatial_join.probe_s": times["probe"] - times["prepare_zones"] - times["tile"],
            "functions.pip_refine_s": times["full"] - times["probe"],
            "sources.sink.write_s": sink["seconds"] - times["tile"],
            "sources.sink.resume_s": sink["resume_s"],
            "sources.sink.bytes_written": sink["bytes_written"],
        }
        return layers, counts

    def trace_counts(self):
        out = super().trace_counts()
        zone_cells, _ = prepare_zones(zones_table(self.spark, grid=8), DEFAULT_RES)
        zc = zone_cells.agg(F.count(F.lit(1)).alias("n"), F.sum((~F.col("full")).cast("long")).alias("p")).first()
        out["cells.zone_cells"], out["cells.partial_cells"] = zc["n"], zc["p"]
        # the refine decomposed with the package's own Column predicate:
        # attempts are the partial-cell candidates, accepts those inside
        cand = tile_assign(decode_geo_spans(self.read_docs())).join(F.broadcast(zone_cells), "cell_id")
        pip = point_in_polygon_col(F.col("lon"), F.col("lat"), F.col("exterior"), F.col("interiors"))
        r = cand.where(~F.col("full")).agg(
            F.count(F.lit(1)).alias("a"), F.sum(pip.cast("long")).alias("k")).first()
        out["operators.spatial_join.refine_attempts"] = r["a"]
        out["operators.spatial_join.refine_accepts"] = r["k"] or 0
        return out


class GmlDwithin(Workload):
    name = "gml_dwithin"
    docs = 20_000
    checksum_cols = sample_cols = ["doc_id", "zone_id", "dist_m"]
    _udf_spark = None

    def zones(self):
        return self.spark.read.parquet(self.inputs["zones"])

    def decoded(self, docs):
        # a UDF object caches its JVM twin, which outlives a SparkContext
        # restart; wrap the package's decode function afresh per session
        if self._udf_spark is not self.spark:
            self._udf, self._udf_spark = F.pandas_udf(gml_decode_udf.func, gml_decode_udf.returnType), self.spark
        geo = F.element_at(F.filter("spans", lambda s: s["kind"] == F.lit("geo")), 1)["text"]
        return docs.select("doc_id", self._udf(geo).alias("g"))

    @staticmethod
    def points(decoded):
        """Axis-normalise: EPSG:4326 stores (lat, lon), CRS:84 (lon, lat)."""
        latlon = F.col("g.crs") == F.lit("EPSG:4326")
        return decoded.where(F.col("g.error").isNull()).select(
            "doc_id",
            F.when(latlon, F.col("g.first_y")).otherwise(F.col("g.first_x")).alias("lon"),
            F.when(latlon, F.col("g.first_x")).otherwise(F.col("g.first_y")).alias("lat"),
        )

    def pipeline(self, docs):
        out = dwithin_zone_join(self.points(self.decoded(docs)), self.zones(), distance_m=DISTANCE_M)
        return out.select("doc_id", "zone_id", "dist_m")

    def expected(self):
        _, bad = gen.gml_flags(self.seed, self.sample_ids)
        lon, lat = gen.points(self.seed, self.sample_ids)
        zones = {z["zone_id"]: z["rings_lonlat"] for z in gen.dwithin_zones(self.seed)}
        names = np.array(self.sample_names, dtype=object)
        return oracle.dwithin_rows(names[~bad], lon[~bad], lat[~bad], zones, DISTANCE_M)

    def sample_errors(self, rows):
        """Pairs must match and distances agree to the millimetre; a pair
        within a millimetre of the threshold may fall either side."""
        want = self.want()
        got = {(r["doc_id"], r["zone_id"]): r["dist_m"] for r in rows}
        edge = {k for k, v in {**want, **got}.items() if abs(v - DISTANCE_M) < 1e-3}
        errs = _diff(set(want) - edge, set(got) - edge)
        errs += [f"dist {k}: want {want[k]:.4f} got {got[k]:.4f}" for k in set(want) & set(got)
                 if abs(want[k] - got[k]) > 1e-3][:5]
        if len(rows) != len(got):
            errs.append(f"{len(rows) - len(got)} duplicated sample rows")
        return errs

    def traced(self, spans):
        times, counts = {}, {}
        docs = self.read_docs()
        dec = self.decoded(docs)
        dec_obs, dobs = observed(dec, errors=F.sum(F.col("g.error").isNotNull().cast("long")))
        tiled = tile_assign(self.points(dec), DWITHIN_RES)
        times["scan"], _ = _timed(spans, "prefix.scan", lambda: noop(docs))
        times["decode"], _ = _timed(spans, "prefix.decode", lambda: noop(dec_obs))
        counts["decode_errors"] = dobs.get["errors"]
        times["tile"], _ = _timed(spans, "prefix.tile", lambda: noop(tiled))

        def zone_cells():
            z = prep_zone_struct(self.zones(), DWITHIN_RES, margin_m=DISTANCE_M)
            return z.select("zone_id", F.explode("_z.cells").alias("_c")).select(
                F.col("_c.cell_id").alias("cell_id"), "zone_id", F.col("_c.full").alias("full"))
        times["prep"], _ = _timed(spans, "operators.spatial_join.prep_zone_struct", lambda: noop(zone_cells()))
        cand, cobs = observed(tiled.join(F.broadcast(zone_cells()), "cell_id"),
                              full=F.sum(F.col("full").cast("long")))
        times["probe"], _ = _timed(spans, "prefix.probe", lambda: noop(cand))
        counts["candidates"], counts["full"] = cobs.get["rows"], cobs.get["full"]
        times["full"], counts["output_rows"] = _timed(spans, "prefix.full", lambda: self._full(docs))
        layers = {
            "sources.scan_s": times["scan"],
            "sources.gml.decode_s": times["decode"] - times["scan"],
            "operators.spatial_join.tile_s": times["tile"] - times["decode"],
            "operators.spatial_join.dwithin_prep_s": times["prep"],
            "operators.spatial_join.probe_s": times["probe"] - times["prep"] - times["tile"],
            "kernels.dwithin_refine_s": times["full"] - times["probe"],
        }
        return layers, counts


class TileSink(Workload):
    """Runnable on its own; not in BENCHMARK.json (see perfbench/README.md).
    ``flagship_pip``'s traced run measures the same sink layer."""

    name = "tile_sink"
    docs = 200_000
    def pipeline(self, docs):
        return tile_assign(decode_geo_spans(docs))

    def expected(self):
        return self.tiled_expected()

    def run_pass(self, drop_doc=None):
        df = self.pipeline(self.read_docs())
        return self.sink_write(df if drop_doc is None else df.where(F.col("doc_id") != F.lit(drop_doc)))

    def warm_up(self):
        self.sink_write(self.pipeline(self._first_files()))

    def traced(self, spans):
        times = {}
        docs = self.read_docs()
        decoded = decode_geo_spans(docs)
        tiled = tile_assign(decoded)
        times["scan"], _ = _timed(spans, "prefix.scan", lambda: noop(docs))
        times["decode"], _ = _timed(spans, "prefix.decode", lambda: noop(decoded))
        times["tile"], _ = _timed(spans, "prefix.tile", lambda: noop(tiled))
        _, sink = _timed(spans, "prefix.sink", lambda: self.sink_write(tiled))
        counts = {k: sink[k] for k in ("rows_written", "files_written", "buckets_skipped")}
        counts["output_rows"], counts["sink_errors"] = sink["rows"], sink["errors"]
        layers = {
            "sources.scan_s": times["scan"],
            "operators.spatial_join.decode_s": times["decode"] - times["scan"],
            "operators.spatial_join.tile_s": times["tile"] - times["decode"],
            "sources.sink.write_s": sink["seconds"] - times["tile"],
            "sources.sink.resume_s": sink["resume_s"],
            "sources.sink.bytes_written": sink["bytes_written"],
        }
        return layers, counts


WORKLOADS = {w.name: w for w in (FlagshipPip, GmlDwithin, TileSink)}
