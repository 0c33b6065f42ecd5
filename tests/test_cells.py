"""Cell-grid index invariants (the engine's spatial index — no reference
counterpart; geomatics-geotk evaluates predicates pairwise with no index)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geomatics_geotk_spark import cells


class TestCellIndex:
    def test_point_within_own_cell_bounds(self):
        lon, lat = -123.1839, 49.1947
        c = cells.cell_of([lon], [lat], 12)[0]
        x0, y0, x1, y1 = cells.cell_bounds(int(c))
        assert x0 <= lon < x1 and y0 <= lat < y1

    def test_resolution_encoded(self):
        c = cells.cell_of([0.0], [0.0], 7)[0]
        assert int(c) >> 58 == 7

    def test_different_res_different_cells(self):
        c1 = cells.cell_of([10.0], [20.0], 10)[0]
        c2 = cells.cell_of([10.0], [20.0], 11)[0]
        assert c1 != c2

    def test_covering_contains_point_cell(self):
        c = cells.cell_of([-123.0], [49.5], 12)[0]
        cover = cells.cells_covering(-123.5, 49.0, -122.5, 50.0, 12)
        assert int(c) in set(cover.tolist())

    def test_covering_single_cell_for_tiny_box(self):
        cover = cells.cells_covering(-123.001, 49.001, -123.0005, 49.0015, 8)
        assert len(cover) == 1

    def test_ring_sizes(self):
        c = int(cells.cell_of([-123.0], [49.5], 10)[0])
        assert len(cells.ring(c, 0)) == 1
        assert len(cells.ring(c, 1)) == 8
        assert len(cells.ring(c, 2)) == 16
        assert len(cells.disk(c, 1)) == 9

    def test_ring_cells_adjacent(self):
        c = int(cells.cell_of([-123.0], [49.5], 10)[0])
        x0, y0, x1, y1 = cells.cell_bounds(c)
        for rc in cells.ring(c, 1):
            bx0, by0, bx1, by1 = cells.cell_bounds(int(rc))
            # shares at least a corner with the center cell
            assert bx1 >= x0 - 1e-9 and bx0 <= x1 + 1e-9
            assert by1 >= y0 - 1e-9 and by0 <= y1 + 1e-9

    def test_res_for_meters(self):
        r = cells.res_for_meters(5000.0)
        x0, y0, x1, y1 = cells.cell_bounds(int(cells.cell_of([0.0], [0.0], r)[0]))
        assert (y1 - y0) * 111_320.0 <= 5000.0

    @settings(max_examples=200, deadline=None)
    @given(
        lon=st.floats(min_value=-179.999, max_value=179.999),
        lat=st.floats(min_value=-89.999, max_value=89.999),
        res=st.integers(min_value=0, max_value=20),
    )
    def test_roundtrip_property(self, lon, lat, res):
        c = int(cells.cell_of([lon], [lat], res)[0])
        x0, y0, x1, y1 = cells.cell_bounds(c)
        assert x0 - 1e-9 <= lon <= x1 + 1e-9
        assert y0 - 1e-9 <= lat <= y1 + 1e-9


def test_pyramid_parent_by_morton_shift_matches_direct_encode():
    """Deriving a coarser cell by shifting the fine cell's Morton code
    (tile_pyramid's map-side derivation) must be bit-identical to
    encoding the point directly at the coarser resolution."""
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 5000)
    lat = rng.uniform(-90, 90, 5000)
    fine = cells.cell_of(lon, lat, 12)
    morton = fine.astype(np.uint64) & ((np.uint64(1) << np.uint64(58)) - np.uint64(1))
    for r in (10, 8):
        derived = ((np.uint64(r) << np.uint64(58)) | (morton >> np.uint64(2 * (12 - r)))).astype(np.int64)
        direct = cells.cell_of(lon, lat, r)
        assert np.array_equal(derived, direct)


def test_cell_of_matches_cell_id_col_fuzz(spark):
    """Seeded fuzz: the numpy ``cells.cell_of`` and the Column
    ``functions.cell_id_col`` give bit-identical ids at every resolution
    0-28, on exact cell edges and their ``nextafter`` neighbours, the
    ±180/±90 domain edges, values just past the domain (which clamp) and
    uniform points — about 10^4 cases, compared in one Spark job."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geomatics_geotk_spark.functions import cell_id_col

    rng = np.random.default_rng(20261018)
    n = 360

    def pool(half, n_cells):
        edges = -half + 2 * half * rng.integers(0, n_cells + 1, 40) / n_cells
        domain = np.array([-half, half])
        past = np.array([-half - 1e-9, half + 1e-9, -half - 1.0, half + 1.0])
        vals = np.concatenate([
            edges, np.nextafter(edges, -np.inf), np.nextafter(edges, np.inf),
            domain, np.nextafter(domain, -np.inf), np.nextafter(domain, np.inf),
            past, rng.uniform(-half, half, 150),
        ])
        return rng.permutation(np.concatenate([vals, rng.choice(vals, n - len(vals))]))

    parts = []
    for res in range(cells.MAX_RES + 1):
        lon, lat = pool(180.0, 1 << (res + 1)), pool(90.0, 1 << res)
        parts.append(pd.DataFrame({
            "res": res, "lon": lon, "lat": lat, "want": cells.cell_of(lon, lat, res),
        }))
    pdf = pd.concat(parts, ignore_index=True).reset_index(names="i")
    df = spark.createDataFrame(pdf.drop(columns="want"))
    got = df.where(F.col("res") == 0).select("i", cell_id_col(F.col("lon"), F.col("lat"), 0))
    for res in range(1, cells.MAX_RES + 1):
        got = got.unionAll(df.where(F.col("res") == res).select(
            "i", cell_id_col(F.col("lon"), F.col("lat"), res)))
    got = got.toPandas().set_index("i")["cell_id"].sort_index()
    assert len(pdf) == 29 * n
    bad = pdf[got.to_numpy() != pdf["want"].to_numpy()]
    assert bad.empty, bad.head(10)


class TestGeohash:
    def test_canonical_vector(self, spark):
        """Wikipedia's worked example: (57.64911N, 10.40744E) -> u4pruydqqvj."""
        from pyspark.sql import functions as F
        from geomatics_geotk_spark.functions import geohash_col
        df = spark.createDataFrame([(10.40744, 57.64911)], "lon double, lat double")
        for p in (1, 6, 9, 11):
            (r,) = df.select(geohash_col(F.col("lon"), F.col("lat"), p).alias("g")).collect()
            assert r.g == "u4pruydqqvj"[:p], (p, r.g)

    def test_poles_and_antimeridian_clamp(self, spark):
        from pyspark.sql import functions as F
        from geomatics_geotk_spark.functions import geohash_col
        df = spark.createDataFrame(
            [(180.0, 90.0), (-180.0, -90.0), (0.0, 0.0)], "lon double, lat double"
        )
        out = [r.g for r in df.select(
            geohash_col(F.col("lon"), F.col("lat"), 4).alias("g")).collect()]
        assert out[0] == "zzzz" and out[1] == "0000" and out[2] == "s000"

    def test_precision_validation(self):
        import pytest
        from pyspark.sql import functions as F
        from geomatics_geotk_spark.functions import geohash_col
        with pytest.raises(ValueError):
            geohash_col(F.lit(0.0), F.lit(0.0), 0)
        with pytest.raises(ValueError):
            geohash_col(F.lit(0.0), F.lit(0.0), 13)

    def test_prefix_nesting(self, spark):
        """A finer geohash is always an extension of the coarser one —
        the hierarchical-containment property tile pruning relies on."""
        from pyspark.sql import functions as F
        from geomatics_geotk_spark.functions import geohash_col
        pts = [(-123.5 + i * 0.037, 49.0 + (i * 7 % 13) * 0.07) for i in range(40)]
        df = spark.createDataFrame(pts, "lon double, lat double")
        rows = df.select(
            geohash_col(F.col("lon"), F.col("lat"), 4).alias("g4"),
            geohash_col(F.col("lon"), F.col("lat"), 7).alias("g7"),
        ).collect()
        assert all(r.g7.startswith(r.g4) for r in rows)
