"""Seeded input generators for the benchmark workloads.

Every value is a pure function of ``(seed, row id, salt)`` through a
splitmix64 mix, so any single row can be recomputed without the rest
(the output check re-derives its sample this way) and two runs with the
same seed write byte-identical inputs.  Inputs are written once per
(workload, size, seed) as parquet under ``perfbench/.cache``; the program
under test only ever receives that parquet.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Same geography as the package fixtures: the Vancouver box, with three
# hot spots that concentrate 20% of the points (skewed cells).
BOX = (-123.5, 49.0, -122.5, 50.0)
HOT_CENTERS = np.array([(-123.12, 49.28), (-123.00, 49.25), (-122.80, 49.19)])
HOT_SHARE = 0.2
GML_BAD_SHARE = 0.01
N_FILES = 16

_WORDS = np.array(
    "spark shuffle join tile cell geo span media index scan batch arrow vector "
    "kernel envelope polygon point curve surface temporal period".split(),
    dtype=object,
)
_GML_NS = "http://www.opengis.net/gml/3.2"

WHY = {
    "flagship_pip": "north-star pipeline (WKT decode, tile, broadcast cell probe, "
                    "Column PIP refine); no Python in the plan",
    "gml_dwithin": "paper's front door (GML decode, DWithin); both heavy layers are "
                   "Arrow pandas UDFs and the WKT decode and Column refine are bypassed",
    "tile_sink": "same decode and tile layers as flagship_pip but ends in a bucketed "
                 "parquet write, a lineage commit and a resume",
}


def mix(seed: int, ids: np.ndarray, salt) -> np.ndarray:
    """splitmix64 of (seed, id, salt) as uint64; ``salt`` may be an array."""
    with np.errstate(over="ignore"):
        z = (np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
             + np.asarray(salt, dtype=np.uint64) * np.uint64(0xD1B54A32D192ED03)
             + np.asarray(ids, dtype=np.uint64) * np.uint64(0xBF58476D1CE4E5B9))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def uniform(seed: int, ids: np.ndarray, salt) -> np.ndarray:
    """Uniform [0, 1) per (seed, id, salt)."""
    return (mix(seed, ids, salt) >> np.uint64(11)).astype(np.float64) * 2.0 ** -53


def points(seed: int, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) of each doc's geo span, rounded to 7 decimals so the text
    form parses back to the identical double."""
    hot = uniform(seed, ids, 1) < HOT_SHARE
    pick = (mix(seed, ids, 2) % np.uint64(3)).astype(np.int64)
    jx = (uniform(seed, ids, 3) - 0.5) * 0.01
    jy = (uniform(seed, ids, 5) - 0.5) * 0.01
    lon = np.where(hot, HOT_CENTERS[pick, 0] + jx, BOX[0] + uniform(seed, ids, 4) * (BOX[2] - BOX[0]))
    lat = np.where(hot, HOT_CENTERS[pick, 1] + jy, BOX[1] + uniform(seed, ids, 6) * (BOX[3] - BOX[1]))
    return np.round(lon, 7), np.round(lat, 7)


def _num_str(x: np.ndarray) -> pa.Array:
    s = pc.cast(pa.array(x), pa.string())
    if not np.array_equal(pc.cast(s, pa.float64()).to_numpy(), x):
        raise RuntimeError("coordinate text does not round-trip")
    return s


def gml_flags(seed: int, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lat_lon_order, malformed) per doc of the GML workload."""
    return uniform(seed, ids, 20) < 0.5, uniform(seed, ids, 21) < GML_BAD_SHARE


def geo_text(seed: int, ids: np.ndarray, encoding: str) -> pa.Array:
    lon, lat = points(seed, ids)
    xs, ys = _num_str(lon), _num_str(lat)
    if encoding == "wkt":
        return pc.binary_join_element_wise("POINT (", xs, " ", ys, ")", "")
    latlon, bad = gml_flags(seed, ids)
    srs = pa.array(np.where(latlon, "EPSG:4326", "CRS:84"))
    first = pc.if_else(pa.array(latlon), ys, xs)
    second = pc.if_else(pa.array(latlon), xs, ys)
    # a malformed doc loses its closing </gml:pos> tag: the XML parser rejects it
    close = pa.array(np.where(bad, "", "</gml:pos>"))
    return pc.binary_join_element_wise(
        f'<gml:Point xmlns:gml="{_GML_NS}" srsName="', srs, '"><gml:pos>',
        first, " ", second, close, "</gml:Point>", "",
    )


def documents(seed: int, n: int, encoding: str) -> pa.Table:
    """doc_id, spans array<struct<kind, text, media_ref, offset>>: 2-8 spans
    interleaving text and media, exactly one ``geo`` span at a seeded
    position (the package's documents shape)."""
    ids = np.arange(n, dtype=np.int64)
    n_other = (mix(seed, ids, 7) % np.uint64(7)).astype(np.int64) + 1
    geo_pos = (mix(seed, ids, 8) % (n_other + 1).astype(np.uint64)).astype(np.int64)
    counts = n_other + 1
    starts = np.concatenate([[0], np.cumsum(counts)])
    doc = np.repeat(ids, counts)
    j = np.arange(starts[-1]) - np.repeat(starts[:-1], counts)
    is_geo = j == np.repeat(geo_pos, counts)
    other_i = np.where(j > np.repeat(geo_pos, counts), j - 1, j)
    is_text = ~is_geo & (other_i % 2 == 0)

    words = [pa.array(_WORDS[(mix(seed, doc, 10 * k + other_i) % np.uint64(len(_WORDS))).astype(np.int64)])
             for k in (1, 2, 3)]
    text = pc.if_else(pa.array(is_text), pc.binary_join_element_wise(*words, " "), "")
    text = pc.if_else(pa.array(is_geo), pc.take(geo_text(seed, ids, encoding), pa.array(doc)), text)
    media = ~is_geo & ~is_text
    media_ref = pc.if_else(
        pa.array(media),
        pc.binary_join_element_wise("media://blob/", pc.cast(pa.array(doc), pa.string()), "/",
                                    pc.cast(pa.array(other_i), pa.string()), ""),
        "",
    )
    kind = pa.array(np.where(is_geo, "geo", np.where(is_text, "text", "media")))
    spans = pa.StructArray.from_arrays(
        [kind, text, media_ref, pa.array((j * 10).astype(np.int32))],
        names=["kind", "text", "media_ref", "offset"],
    )
    return pa.table({
        "doc_id": doc_ids(ids),
        "spans": pa.ListArray.from_arrays(pa.array(starts.astype(np.int32)), spans),
    })


def doc_ids(ids: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise("doc-", pc.utf8_lpad(pc.cast(pa.array(ids), pa.string()), 12, "0"), "")


def dwithin_zones(seed: int, n: int = 48) -> list[dict]:
    """Irregular star-shaped polygon zones inside the box: 6-14 vertices
    with jittered angle and radius (so many are concave), every third
    stored as EPSG:4326 (lat, lon) order.

    No zone has a hole: ``prep_zone_struct`` evaluates ``interiors or []``
    on the Arrow-decoded array and raises ValueError for any zone with an
    interior ring.

    Returns dicts with ``zone_id``, ``crs``, ``exterior`` and
    ``interiors`` as stored, plus ``rings_lonlat`` for the output check.
    """
    zid = np.arange(n, dtype=np.int64)
    cx = BOX[0] + 0.1 + uniform(seed, zid, 101) * (BOX[2] - BOX[0] - 0.2)
    cy = BOX[1] + 0.1 + uniform(seed, zid, 102) * (BOX[3] - BOX[1] - 0.2)
    zones = []
    for i in range(n):
        k = 6 + int(mix(seed, i, 103) % np.uint64(9))
        r = 0.02 + 0.04 * uniform(seed, i, 104)
        v = np.arange(k)
        ang = 2 * np.pi * (v + 0.6 * (uniform(seed, v + 1000 * i, 105) - 0.5)) / k
        rad = r * (0.6 + 0.4 * uniform(seed, v + 1000 * i, 106))
        ext = np.round(np.column_stack([cx[i] + 1.5 * rad * np.cos(ang), cy[i] + rad * np.sin(ang)]), 7)
        rings = [np.vstack([ext, ext[:1]])]
        latlon = i % 3 == 0
        stored = [ring[:, ::-1] if latlon else ring for ring in rings]
        zones.append({
            "zone_id": f"dz-{i:03d}",
            "crs": "EPSG:4326" if latlon else "CRS:84",
            "exterior": [{"x": float(x), "y": float(y)} for x, y in stored[0]],
            "interiors": [[{"x": float(x), "y": float(y)} for x, y in h] for h in stored[1:]],
            "rings_lonlat": rings,
        })
    return zones


def _write_docs(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    rows = table.num_rows
    for f in range(N_FILES):
        lo, hi = rows * f // N_FILES, rows * (f + 1) // N_FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{f:05d}.parquet"))


def ensure_inputs(cache_root: str, workload: str, n: int, seed: int) -> dict:
    """Write the workload's inputs once per (workload, n, seed); return
    {"docs": parquet dir, "zones": parquet file or None, "bytes": input bytes}."""
    base = os.path.join(cache_root, f"{workload}-n{n}-s{seed}")
    meta_path = os.path.join(base, "meta.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(base, ignore_errors=True)
        tmp = base + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        encoding = "gml" if workload == "gml_dwithin" else "wkt"
        _write_docs(documents(seed, n, encoding), os.path.join(tmp, "docs"))
        if workload == "gml_dwithin":
            zs = dwithin_zones(seed)
            pq.write_table(pa.Table.from_pylist(
                [{k: z[k] for k in ("zone_id", "crs", "exterior", "interiors")} for z in zs]
            ), os.path.join(tmp, "zones.parquet"))
        docs_bytes = sum(os.path.getsize(os.path.join(tmp, "docs", f))
                         for f in os.listdir(os.path.join(tmp, "docs")))
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({"workload": workload, "docs": n, "seed": seed, "encoding": encoding,
                       "docs_bytes": docs_bytes, "why": WHY[workload]}, fh, indent=1)
        os.rename(tmp, base)
    with open(meta_path) as fh:
        meta = json.load(fh)
    zones = os.path.join(base, "zones.parquet")
    return {"docs": os.path.join(base, "docs"),
            "zones": zones if os.path.exists(zones) else None,
            "bytes": meta["docs_bytes"]}
