"""Seeded benchmark inputs, generated without Spark and cached per seed.

Everything is a pure function of (row id, seed) through splitmix64, so
the same seed always gives byte-identical parquet files.  The spatial
distribution mirrors the CC-style pages the engine targets: a few dense
city clusters (the first one hot) over a uniform British National Grid
background; about 70% of pages carry a `geo:E,N` token, 5% a
`bbox:` token and the rest nothing.

Inputs land in `<cache>/<workload>-<size>-s<seed>/` and are written to
a temporary sibling first, then renamed, so a killed run never leaves a
half-written input set behind.  They are read-only afterwards.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DOMAIN_X = 700000.0
DOMAIN_Y = 1300000.0
# (easting, northing, weight); the first is the hot cell cluster
CITIES = np.array(
    [
        [530000.0, 180000.0, 8.0],
        [383000.0, 398000.0, 4.0],
        [406000.0, 286000.0, 2.0],
        [336000.0, 173000.0, 2.0],
        [258000.0, 665000.0, 1.0],
        [424000.0, 565000.0, 1.0],
        [447000.0, 387000.0, 1.0],
        [292000.0, 92000.0, 1.0],
    ]
)
_CDF = np.cumsum(CITIES[:, 2] / CITIES[:, 2].sum())
# the hot city's whole cluster (centre ± 15 km); ~32% of all points
LONDON_BBOX = (515000.0, 165000.0, 545000.0, 195000.0)
WORDS = np.array(
    "the quick brown fox jumps over lazy dog market street river bridge park "
    "school church mill lane high road town city council house farm field wood "
    "hill green south north east west new old great little".split()
)
N_FILES = 16  # parquet files per table, so every core gets scan splits


def _splitmix64(v: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = v.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _u01(ids: np.ndarray, salt: int, seed: int) -> np.ndarray:
    h = _splitmix64(ids.astype(np.uint64) ^ np.uint64((seed * 1315423911 + salt) & (2**64 - 1)))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def coords(ids: np.ndarray, seed: int, salt: int = 0):
    """Skewed (x, y) in metres, rounded to centimetres: 80% around the
    weighted city centres, 20% uniform over the domain."""
    u = [_u01(ids, salt + k, seed) for k in range(6)]
    ci = np.searchsorted(_CDF, u[0], side="right").clip(0, len(CITIES) - 1)
    spread = 15000.0
    cx = CITIES[ci, 0] + (u[1] + u[2] - 1.0) * spread
    cy = CITIES[ci, 1] + (u[3] + u[4] - 1.0) * spread
    city = u[5] < 0.8
    x = np.where(city, cx, u[1] * DOMAIN_X)
    y = np.where(city, cy, u[3] * DOMAIN_Y)
    return np.round(np.clip(x, 0.0, DOMAIN_X), 2), np.round(np.clip(y, 0.0, DOMAIN_Y), 2)


def _fmt2(v: np.ndarray) -> pa.Array:
    """Decimal text with exactly two fraction digits, e.g. 530000.50."""
    cm = np.round(v * 100.0).astype(np.int64)
    whole = pa.array(cm // 100).cast(pa.string())
    frac = pc.utf8_lpad(pa.array(cm % 100).cast(pa.string()), 2, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def page_points(n: int, seed: int):
    """(page ids, x, y) of the pages that carry a `geo:` point."""
    ids = np.arange(n, dtype=np.int64)
    x, y = coords(ids, seed)
    has_point = _u01(ids, 10, seed) < 0.70
    return ids[has_point], x[has_point], y[has_point]


def pages_table(n: int, seed: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    x, y = coords(ids, seed)
    u_kind = _u01(ids, 10, seed)
    n_words = 5 + (_splitmix64(ids ^ np.int64(seed + 11)) % np.uint64(12)).astype(np.int64)
    w = [
        pa.array(WORDS[(_splitmix64(ids ^ np.int64(seed * 31 + 12 + k)) % np.uint64(len(WORDS))).astype(np.int64)])
        for k in range(3)
    ]
    sid = pa.array(ids).cast(pa.string())
    phrase = _cat(w[0], " ", w[1], " ", w[2], " ")
    body = pc.utf8_rtrim_whitespace(pc.binary_repeat(phrase, pa.array(n_words // 3 + 1)))
    half = 150.0
    geo = _cat(" geo:", _fmt2(x), ",", _fmt2(y))
    bbox = _cat(
        " bbox:", _fmt2(np.maximum(0.0, x - half)), ",", _fmt2(np.maximum(0.0, y - half)),
        ",", _fmt2(x + half), ",", _fmt2(y + half),
    )
    kind_pt = pa.array(u_kind < 0.70)
    kind_bb = pa.array((u_kind >= 0.70) & (u_kind < 0.75))
    suffix = pc.if_else(kind_pt, geo, pc.if_else(kind_bb, bbox, pa.scalar("")))
    html = _cat(
        "<html><head><title>p", sid, "</title></head><body><p>", body, suffix, "</p></body></html>"
    ).cast(pa.binary())
    url = _cat("https://site", pa.array(ids % 997).cast(pa.string()), ".example.org/page/", sid)
    return pa.table({"page_id": ids, "url": url, "html": html})


def points_table(n: int, seed: int, salt: int = 0) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    x, y = coords(ids, seed, salt)
    return pa.table({"id": ids, "x": x, "y": y})


def point_wkb(x: np.ndarray, y: np.ndarray) -> list:
    """Little-endian 2-D WKB points (21 bytes each)."""
    buf = np.zeros((len(x), 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = 1
    buf[:, 5:13] = x.astype("<f8").view(np.uint8).reshape(-1, 8)
    buf[:, 13:21] = y.astype("<f8").view(np.uint8).reshape(-1, 8)
    return [r.tobytes() for r in buf]


def square_wkb(x: np.ndarray, y: np.ndarray, half: np.ndarray) -> list:
    """Little-endian WKB axis-aligned squares (one closed ring)."""
    n = len(x)
    head = np.zeros((n, 13), dtype=np.uint8)
    head[:, 0] = 1
    head[:, 1] = 3  # polygon
    head[:, 5] = 1  # one ring
    head[:, 9] = 5  # five points
    ring = np.stack(
        [x - half, y - half, x + half, y - half, x + half, y + half, x - half, y + half, x - half, y - half],
        axis=1,
    ).astype("<f8")
    buf = np.concatenate([head, ring.view(np.uint8).reshape(n, 80)], axis=1)
    return [r.tobytes() for r in buf]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _build(workload: str, sizes: dict, seed: int, out: str) -> None:
    if workload == "pages_flagship":
        pages = pages_table(sizes["pages"], seed)
        _write(pages, os.path.join(out, "pages"))
        # the points written into the html, for the independent check
        ids, x, y = page_points(sizes["pages"], seed)
        _write(pa.table({"page_id": ids, "url": pages["url"].take(ids), "x": x, "y": y}),
               os.path.join(out, "page_points"))
    elif workload == "joins_gpkg":
        _write(points_table(sizes["points"], seed), os.path.join(out, "points"))
        # kNN queries and predicate probes follow the same skew, with
        # ids and coordinates of their own
        _write(points_table(sizes["knn_queries"], seed, salt=100), os.path.join(out, "queries"))
        q = points_table(sizes["probe_polys"], seed, salt=200)
        x, y = q["x"].to_numpy(), q["y"].to_numpy()
        half = 100.0 + 400.0 * _u01(q["id"].to_numpy(), 300, seed)
        _write(
            pa.table({"lid": q["id"], "geom": pa.array(square_wkb(x, y, half), pa.binary())}),
            os.path.join(out, "probes"),
        )
        t = points_table(sizes["features"], seed, salt=400)
        attr = (_splitmix64(t["id"].to_numpy() ^ np.int64(seed + 500)) % np.uint64(1_000_000)).astype(np.int64)
        x, y = t["x"].to_numpy(), t["y"].to_numpy()
        _write(
            pa.table({"fid_src": t["id"], "attr": attr, "geom": pa.array(point_wkb(x, y), pa.binary()),
                      "x": x, "y": y}),
            os.path.join(out, "features"),
        )
    else:
        raise ValueError(f"unknown workload {workload!r}")


def ensure(cache: str, workload: str, sizes: dict, seed: int) -> str:
    """Path of the cached input set, generating it first if missing."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    path = os.path.join(cache, f"{workload}-{tag}-s{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _build(workload, sizes, seed, tmp)
    with open(os.path.join(tmp, "sizes.json"), "w") as f:
        json.dump(sizes, f)
    try:
        os.rename(tmp, path)
    except OSError:  # another run won the race; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def read_expectation(path: str, name: str):
    p = os.path.join(path, f"expect-{name}.json")
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def write_expectation(path: str, name: str, value) -> None:
    p = os.path.join(path, f"expect-{name}.json")
    tmp = f"{p}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, p)
