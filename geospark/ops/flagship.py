"""Fused flagship pipeline: pages → geocode → cell → PIP join → tile,
in ONE python stage.

Why fusion matters at scale: every chained pandas-UDF stage costs a
JVM↔Python Arrow round-trip *and* one python worker per task — at
local[32] a 3-stage chain runs ~96 worker processes on 32 cores and
scaling efficiency collapses (measured 0.38 from 8→32 cores).  The
broadcast PIP join needs no Catalyst join at all: the build side is a
cell→polygons hash index shipped once per executor (the distributed
form of the reference's prepared-geometry probe, index.clj:124-139),
so the whole pipeline is scan → one mapInPandas → aggregate: perfectly
data-parallel, zero shuffles before the final count/sink.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..cells.cellid import DEFAULT_GRID, CellGrid
from ..cells.coverage import cover_geometry
from ..extract.geocode import GEO_RE
from ..geom import core as gc
from ..geom import predicates as gpred
from . import joins
from .joins import build_cell_index  # noqa: F401  (public here too)


def _broadcast_index(polys, poly_id, poly_geom, grid: CellGrid, level):
    """(level, broadcast CSR index) of the dimension layer from the
    shared dimension cache (ops.joins.dimension), or (level, None) when
    the build side is over the broadcast size gate."""
    dim = joins.dimension(polys, poly_id, poly_geom, grid)
    level = dim.level if level is None else level
    if dim.build_bytes > joins.BROADCAST_MAX_BYTES:
        return level, None
    return level, dim.cover(polys, level)[1]


def _extract_points_jvm(pages: DataFrame, include_url: bool) -> DataFrame:
    """JVM geocode extraction: one regexp pass over raw html inside
    whole-stage codegen → (page_id[, url], x, y).  Shared by every
    JVM-extracting flagship variant so the token format lives in one
    place (byte-compatible with extract.geocode.geocode_pages)."""
    html_str = F.col("html").cast("string")
    tok = F.regexp_extract(html_str, r"geo:(-?\d+\.\d+,-?\d+\.\d+)", 1)
    parts = F.split(tok, ",")
    return (
        pages.select(
            "page_id",
            *(["url"] if include_url else []),
            tok.alias("__tok"),
            parts.alias("__p"),
        )
        .where(F.col("__tok") != "")
        .select(
            "page_id",
            *(["url"] if include_url else []),
            F.col("__p")[0].cast("double").alias("x"),
            F.col("__p")[1].cast("double").alias("y"),
        )
    )


def _extract_points_jvm_lax(pages: DataFrame, include_url: bool) -> DataFrame:
    """Same extraction, but the row drop is deferred to the consumer:
    a cheap `contains('geo:')` byte-search filter (implied by the regex,
    whose pattern starts with that literal) replaces the regex-match
    filter, so the regex itself is evaluated ONCE per candidate row in
    the projection instead of once in the Filter and again in the
    Project (measured at 160M pages: 10.6s → 7.9s for the extraction
    subtree).  Rows where the pattern does not complete after 'geo:'
    come through with x/y NULL — consumers must drop NaN rows (the
    kernels' mask), which restores exactly the strict variant's row
    set."""
    html_str = F.col("html").cast("string")
    tok = F.regexp_extract(html_str, r"geo:(-?\d+\.\d+,-?\d+\.\d+)", 1)
    parts = F.split(tok, ",")
    return (
        pages.where(html_str.contains("geo:"))
        .select(
            "page_id",
            *(["url"] if include_url else []),
            parts.alias("__p"),
        )
        .select(
            "page_id",
            *(["url"] if include_url else []),
            F.get("__p", 0).try_cast("double").alias("x"),
            F.get("__p", 1).try_cast("double").alias("y"),
        )
    )


def _out_schema(polys: DataFrame, poly_id: str, include_url: bool) -> StructType:
    """(page_id[, url], poly_id, cell_id) — the flagship output schema."""
    fields = [StructField("page_id", LongType())]
    if include_url:
        fields.append(StructField("url", StringType()))
    fields += [
        StructField("poly_id", polys.schema[poly_id].dataType),
        StructField("cell_id", LongType()),
    ]
    return StructType(fields)


def _gather_poly_points(pcells, keys, starts, members):
    """Vectorized candidate gather: for every point whose cell hits the
    index, pair it with each member polygon of that cell.  Returns
    (poly_sorted, point_sorted, slice_bounds): candidate pairs grouped
    into contiguous per-polygon slices — no python loop over cells."""
    order = np.argsort(pcells, kind="stable")
    pcells_s = pcells[order]
    bnds = np.flatnonzero(np.r_[True, pcells_s[1:] != pcells_s[:-1], True])
    ucells = pcells_s[bnds[:-1]]
    pt_cnt = np.diff(bnds)
    pos = np.searchsorted(keys, ucells)
    if len(keys):
        pos = np.minimum(pos, len(keys) - 1)
        valid = keys[pos] == ucells
    else:
        valid = np.zeros(len(ucells), dtype=bool)
    vpos = pos[valid]
    vstart = bnds[:-1][valid]
    vcnt = pt_cnt[valid]
    # (cell, member) pair expansion
    mcnt = starts[vpos + 1] - starts[vpos]
    P = int(mcnt.sum())
    if P == 0:
        return None
    prow = np.repeat(np.arange(len(vpos), dtype=np.int64), mcnt)
    moff = np.arange(P, dtype=np.int64) - np.repeat(np.cumsum(mcnt) - mcnt, mcnt)
    pair_poly = members[np.repeat(starts[vpos], mcnt) + moff].astype(np.int64)
    # (pair, point) expansion: each pair contributes its cell's points
    pair_pts = vcnt[prow]
    T = int(pair_pts.sum())
    qrow = np.repeat(np.arange(P, dtype=np.int64), pair_pts)
    qoff = np.arange(T, dtype=np.int64) - np.repeat(np.cumsum(pair_pts) - pair_pts, pair_pts)
    point_idx = order[vstart[prow][qrow] + qoff]
    poly_idx = pair_poly[qrow]
    # group candidate pairs by polygon into contiguous slices
    gorder = np.argsort(poly_idx, kind="stable")
    poly_sorted = poly_idx[gorder]
    point_sorted = point_idx[gorder]
    slice_bounds = np.flatnonzero(
        np.r_[True, poly_sorted[1:] != poly_sorted[:-1], True]
    )
    return poly_sorted, point_sorted, slice_bounds


def geocode_pip_tile(
    pages: DataFrame,
    polys: DataFrame,
    poly_id: str = "poly_id",
    poly_geom: str = "geom",
    level: Optional[int] = None,
    tile_level: int = 14,
    grid: CellGrid = DEFAULT_GRID,
    include_url: bool = True,
) -> DataFrame:
    """pages(url, html, page_id) × polygons → (page_id[, url], poly_id,
    cell_id) in a single python stage.  Exact same join semantics as
    geocode_pages + pip_join(intersects) + assign_tiles.

    The geo pattern is matched on the raw html (tags can't split a
    token), so the tag-stripping passes — and their string copies —
    stay out of the hot loop; `geocode_pages` remains the text
    extraction contract.  include_url=False drops the widest output
    column when downstream only needs the id (less Arrow bandwidth).

    Size gate: the broadcast cell index requires a driver collect of
    the polygon table; above `broadcast_threshold` estimated bytes the
    fused plan is refused and the pipeline decomposes into
    geocode_pages + pip_join's shuffle cell-join (identical output).
    """
    level, bc = _broadcast_index(polys, poly_id, poly_geom, grid, level)
    if bc is None:
        from ..extract.geocode import geocode_pages

        pts = geocode_pages(pages)
        out = joins.pip_join(
            pts, polys, point_id="page_id", x_col="x", y_col="y",
            poly_id=poly_id, poly_geom=poly_geom, level=level, grid=grid,
            broadcast=False, keep_cols=(["url"] if include_url else []),
            tile_level=tile_level, tile_grid=grid,
        )
        return out.select(
            F.col("point_id").alias("page_id"),
            *(["url"] if include_url else []),
            "poly_id", "cell_id",
        )
    out_schema = _out_schema(polys, poly_id, include_url)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        keys, starts, members = idx["cell_keys"], idx["starts"], idx["members"]
        wkbs = idx["wkbs"]
        pids = idx["pids"]
        lvl = idx["level"]
        prepared: dict = {}
        geo_re = re.compile(GEO_RE.encode())
        for pdf in batches:
            # match on raw html bytes: one pass, no decode/strip copies
            html = pdf["html"]
            n_rows = len(html)
            x = np.full(n_rows, np.nan)
            y = np.full(n_rows, np.nan)
            for i, h in enumerate(html):
                m = geo_re.search(h)
                if m is not None:
                    x[i] = float(m.group(1))
                    y[i] = float(m.group(2))
            ok = ~np.isnan(x)
            if not ok.any():
                continue
            px, py = x[ok], y[ok]
            urls = pdf["url"].to_numpy()[ok] if include_url else None
            ids = pdf["page_id"].to_numpy()[ok]
            pcells = grid.encode_points(px, py, lvl)
            gathered = _gather_poly_points(pcells, keys, starts, members)
            if gathered is None:
                continue
            poly_sorted, point_sorted, sb = gathered
            out_pid, out_url, out_poly, out_cell = [], [], [], []
            for s, e in zip(sb[:-1], sb[1:]):
                pi = int(poly_sorted[s])
                sel = point_sorted[s:e]
                pp = prepared.get(pi)
                if pp is None:
                    if len(prepared) > 4096:
                        prepared.clear()
                    pp = gpred.PreparedPolygon(gc.from_wkb(wkbs[pi]))
                    prepared[pi] = pp
                loc = pp.locate_batch(px[sel], py[sel])
                hit = sel[loc != gpred.EXTERIOR]
                if len(hit):
                    out_pid.append(ids[hit])
                    if include_url:
                        out_url.append(urls[hit])
                    out_poly.append(np.full(len(hit), pids[pi]))
                    out_cell.append(grid.encode_points(px[hit], py[hit], tile_level))
            if out_pid:
                cols = {"page_id": np.concatenate(out_pid)}
                if include_url:
                    cols["url"] = np.concatenate(out_url)
                cols["poly_id"] = np.concatenate(out_poly)
                cols["cell_id"] = np.concatenate(out_cell)
                yield pd.DataFrame(cols)

    in_cols = ["page_id", "url", "html"] if include_url else ["page_id", "html"]
    return pages.select(*in_cols).mapInPandas(run, schema=out_schema)


def geocode_pip_tile_jvm(
    pages: DataFrame,
    polys: DataFrame,
    poly_id: str = "poly_id",
    poly_geom: str = "geom",
    level: Optional[int] = None,
    tile_level: int = 14,
    grid: CellGrid = DEFAULT_GRID,
    include_url: bool = True,
) -> DataFrame:
    """Same semantics as geocode_pip_tile, but the regex extraction
    runs JVM-side (regexp_extract inside whole-stage codegen) — the
    python stage only ever sees (page_id[, url], x, y).

    This is the Spark-first split: string work in the JVM where it is
    C2-compiled and shares no python worker, geometry kernels in numpy
    where the JVM has nothing comparable.  The float parse of the
    fixed '%.2f' geo token is exact in both runtimes, so results are
    bit-identical to the python extractor (asserted in tests).

    Size gate: above `broadcast_threshold` estimated build bytes the
    broadcast cell index (driver collect) is refused and the JVM-
    extracted points go through pip_join's shuffle cell-join instead.
    """
    level, bc = _broadcast_index(polys, poly_id, poly_geom, grid, level)
    use_broadcast = bc is not None

    # broadcast-kernel path: lax extraction (regex evaluated once; the
    # kernel's NaN mask restores the strict row set).  The shuffle
    # fallback keeps the strict extractor — pip_join's cell encode
    # expects non-null coordinates.
    pts = (
        _extract_points_jvm_lax(pages, include_url)
        if use_broadcast
        else _extract_points_jvm(pages, include_url)
    )
    if not use_broadcast:
        out = joins.pip_join(
            pts, polys, point_id="page_id", x_col="x", y_col="y",
            poly_id=poly_id, poly_geom=poly_geom, level=level, grid=grid,
            broadcast=False, keep_cols=(["url"] if include_url else []),
            tile_level=tile_level, tile_grid=grid,
        )
        return out.select(
            F.col("point_id").alias("page_id"),
            *(["url"] if include_url else []),
            "poly_id", "cell_id",
        )

    out_schema = _out_schema(polys, poly_id, include_url)

    # Kernel I/O shape (round 6, measured at 160M pages): mapInArrow
    # instead of mapInPandas skips the pandas conversion on both sides
    # (19.3s → 18.1s), and coalescing input record batches to ~1M rows
    # before the per-polygon loop amortizes its per-call overhead
    # (18.1s → 15.6s when measured via maxRecordsPerBatch=1M; the
    # kernel-side coalesce gets the same effect without raising the
    # session-wide batch cap, which would quadruple the text kernels'
    # per-batch memory).
    target_rows = 1 << 20

    def run(rbatches):
        import pyarrow as pa

        idx = bc.value
        keys, starts, members = idx["cell_keys"], idx["starts"], idx["members"]
        wkbs = idx["wkbs"]
        pids = idx["pids"]
        lvl = idx["level"]
        prepared: dict = {}

        def process(ids, px, py, urls):
            pcells = grid.encode_points(px, py, lvl)
            gathered = _gather_poly_points(pcells, keys, starts, members)
            if gathered is None:
                return None
            poly_sorted, point_sorted, sb = gathered
            out_pid, out_url, out_poly, out_cell = [], [], [], []
            for s, e in zip(sb[:-1], sb[1:]):
                pi = int(poly_sorted[s])
                sel = point_sorted[s:e]
                pp = prepared.get(pi)
                if pp is None:
                    if len(prepared) > 4096:
                        prepared.clear()
                    pp = gpred.PreparedPolygon(gc.from_wkb(wkbs[pi]))
                    prepared[pi] = pp
                loc = pp.locate_batch(px[sel], py[sel])
                hit = sel[loc != gpred.EXTERIOR]
                if len(hit):
                    out_pid.append(ids[hit])
                    if include_url:
                        out_url.append(urls[hit])
                    out_poly.append(np.full(len(hit), pids[pi]))
                    out_cell.append(grid.encode_points(px[hit], py[hit], tile_level))
            if not out_pid:
                return None
            arrays = [pa.array(np.concatenate(out_pid))]
            names = ["page_id"]
            if include_url:
                arrays.append(pa.array(np.concatenate(out_url)))
                names.append("url")
            arrays.append(pa.array(np.concatenate(out_poly)))
            names.append("poly_id")
            arrays.append(pa.array(np.concatenate(out_cell)))
            names.append("cell_id")
            return pa.RecordBatch.from_arrays(arrays, names=names)

        buf_ids, buf_px, buf_py, buf_urls = [], [], [], []
        nbuf = 0

        def drain():
            nonlocal nbuf
            if not nbuf:
                return None
            ids = np.concatenate(buf_ids) if len(buf_ids) > 1 else buf_ids[0]
            px = np.concatenate(buf_px) if len(buf_px) > 1 else buf_px[0]
            py = np.concatenate(buf_py) if len(buf_py) > 1 else buf_py[0]
            urls = (
                (np.concatenate(buf_urls) if len(buf_urls) > 1 else buf_urls[0])
                if include_url
                else None
            )
            buf_ids.clear(); buf_px.clear(); buf_py.clear(); buf_urls.clear()
            nbuf = 0
            return process(ids, px, py, urls)

        for rb in rbatches:
            cols = {n: i for i, n in enumerate(rb.schema.names)}
            px = rb.column(cols["x"]).to_numpy(zero_copy_only=False)
            py = rb.column(cols["y"]).to_numpy(zero_copy_only=False)
            ids = rb.column(cols["page_id"]).to_numpy(zero_copy_only=False)
            # lax extraction defers the no-match drop to here: a row
            # whose html contains 'geo:' but not the full token comes
            # through with NULL x/y (NaN after to_numpy)
            ok = ~(np.isnan(px) | np.isnan(py))
            if not ok.all():
                px, py, ids = px[ok], py[ok], ids[ok]
            if len(px) == 0:
                continue
            buf_ids.append(ids)
            buf_px.append(px)
            buf_py.append(py)
            if include_url:
                urls = rb.column(cols["url"]).to_numpy(zero_copy_only=False)
                buf_urls.append(urls[ok] if not ok.all() else urls)
            nbuf += len(px)
            if nbuf >= target_rows:
                out = drain()
                if out is not None:
                    yield out
        out = drain()
        if out is not None:
            yield out

    return pts.mapInArrow(run, schema=out_schema)


def _inner_box(pp, eps_iters: int = 20):
    """Largest centered axis-aligned box provably interior to the
    polygon (binary search on the shrink factor): corners strictly
    interior AND no edge bbox overlapping the box ⇒ the whole box is
    interior (any boundary crossing would put an edge bbox onto it —
    holds with holes, whose rings are in the edge set).  Points
    strictly inside this box are covered without an exact PIP test —
    the axis-aligned analogue of JTS PreparedPolygon's interior
    shortcut.  Returns (x0, y0, x1, y1) or an empty box."""
    import numpy as np

    bxmin, bymin, bxmax, bymax = pp.bbox
    cx, cy = (bxmin + bxmax) / 2.0, (bymin + bymax) / 2.0
    eminx = np.minimum(pp.x1, pp.x2)
    emaxx = np.maximum(pp.x1, pp.x2)
    eminy = np.minimum(pp.y1, pp.y2)
    emaxy = np.maximum(pp.y1, pp.y2)

    def ok(t):
        x0, x1 = cx + (bxmin - cx) * t, cx + (bxmax - cx) * t
        y0, y1 = cy + (bymin - cy) * t, cy + (bymax - cy) * t
        if not (x0 < x1 and y0 < y1):
            return False
        corners_x = np.array([x0, x1, x1, x0])
        corners_y = np.array([y0, y0, y1, y1])
        if (pp.locate_batch(corners_x, corners_y) != gpred.INTERIOR).any():
            return False
        overlap = ~((emaxx < x0) | (eminx > x1) | (emaxy < y0) | (eminy > y1))
        return not overlap.any()

    lo, hi = 0.0, 1.0
    if ok(1.0):
        lo = 1.0
    else:
        for _ in range(eps_iters):
            mid = (lo + hi) / 2.0
            if ok(mid):
                lo = mid
            else:
                hi = mid
    if lo == 0.0:
        return (0.0, 0.0, -1.0, -1.0)  # empty box: strict test never passes
    return (
        cx + (bxmin - cx) * lo,
        cy + (bymin - cy) * lo,
        cx + (bxmax - cx) * lo,
        cy + (bymax - cy) * lo,
    )


def geocode_pip_tile_hybrid(
    pages: DataFrame,
    polys: DataFrame,
    poly_id: str = "poly_id",
    poly_geom: str = "geom",
    level: Optional[int] = None,
    tile_level: int = 14,
    grid: CellGrid = DEFAULT_GRID,
    include_url: bool = True,
) -> DataFrame:
    """Hybrid flagship: the broadcast cell join, bbox test, and an
    INNER-BOX fast path run fully in the JVM (whole-stage codegen);
    only the ring of ambiguous candidates (inside bbox, outside the
    proven-interior box) crosses into one python refine stage.

    Motivation (measured, BENCH/BASELINE.md): the python worker
    round-trip itself — not the kernel — is the flagship's dominant
    cost (a consume-only mapInPandas over 64 M points is 13.7 s of the
    15.4 s wall), so the win is sending FEWER ROWS across the
    boundary, not making the kernel faster.  For axis-aligned-heavy
    dimension layers (districts: squares/rects ARE their bbox) most
    hits resolve in the JVM.

    Exactness: inner-box hits are strictly interior by construction
    (_inner_box proof); ring candidates get the identical
    PreparedPolygon kernel; tile ids use the bit-identical Catalyst
    Morton encode.  Output equals geocode_pip_tile_jvm row-for-row
    (asserted in tests).

    MEASURED CAVEAT (BENCH/BASELINE.md): on the flagship workload this
    plan is ~2× slower than geocode_pip_tile_jvm — the broadcast hash
    join materializes every (point, candidate) row (10.1 M wide rows
    at 16 M pages) before the fast-path filter, and that JVM row
    expansion costs more than the python socket path it avoids.  The
    default kernel probes the cell index INSIDE the python stage
    (broadcast CSR, no Catalyst join, no row expansion), which is why
    it wins.  Use this form only when the ring fraction is tiny AND
    python workers are scarce."""
    from ..cells.cellexpr import cell_id_expr
    dim = joins.dimension(polys, poly_id, poly_geom, grid)
    level = dim.level if level is None else level
    spark = pages.sparkSession
    polys_rows = dim.collected(polys)
    pid_type = polys.schema[poly_id].dataType.simpleString()

    cand_rows = []
    wkbs = []
    for i, (pid, wkb) in enumerate(polys_rows):
        g = gc.from_wkb(wkb)
        pp = gpred.PreparedPolygon(g)
        bxmin, bymin, bxmax, bymax = (float(v) for v in pp.bbox)
        ix0, iy0, ix1, iy1 = (float(v) for v in _inner_box(pp))
        wkbs.append(wkb)
        for cid in cover_geometry(g, grid, level):
            cand_rows.append(
                (int(cid), pid, i, bxmin, bymin, bxmax, bymax, ix0, iy0, ix1, iy1)
            )
    cand = spark.createDataFrame(
        cand_rows,
        f"__cell long, poly_id {pid_type}, __pidx int, "
        "__bxmin double, __bymin double, __bxmax double, __bymax double, "
        "__ix0 double, __iy0 double, __ix1 double, __iy1 double",
    )
    bc_wkbs = spark.sparkContext.broadcast(wkbs)

    pts = _extract_points_jvm(pages, include_url).withColumn(
        "__cell", cell_id_expr("x", "y", level, grid)
    )
    px, py = F.col("x"), F.col("y")
    j = pts.join(F.broadcast(cand), "__cell").where(
        (px >= F.col("__bxmin"))
        & (px <= F.col("__bxmax"))
        & (py >= F.col("__bymin"))
        & (py <= F.col("__bymax"))
    )
    in_inner = (
        (px > F.col("__ix0")) & (px < F.col("__ix1"))
        & (py > F.col("__iy0")) & (py < F.col("__iy1"))
    )
    out_cols = [
        "page_id",
        *(["url"] if include_url else []),
        "poly_id",
        cell_id_expr("x", "y", tile_level, grid).alias("cell_id"),
    ]
    fast = j.where(in_inner).select(*out_cols)

    ring_in = j.where(~in_inner).select(
        "page_id", *(["url"] if include_url else []), "x", "y", "poly_id", "__pidx"
    )
    out_schema = _out_schema(polys, poly_id, include_url)

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blobs = bc_wkbs.value
        prepared: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            px_ = pdf["x"].to_numpy(np.float64)
            py_ = pdf["y"].to_numpy(np.float64)
            pidx = pdf["__pidx"].to_numpy(np.int64)
            order = np.argsort(pidx, kind="stable")
            ps = pidx[order]
            sb = np.flatnonzero(np.r_[True, ps[1:] != ps[:-1], True])
            keep = np.zeros(len(pdf), dtype=bool)
            for s, e in zip(sb[:-1], sb[1:]):
                pi = int(ps[s])
                sel = order[s:e]
                pp = prepared.get(pi)
                if pp is None:
                    if len(prepared) > 4096:
                        prepared.clear()
                    pp = gpred.PreparedPolygon(gc.from_wkb(blobs[pi]))
                    prepared[pi] = pp
                loc = pp.locate_batch(px_[sel], py_[sel])
                keep[sel[loc != gpred.EXTERIOR]] = True
            if keep.any():
                hit = pdf[keep]
                cols = {"page_id": hit["page_id"].to_numpy()}
                if include_url:
                    cols["url"] = hit["url"].to_numpy()
                cols["poly_id"] = hit["poly_id"].to_numpy()
                cols["cell_id"] = grid.encode_points(
                    hit["x"].to_numpy(np.float64),
                    hit["y"].to_numpy(np.float64),
                    tile_level,
                )
                yield pd.DataFrame(cols)

    ring = ring_in.mapInPandas(refine, schema=out_schema)
    return fast.unionByName(ring)


def _candidate_rows(polys_rows, grid: CellGrid, level: int):
    """One row per (cover cell, polygon): the polygon's edge array and
    bbox, for the broadcast-join PIP plan (driver-side; the same
    cover_geometry cells as build_cell_index, so candidate sets are
    identical to the mapInPandas plan)."""
    rows = []
    for pid, wkb in polys_rows:
        g = gc.from_wkb(wkb)
        pp = gpred.PreparedPolygon(g)
        edges = [
            (float(a), float(b), float(c), float(d))
            for a, b, c, d in zip(pp.x1, pp.y1, pp.x2, pp.y2)
        ]
        bxmin, bymin, bxmax, bymax = (float(v) for v in pp.bbox)
        for cid in cover_geometry(g, grid, level):
            rows.append((int(cid), pid, edges, bxmin, bymin, bxmax, bymax))
    return rows


def geocode_pip_tile_sql(
    pages: DataFrame,
    polys: DataFrame,
    poly_id: str = "poly_id",
    poly_geom: str = "geom",
    level: Optional[int] = None,
    tile_level: int = 14,
    grid: CellGrid = DEFAULT_GRID,
    include_url: bool = True,
    unroll_max_edges: int = 0,
) -> DataFrame:
    """Fully-JVM flagship: geocode regex, cell-id Morton encode,
    broadcast-hash candidate join, and the exact ray-crossing PIP all
    run as Catalyst expressions — no python worker anywhere, no Arrow
    transfer.

    Measured slower than geocode_pip_tile_jvm's numpy kernel on this
    workload EITHER WAY (BENCH/BASELINE.md "Pure-JVM flagship
    experiment"): the higher-order aggregate/exists PIP is
    CodegenFallback (interpreted per edge, 2.5× slower), and the
    unrolled literal-index form (set unroll_max_edges ≥ the polygons'
    edge count to enable) generates a filter method past HotSpot's
    JIT size limit at ~17 edges (interpreted bytecode, 10× slower).
    Kept because it needs no python workers at all — useful where
    python is the constrained resource — and as the measured record
    of why the Arrow-batched numpy kernel is the right default in
    pure PySpark.

    Bit-identical to geocode_pip_tile[_jvm] (asserted in tests): the
    cell encode replays cellid.pack's float/morton pipeline
    (cells/cellexpr.py) and the PIP replays
    PreparedPolygon._locate_many's IEEE double op order
    (pip_covers_expr).  The build side is the same per-(cell, polygon)
    cover as build_cell_index, shipped as a broadcast-hash-join table
    (edge arrays inline) instead of a python-side CSR index.

    Trade-off vs the mapInPandas plan: zero python/Arrow memory
    traffic and full codegen fusion, but the PIP higher-order
    aggregate evaluates per (candidate, edge) inside the JVM — for
    very high edge-count polygons the vectorized numpy kernel can win;
    measure per workload (BENCH/BASELINE.md records both)."""
    from ..cells.cellexpr import (
        cell_id_expr,
        pip_covers_expr,
        pip_covers_unrolled_flat_expr,
    )
    dim = joins.dimension(polys, poly_id, poly_geom, grid)
    level = dim.level if level is None else level
    spark = pages.sparkSession
    rows = _candidate_rows(dim.collected(polys), grid, level)
    max_edges = max((len(r[2]) for r in rows), default=0)
    pid_type = polys.schema[poly_id].dataType.simpleString()
    cand = spark.createDataFrame(
        rows,
        f"__cell long, poly_id {pid_type}, "
        "__edges array<struct<x1: double, y1: double, x2: double, y2: double>>, "
        "__bxmin double, __bymin double, __bxmax double, __bymax double",
    )
    if max_edges <= unroll_max_edges:
        # flatten per-coordinate arrays on the (tiny) build side: the
        # unrolled probe expression then reads plain GetArrayItem
        # leaves, which keeps the generated code well under janino's
        # method-size limit (struct-field chains blew past it)
        cand = cand.select(
            "__cell",
            "poly_id",
            F.transform("__edges", lambda e: e["x1"]).alias("__ex1"),
            F.transform("__edges", lambda e: e["y1"]).alias("__ey1"),
            F.transform("__edges", lambda e: e["x2"]).alias("__ex2"),
            F.transform("__edges", lambda e: e["y2"]).alias("__ey2"),
            "__bxmin", "__bymin", "__bxmax", "__bymax",
        )

    pts = _extract_points_jvm(pages, include_url).withColumn(
        "__cell", cell_id_expr("x", "y", level, grid)
    )
    px, py = F.col("x"), F.col("y")
    return (
        pts.join(F.broadcast(cand), "__cell")
        .where(
            (px >= F.col("__bxmin"))
            & (px <= F.col("__bxmax"))
            & (py >= F.col("__bymin"))
            & (py <= F.col("__bymax"))
        )
        .where(
            pip_covers_unrolled_flat_expr(
                px, py,
                F.col("__ex1"), F.col("__ey1"), F.col("__ex2"), F.col("__ey2"),
                max_edges,
            )
            if max_edges <= unroll_max_edges
            else pip_covers_expr(px, py, F.col("__edges"))
        )
        .select(
            "page_id",
            *(["url"] if include_url else []),
            "poly_id",
            cell_id_expr("x", "y", tile_level, grid).alias("cell_id"),
        )
    )
