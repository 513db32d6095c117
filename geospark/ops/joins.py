"""Distributed spatial joins — the engine's centerpiece.

Strategy (SURVEY.md §3.2 / §4.2): two-phase filter-refine against a
cell fabric.  The build side (polygons) is covered with exact cells at
a level chosen from the polygon size distribution; each probe point
falls in one cell of that level.  Two physical plans, picked by the
build side's size estimate:

  broadcast  the dimension's CSR index (cell → polygons, and per entry
             the cell's band of edges — the cell-local edge lists of
             Raster Intervals, SIGMOD 2023) ships once per executor;
             ONE mapInArrow over the probe gathers candidates with a
             searchsorted and refines them in one banded
             point-in-polygon call per batch.  No Catalyst join.
  shuffle    a Catalyst cell equi-join whose candidate rows carry each
             polygon's WKB, then a mapInPandas refine against full
             edge lists (decode once per executor, LRU cache).

This mirrors the reference's R-tree probe + PreparedGeometry refine
(index.clj:124-160) with the tree replaced by the cell fabric.  Both
plans run PreparedPolygon's exact ray-crossing arithmetic
(gpred.locate_pairs), so their answers equal locate_batch's.

Skew (north rule: dense urban cells): optional salting fans the
shuffle plan's hot cells out across `salt` partitions — build rows
replicate per salt value, probe rows pick one deterministically.  AQE's
skew-join handles the shuffle-size half of the problem; salting spreads
the refine CPU.
"""

from __future__ import annotations

import weakref
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import LongType, StructField, StructType

from ..cells.cellid import DEFAULT_GRID, CellGrid
from ..functions import cover_cells
from ..geom import core as gc
from ..geom import predicates as gpred

_PRED_FNS = {
    "intersects": gpred.intersects,
    "contains": gpred.contains,
    "covers": gpred.covers,
    "covered_by": lambda a, b: gpred.covers(b, a),
    "touches": gpred.touches,
    "overlaps": gpred.overlaps,
    "within": lambda a, b: gpred.contains(b, a),
}

# executor-level prepared polygon cache (poly_id → PreparedPolygon)
_PREP_CACHE: dict = {}
_PREP_CACHE_MAX = 4096

# build-side size gate: above this estimate the broadcast plan (driver
# collect + CSR index + sc.broadcast) is refused and the shuffle
# cell-join runs instead — an unbounded collect() OOMs the driver long
# before any task starts (SURVEY §4.2: selection by size estimate, then
# AQE)
BROADCAST_MAX_BYTES = 256 << 20


def estimate_build_bytes(polys: DataFrame, geom_col: str, sample: int = 8192) -> int:
    """Cheap build-side size estimate: row count × sampled avg WKB
    length (+ dict-entry overhead).  ONE job for the common small-dim
    case: count+avg over limit(sample+1) — if the limit wasn't hit the
    count is exact; only genuinely large tables pay a second
    (metadata-cheap on parquet) count job."""
    row = (
        polys.select(F.length(F.col(geom_col)).alias("l"))
        .limit(sample + 1)
        .agg(F.count(F.lit(1)).alias("n"), F.avg("l").alias("a"))
        .collect()[0]
    )
    n, avg = row["n"], row["a"] or 0.0
    if n <= sample:
        return int(n * (avg + 64))
    # large table: exact count (metadata-cheap on parquet), then a
    # RANDOM sample for the average — a limit() prefix is ordered, and
    # size-skewed tables (small geometries first) would under-estimate
    # straight through the gate this function exists to enforce
    cnt = polys.count()
    frac = min(1.0, (10.0 * sample) / max(cnt, 1))
    srow = (
        polys.select(F.length(F.col(geom_col)).alias("l"))
        .sample(fraction=frac, seed=7)
        .agg(F.avg("l").alias("a"))
        .collect()[0]
    )
    avg = srow["a"] if srow["a"] is not None else avg
    return int(cnt * (avg + 64))


def _prepared(key, wkb: bytes) -> gpred.PreparedPolygon:
    # key on the WKB bytes themselves: python workers are reused across
    # jobs and a bare poly_id collides between different polygon tables;
    # dict keying on bytes hashes internally AND compares content on
    # collision, so two different payloads can never alias
    full_key = (key, bytes(wkb))
    pp = _PREP_CACHE.get(full_key)
    if pp is None:
        if len(_PREP_CACHE) >= _PREP_CACHE_MAX:
            _PREP_CACHE.clear()
        pp = gpred.PreparedPolygon(gc.from_wkb(wkb))
        _PREP_CACHE[full_key] = pp
    return pp


def _level_for_extents(ext, grid: CellGrid) -> int:
    """Cell level from the build side's median bbox extent — cells ≈
    the typical polygon size keep both the cover sets and the per-cell
    candidate lists small.  The median is the lower one (rank
    ⌈n/2⌉), the element percentile_approx(·, 0.5) returns."""
    from ..cells.cellid import MAX_LEVEL

    ext = sorted(ext)
    med = ext[(len(ext) + 1) // 2 - 1] if ext else 0.0
    # bias 3 levels finer than the median polygon: candidate count
    # falls ~4× per level while the (broadcast) cover set grows only
    # linearly with polygon perimeter — measured sweet spot.  A zero
    # median (point-like build side) sizes cells at 1.0.
    return min(grid.level_for_size(med or 1.0) + 3, MAX_LEVEL)


def choose_level(polys: DataFrame, geom_col: str, grid: CellGrid, sample: int = 1000) -> int:
    """Pick the cell level from the first `sample` build rows (one job;
    only the extents reach the driver)."""
    from ..functions import st_envelope

    rows = (
        polys.select(st_envelope(F.col(geom_col)).alias("e"))
        .select(F.greatest(F.col("e.xmax") - F.col("e.xmin"), F.col("e.ymax") - F.col("e.ymin")))
        .limit(sample)
        .collect()
    )
    return _level_for_extents([r[0] for r in rows if r[0] is not None], grid)


def build_cell_index(polys_rows, grid: CellGrid, level: int) -> dict:
    """The CSR cover of (id, WKB) rows at `level`: sorted cell keys,
    and per key a slice members[starts[k]:starts[k+1]] of int32
    indexes into the rows, so a probe resolves every cell of a batch
    with ONE np.searchsorted.  Also carries pids, wkbs and envelopes
    (empty geometries: no cells and an inverted box).

    Point-in-polygon refine data for gpred.locate_pairs: the polygons'
    concatenated edge arrays ex1, ey1, ex2, ey2, their edge bboxes
    `ebox`, and per CSR entry j = starts[k] + m the edge list
    band[band_lo[j]:band_hi[j]]: the member's edges whose y-span meets
    cell k's y-range and whose max x reaches the cell's x-min, i.e.
    every edge that can decide a point in the cell.  The entries of one
    (polygon, cell row) share one list sorted by max x descending, so
    each cell's list is a prefix of it; building it row by row never
    holds more than one row's edge mask.  Bounds are widened by
    ulp_margin and open on the grid's border rows and columns, where
    cell_xy clamps out-of-domain points."""
    from ..cells.cellid import unpack
    from ..cells.coverage import cover_geometry, ulp_margin

    nside = 1 << level
    cs = grid.cell_size(level)
    pids, wkbs, envs, preps = [], [], [], []
    cells, owners, lo, hi, band = [], [], [], [], []
    nedge = nband = 0
    for i, (pid, wkb) in enumerate(polys_rows):
        g = gc.from_wkb(wkb)
        pp = gpred.PreparedPolygon(g)
        cid = cover_geometry(g, grid, level)
        clo = np.zeros(len(cid), dtype=np.int64)
        chi = np.zeros(len(cid), dtype=np.int64)
        if len(cid) and len(pp.x1):
            margin = ulp_margin(grid, np.r_[pp.x1, pp.y1])
            maxx = np.maximum(pp.x1, pp.x2)
            order = np.argsort(-maxx, kind="stable")
            maxx = maxx[order]
            miny = np.minimum(pp.y1, pp.y2)[order]
            maxy = np.maximum(pp.y1, pp.y2)[order]
            _, ix, iy = unpack(cid)
            xmin = np.where(ix == 0, -np.inf, grid.x0 + ix * cs - margin)
            for r in np.unique(iy):
                ylo = -np.inf if r == 0 else grid.y0 + r * cs - margin
                yhi = np.inf if r == nside - 1 else grid.y0 + (r + 1) * cs + margin
                sel = np.flatnonzero((maxy >= ylo) & (miny <= yhi))
                row = iy == r
                clo[row] = nband
                chi[row] = nband + np.searchsorted(-maxx[sel], -xmin[row], "right")
                band.append(nedge + order[sel])
                nband += len(sel)
        pids.append(pid)
        wkbs.append(wkb)
        envs.append(g.envelope() or (np.inf, np.inf, -np.inf, -np.inf))
        preps.append(pp)
        cells.append(cid)
        owners.append(np.full(len(cid), i, dtype=np.int32))
        lo.append(clo)
        hi.append(chi)
        nedge += len(pp.x1)

    def cat(parts, dtype):
        return np.concatenate([np.empty(0, dtype=dtype), *parts]).astype(dtype)

    cells, owners = cat(cells, np.int64), cat(owners, np.int32)
    order = np.lexsort((owners, cells))
    keys, counts = np.unique(cells[order], return_counts=True)
    return {
        "pids": np.asarray(pids),
        "wkbs": wkbs,
        "envs": np.asarray(envs, dtype=np.float64).reshape(-1, 4),
        "cell_keys": keys,
        "starts": np.concatenate([[0], np.cumsum(counts)]),
        "members": owners[order],
        "level": level,
        "ex1": cat([pp.x1 for pp in preps], np.float64),
        "ey1": cat([pp.y1 for pp in preps], np.float64),
        "ex2": cat([pp.x2 for pp in preps], np.float64),
        "ey2": cat([pp.y2 for pp in preps], np.float64),
        "ebox": np.asarray([pp.bbox for pp in preps], dtype=np.float64).reshape(-1, 4),
        "band": cat(band, np.int32),
        "band_lo": cat(lo, np.int64)[order],
        "band_hi": cat(hi, np.int64)[order],
    }


# One dimension-index cache for every join against a fixed dimension
# layer (the flagship, pip_join, predicate_join): a long-running job
# probes one layer with batch after batch and should pay the collect,
# the level choice, the size estimate, the driver-side cover and its
# broadcast ONCE, not per call.  Weak keys: dropping the DataFrame
# drops its entries, and a finalizer UNPERSISTS their broadcasts.
#
# CONTRACT: identity implies identical data only for DataFrames over
# immutable sources.  A DataFrame whose underlying files are
# re-written in place (overwritten parquet path, replaced temp view)
# would return a STALE index — cached dimension tables must be backed
# by immutable snapshots (the Iceberg-snapshot discipline the pipeline
# runner already follows).
_DIMENSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# Small dimensions are answered by one LIMIT-gated collect: it gives
# the rows, the level (exact median) and the size estimate at once.
# Larger ones pay choose_level's and estimate_build_bytes's jobs.
_SMALL_DIM_ROWS = 1024


class _Dimension:
    """What the joins know about one dimension DataFrame: its rows
    (None until needed when large), level, estimated broadcast bytes,
    and per level one CSR cover, its broadcast and its build frames."""

    def __init__(self, polys, poly_id, poly_geom, grid):
        self.key = (poly_id, poly_geom, grid)
        head = polys.select(poly_id, poly_geom).limit(_SMALL_DIM_ROWS + 1).collect()
        self.small = len(head) <= _SMALL_DIM_ROWS
        self.rows = None
        if self.small:
            # NULL geometries can never satisfy a predicate
            self.rows = [(r[0], bytes(r[1])) for r in head if r[1] is not None]
            envs = [gc.from_wkb(w).envelope() for _, w in self.rows]
            self.level = _level_for_extents([max(e[2] - e[0], e[3] - e[1]) for e in envs if e], grid)
            self.build_bytes = sum(len(w) + 64 for _, w in self.rows)
        else:
            self.level = choose_level(polys, poly_geom, grid)
            self.build_bytes = estimate_build_bytes(polys, poly_geom)
        self.covers: dict = {}  # level -> (index, broadcast)
        self.frames: dict = {}  # level -> shuffle-plan build DataFrame

    def collected(self, polys) -> list:
        """Every (id, WKB) row with a geometry, collected once."""
        if self.rows is None:
            poly_id, poly_geom, _ = self.key
            self.rows = [
                (r[0], bytes(r[1]))
                for r in polys.select(poly_id, poly_geom).collect()
                if r[1] is not None
            ]
        return self.rows

    def cover(self, polys, level: int):
        """(CSR index, its broadcast) at `level`."""
        c = self.covers.get(level)
        if c is None:
            index = build_cell_index(self.collected(polys), self.key[2], level)
            c = self.covers[level] = (index, polys.sparkSession.sparkContext.broadcast(index))
        return c

    def build_frame(self, polys, level: int) -> DataFrame:
        """The cover as a (__cell, __pid, __pwkb) DataFrame: a local
        relation with exact statistics, so the planner sees its size."""
        if level not in self.frames:
            index, _ = self.cover(polys, level)
            members = index["members"]
            cols = {
                "__cell": np.repeat(index["cell_keys"], np.diff(index["starts"])),
                "__pid": index["pids"][members],
                "__pwkb": [index["wkbs"][m] for m in members],
            }
            schema = (
                f"__cell long, __pid {polys.schema[self.key[0]].dataType.simpleString()}, "
                "__pwkb binary"
            )
            self.frames[level] = polys.sparkSession.createDataFrame(pd.DataFrame(cols), schema)
        return self.frames[level]


def _release(per_df: dict) -> None:
    # unpersist, NOT destroy: a result DataFrame returned to the
    # caller closes over the broadcast and may outlive the dimension
    # DataFrame object that keyed the cache — destroy() would make
    # serializing its tasks throw INTERNAL_ERROR_BROADCAST.  unpersist
    # frees the executor copies eagerly; a surviving plan that still
    # needs the broadcast re-fetches it from the driver, and full
    # teardown is left to the ContextCleaner once the last closure
    # reference drops.
    for dim in per_df.values():
        for _, bc in dim.covers.values():
            try:
                bc.unpersist(blocking=False)
            except Exception:
                pass
    per_df.clear()


def dimension(polys: DataFrame, poly_id: str, poly_geom: str, grid: CellGrid) -> _Dimension:
    """The cached _Dimension of `polys` (built on first use)."""
    per_df = _DIMENSIONS.get(polys)
    if per_df is None:
        per_df = _DIMENSIONS[polys] = {}
        weakref.finalize(polys, _release, per_df)
    key = (poly_id, poly_geom, grid.x0, grid.y0, grid.span)
    if key not in per_df:
        per_df[key] = _Dimension(polys, poly_id, poly_geom, grid)
    return per_df[key]


def _candidate_pairs(pcells, keys, starts):
    """(CSR entry, probe) index pairs: each probe cell found in the
    index, once per entry of that cell — one searchsorted, no loop."""
    if not len(keys):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    pos = np.minimum(np.searchsorted(keys, pcells), len(keys) - 1)
    pt = np.flatnonzero(keys[pos] == pcells)
    first = starts[pos[pt]]
    cnt = starts[pos[pt] + 1] - first
    entry = np.repeat(first - (np.cumsum(cnt) - cnt), cnt) + np.arange(int(cnt.sum()))
    return entry, np.repeat(pt, cnt)


# point location classes each point predicate keeps (index.clj:145-160
# refine modes): intersects/covers(poly, pt) → loc != EXTERIOR;
# contains → strict interior; touches → boundary
_WANTED = {
    "intersects": (gpred.BOUNDARY, gpred.INTERIOR),
    "covers": (gpred.BOUNDARY, gpred.INTERIOR),
    "contains": (gpred.INTERIOR,),
    "touches": (gpred.BOUNDARY,),
}


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    point_id: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
    poly_id: str = "poly_id",
    poly_geom: str = "geom",
    predicate: str = "intersects",
    level: Optional[int] = None,
    grid: CellGrid = DEFAULT_GRID,
    broadcast: Optional[bool] = None,
    salt: int = 0,
    keep_cols: Optional[list] = None,
    tile_level: Optional[int] = None,
) -> DataFrame:
    """Point-in-polygon (or other point predicate) join.

    points: (point_id, x, y, ...); polys: (poly_id, geom WKB, ...).
    Returns (point_id, poly_id [, *keep_cols][, cell_id]) exact pairs —
    keep_cols are probe-side columns carried through the join so the
    caller doesn't need a second pass over the (expensive) probe input;
    tile_level adds each hit's Z-order `cell_id` at that level.
    Points with a NULL or NaN coordinate match nothing.

    broadcast: None picks by the build side's size estimate against
    BROADCAST_MAX_BYTES.  True runs the broadcast plan: the dimension's
    cached CSR index ships once per executor and the probe runs ONE
    mapInArrow kernel (cell encode, candidate gather, banded
    point-in-polygon, tile encode) with no Catalyst join.  False runs
    the shuffle plan: a cell equi-join whose candidate rows carry each
    polygon's WKB, refined against full edge lists; Spark/AQE may
    still broadcast a small build side.  salt > 1 fans the shuffle
    plan's hot cells out over `salt` partitions; the broadcast plan has
    no join to salt.
    """
    wanted = _WANTED.get(predicate)
    if wanted is None:
        raise ValueError(f"unsupported point predicate {predicate}")
    dim = dimension(polys, poly_id, poly_geom, grid)
    if level is None:
        level = dim.level
    if broadcast is None:
        # size-gate the collect-based plan ONLY for the default: an
        # explicit True from a caller who knows the build side is small
        # is honored; explicit False keeps the cell-join
        broadcast = dim.build_bytes <= BROADCAST_MAX_BYTES
    keep_cols = [c for c in (keep_cols or []) if c not in (point_id,)]
    from ..cells.cellexpr import cell_id_expr, sql_col

    if broadcast:
        # SQL text, not Column objects: one JVM call for the whole
        # projection instead of several per column — a driver cost paid
        # on every call (measured ~10 ms of a ~1 s flagship round)
        probe = points.selectExpr(
            sql_col(point_id),
            f"CAST({sql_col(x_col)} AS DOUBLE) AS __x",
            f"CAST({sql_col(y_col)} AS DOUBLE) AS __y",
            *map(sql_col, keep_cols),
        )
        return _pip_join_broadcast(
            probe, polys.schema[poly_id].dataType, wanted, grid, tile_level,
            dim.cover(polys, level)[1],
        )

    if dim.small:
        # the cached driver-side cover (same cover_geometry cells as
        # the cover_cells UDF) — no python stage on the build side
        build = dim.build_frame(polys, level)
    else:
        build = polys.select(
            F.col(poly_id).alias("__pid"),
            F.col(poly_geom).alias("__pwkb"),
            F.explode(cover_cells(level, grid)(F.col(poly_geom))).alias("__cell"),
        )
    # probe-side cell assignment is PURE CATALYST (cellexpr is
    # property-tested bit-identical to the numpy encoder): the probe
    # is the big side, and a pandas UDF here would put every point
    # through the python socket before the join even starts
    probe = points.select(
        F.col(point_id).alias("__qid"),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
        cell_id_expr(sql_col(x_col), sql_col(y_col), level, grid).alias("__cell"),
        *[F.col(c) for c in keep_cols],
    )
    if salt > 1:
        build = build.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        probe = probe.withColumn("__salt", F.pmod(F.xxhash64("__qid"), F.lit(salt)))
        on = ["__cell", "__salt"]
    else:
        on = ["__cell"]
    cand = probe.join(build, on=on, how="inner")

    out_fields = [
        StructField("point_id", cand.schema["__qid"].dataType),
        StructField("poly_id", cand.schema["__pid"].dataType),
    ] + [StructField(c, cand.schema[c].dataType) for c in keep_cols]
    if tile_level is not None:
        out_fields.append(StructField("cell_id", LongType()))
    out_schema = StructType(out_fields)

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # one point-location call per batch: the batch's distinct
            # polygons' edges concatenated, candidate i reading slot[i]'s
            pid = pdf["__pid"].to_numpy()
            px = pdf["__x"].to_numpy(np.float64)
            py = pdf["__y"].to_numpy(np.float64)
            upid, first, slot = np.unique(pid, return_index=True, return_inverse=True)
            wkbs = pdf["__pwkb"].to_numpy()[first]
            pps = [_prepared(("pip", p), w) for p, w in zip(upid, wkbs)]
            eoff = np.cumsum([0] + [len(pp.x1) for pp in pps])
            loc = gpred.locate_pairs(
                px, py, np.asarray([pp.bbox for pp in pps], dtype=np.float64)[slot],
                eoff[:-1][slot], eoff[1:][slot],
                *(np.concatenate([np.empty(0)] + [getattr(pp, a) for pp in pps])
                  for a in ("x1", "y1", "x2", "y2")),
            )
            keep = np.isin(loc, wanted)
            if keep.any():
                out = {"point_id": pdf["__qid"].to_numpy()[keep], "poly_id": pid[keep]}
                for c in keep_cols:
                    out[c] = pdf[c].to_numpy()[keep]
                if tile_level is not None:
                    out["cell_id"] = grid.encode_points(px[keep], py[keep], tile_level)
                yield pd.DataFrame(out)

    return cand.mapInPandas(refine, schema=out_schema)


def _pip_join_broadcast(probe, poly_type, wanted, grid, tile_level, bc) -> DataFrame:
    """The broadcast plan: probe (id, x, y, *keep) → one mapInArrow
    against bc, a cached CSR index from build_cell_index.  Per coalesced
    batch: one cell encode, one candidate gather, ONE banded
    gpred.locate_pairs call over every (candidate, edge) row — each
    candidate reads only its cell's edge band, not its polygon's full
    ring — and one tile encode over the hits."""
    fields = probe.schema.fields
    out_schema = StructType(
        [StructField("point_id", fields[0].dataType), StructField("poly_id", poly_type)]
        + [StructField(f.name, f.dataType) for f in fields[3:]]
        + ([StructField("cell_id", LongType())] if tile_level is not None else [])
    )
    arrow_schema = pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in out_schema.fields])
    keep = range(3, len(fields))

    # Kernel I/O shape (round 6, measured at 160M pages): mapInArrow
    # instead of mapInPandas skips the pandas conversion on both sides
    # (19.3s → 18.1s), and coalescing input record batches to ~1M rows
    # amortizes the per-batch calls (18.1s → 15.6s when measured via
    # maxRecordsPerBatch=1M; the kernel-side coalesce gets the same
    # effect without raising the session-wide batch cap, which would
    # quadruple the text kernels' per-batch memory).
    target_rows = 1 << 20

    def run(rbatches):
        idx = bc.value
        keys, starts, members = idx["cell_keys"], idx["starts"], idx["members"]
        edges = idx["ex1"], idx["ey1"], idx["ex2"], idx["ey2"]

        def process(rbs):
            t = pa.Table.from_batches(rbs)
            px = t.column(1).to_numpy()
            py = t.column(2).to_numpy()
            # NULL coordinates arrive as NaN here
            ok = np.flatnonzero(~(np.isnan(px) | np.isnan(py)))
            px, py = px[ok], py[ok]
            entry, pt = _candidate_pairs(grid.encode_points(px, py, idx["level"]), keys, starts)
            poly = members[entry]
            loc = gpred.locate_pairs(
                px[pt], py[pt], idx["ebox"][poly],
                idx["band_lo"][entry], idx["band_hi"][entry], *edges, idx["band"],
            )
            hit = np.isin(loc, wanted)
            pt, poly = pt[hit], poly[hit]
            if not len(pt):
                return None
            rows = pa.array(ok[pt])
            cols = [t.column(0).take(rows).combine_chunks(), pa.array(idx["pids"][poly])]
            cols += [t.column(i).take(rows).combine_chunks() for i in keep]
            if tile_level is not None:
                cols.append(pa.array(grid.encode_points(px[pt], py[pt], tile_level)))
            cols = [c if c.type == f.type else c.cast(f.type) for c, f in zip(cols, arrow_schema)]
            return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

        buf, nbuf = [], 0
        for rb in rbatches:
            if rb.num_rows:
                buf.append(rb)
                nbuf += rb.num_rows
            if nbuf >= target_rows:
                out = process(buf)
                buf, nbuf = [], 0
                if out is not None:
                    yield out
        if buf:
            out = process(buf)
            if out is not None:
                yield out

    return probe.mapInArrow(run, schema=out_schema)


def predicate_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_geom: str,
    right_id: str,
    right_geom: str,
    predicate: str = "intersects",
    level: Optional[int] = None,
    grid: CellGrid = DEFAULT_GRID,
    broadcast: Optional[bool] = None,
) -> DataFrame:
    """General geometry×geometry predicate join (both sides WKB).

    Two physical plans, selected by the build-side size estimate
    (same gate as pip_join):

    broadcast (small right side — the common dimension-layer case):
      a cell→geometry index of the right side ships once per executor;
      the probe side runs ONE mapInPandas — no Catalyst join, no pair
      dedupe shuffle, no WKB duplication per candidate row.
    shuffle (both sides large): cover-cell equi-join with dedupe on
      the pair, then the decode-once vectorized refine.

    Both are the distributed form of index/intersecting, touching,
    overlapping, covered-by (index.clj:145-160).
    `predicate` orientation: predicate(left_geom, right_geom).
    """
    dim = dimension(right, right_id, right_geom, grid)
    if level is None:
        level = dim.level
    if broadcast is None:
        # gate only the default; explicit True/False is the caller's call
        broadcast = dim.build_bytes <= BROADCAST_MAX_BYTES
    if broadcast:
        return _predicate_join_broadcast(
            left, left_id, left_geom, right.schema[right_id].dataType,
            predicate, level, grid, dim.cover(right, level)[1],
        )
    build = right.select(
        F.col(right_id).alias("__rid"),
        F.col(right_geom).alias("__rwkb"),
        F.explode(cover_cells(level, grid)(F.col(right_geom))).alias("__cell"),
    )
    probe = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_geom).alias("__lwkb"),
        F.explode(cover_cells(level, grid)(F.col(left_geom))).alias("__cell"),
    )
    cand = (
        probe.join(build, on="__cell", how="inner")
        .select("__lid", "__lwkb", "__rid", "__rwkb")
        .dropDuplicates(["__lid", "__rid"])
    )
    fn = _PRED_FNS[predicate]
    out_schema = StructType(
        [
            StructField("left_id", cand.schema["__lid"].dataType),
            StructField("right_id", cand.schema["__rid"].dataType),
        ]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # decode each right geometry ONCE per contiguous slice (argsort
        # by __rid, the pip_join refine pattern at the `bounds` trick
        # above), decode each left geometry once per batch, and run the
        # envelope prefilter as ONE numpy comparison per slice — the
        # exact kernel touches only bbox survivors (every supported
        # predicate requires a shared point, so disjoint bboxes decide
        # false without the geometry kernels).
        geom_cache: dict = {}

        def decoded(side, wkb):
            # key on the bytes themselves (content-compared on hash
            # collision — same rule as _prepared above)
            b = bytes(wkb)
            key = (side, b)
            g = geom_cache.get(key)
            if g is None:
                if len(geom_cache) >= _PREP_CACHE_MAX:
                    geom_cache.clear()
                g = gc.from_wkb(b)
                geom_cache[key] = g
            return g

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            rid = pdf["__rid"].to_numpy()
            order = np.argsort(rid, kind="stable")
            rid_s = rid[order]
            lid_s = pdf["__lid"].to_numpy()[order]
            lwkb_s = pdf["__lwkb"].to_numpy()[order]
            rwkb_s = pdf["__rwkb"].to_numpy()[order]
            bounds = np.flatnonzero(np.r_[True, rid_s[1:] != rid_s[:-1], True])
            # batch-wide left envelope columns; empties get an inverted
            # box so the vectorized overlap test excludes them
            lgeoms = [None if w is None else decoded("l", w) for w in lwkb_s]
            lenv = np.empty((n, 4), dtype=np.float64)
            for i, g in enumerate(lgeoms):
                if g is None or g.is_empty():
                    lenv[i] = (np.inf, np.inf, -np.inf, -np.inf)
                else:
                    lenv[i] = g.envelope()
            lx0, ly0, lx1, ly1 = lenv[:, 0], lenv[:, 1], lenv[:, 2], lenv[:, 3]
            keep_l, keep_r = [], []
            for s, e in zip(bounds[:-1], bounds[1:]):
                if rwkb_s[s] is None:
                    continue
                gb = decoded("r", rwkb_s[s])
                if gb.is_empty():
                    continue
                bx0, by0, bx1, by1 = gb.envelope()
                sl = slice(s, e)
                ok = ~(
                    (lx1[sl] < bx0) | (bx1 < lx0[sl])
                    | (ly1[sl] < by0) | (by1 < ly0[sl])
                )
                for i in np.flatnonzero(ok) + s:
                    if fn(lgeoms[i], gb):
                        keep_l.append(lid_s[i])
                        keep_r.append(rid_s[i])
            if keep_l:
                yield pd.DataFrame({"left_id": keep_l, "right_id": keep_r})

    return cand.mapInPandas(refine, schema=out_schema)


def _predicate_join_broadcast(
    left: DataFrame,
    left_id: str,
    left_geom: str,
    right_id_type,
    predicate: str,
    level: int,
    grid: CellGrid,
    bc,
) -> DataFrame:
    """Broadcast-index plan: the right side's cached CSR cover (bc, from
    build_cell_index) shipped once per executor, one python stage over
    the left side, zero shuffles."""
    fn = _PRED_FNS[predicate]
    probe = left.select(F.col(left_id).alias("__lid"), F.col(left_geom).alias("__lwkb"))
    out_schema = StructType(
        [
            StructField("left_id", probe.schema["__lid"].dataType),
            StructField("right_id", right_id_type),
        ]
    )
    nside = 1 << level
    inv = nside / grid.span
    gx0, gy0 = grid.x0, grid.y0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..cells.cellid import pack

        idx = bc.value
        wkbs = idx["wkbs"]
        benvs = idx["envs"]
        pids_ = idx["pids"]
        keys = idx["cell_keys"]
        starts_ = idx["starts"]
        members_ = idx["members"]
        geom_cache: dict = {}
        for pdf in batches:
            nrows = len(pdf)
            if nrows == 0 or len(keys) == 0:
                continue
            lids = pdf["__lid"].to_numpy()
            lwkbs = pdf["__lwkb"].to_numpy()
            lgeoms = []
            lenv = np.empty((nrows, 4), dtype=np.float64)
            for i, lw in enumerate(lwkbs):
                g = None if lw is None else gc.from_wkb(bytes(lw))
                lgeoms.append(g)
                if g is None or g.is_empty():
                    lenv[i] = (np.inf, np.inf, -np.inf, -np.inf)
                else:
                    lenv[i] = g.envelope()
            # vectorized bbox→cell ranges, flat (row, cell) expansion
            ix0 = np.clip(np.floor((lenv[:, 0] - gx0) * inv), 0, nside - 1).astype(np.int64)
            ix1 = np.clip(np.floor((lenv[:, 2] - gx0) * inv), 0, nside - 1).astype(np.int64)
            iy0 = np.clip(np.floor((lenv[:, 1] - gy0) * inv), 0, nside - 1).astype(np.int64)
            iy1 = np.clip(np.floor((lenv[:, 3] - gy0) * inv), 0, nside - 1).astype(np.int64)
            # any non-finite coord (empty sentinel OR a NaN slipping
            # through from bad input) must zero the row's cell count:
            # NaN→int64 yields INT64_MIN and a NEGATIVE ny would make
            # np.repeat throw
            empty_mask = ~np.isfinite(lenv).all(axis=1)
            ny = iy1 - iy0 + 1
            cnt = np.where(empty_mask, 0, (ix1 - ix0 + 1) * ny)
            cum = np.cumsum(cnt)
            total = int(cum[-1])
            if total == 0:
                continue
            row = np.repeat(np.arange(nrows, dtype=np.int64), cnt)
            j = np.arange(total, dtype=np.int64) - np.repeat(cum - cnt, cnt)
            cells = pack(ix0[row] + j // ny[row], iy0[row] + j % ny[row], level).view(np.int64)
            entry, k = _candidate_pairs(cells, keys, starts_)
            # dedupe (row, member) pairs from multi-cell hits
            pairkey = row[k] * np.int64(len(pids_)) + members_[entry]
            uniq = np.unique(pairkey)
            urow = (uniq // len(pids_)).astype(np.int64)
            umem = (uniq % len(pids_)).astype(np.int64)
            # vectorized envelope prefilter
            a = lenv[urow]
            b = benvs[umem]
            ok = ~(
                (a[:, 2] < b[:, 0]) | (b[:, 2] < a[:, 0])
                | (a[:, 3] < b[:, 1]) | (b[:, 3] < a[:, 1])
            )
            keep_l, keep_r = [], []
            for r_, m_ in zip(urow[ok], umem[ok]):
                gb = geom_cache.get(m_)
                if gb is None:
                    if len(geom_cache) >= _PREP_CACHE_MAX:
                        geom_cache.clear()
                    gb = gc.from_wkb(wkbs[m_])
                    geom_cache[m_] = gb
                if fn(lgeoms[r_], gb):
                    keep_l.append(lids[r_])
                    keep_r.append(pids_[m_])
            if keep_l:
                yield pd.DataFrame({"left_id": keep_l, "right_id": keep_r})

    return probe.mapInPandas(run, schema=out_schema)
