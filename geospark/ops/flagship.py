"""Fused flagship pipeline: pages → geocode → cell → PIP join → tile,
in ONE python stage.

Why fusion matters at scale: every chained pandas-UDF stage costs a
JVM↔Python Arrow round-trip *and* one python worker per task — at
local[32] a 3-stage chain runs ~96 worker processes on 32 cores and
scaling efficiency collapses (measured 0.38 from 8→32 cores).  The
broadcast PIP join needs no Catalyst join at all: the build side is a
cell→polygons index shipped once per executor (the distributed form of
the reference's prepared-geometry probe, index.clj:124-139), so the
whole pipeline is scan → one mapInArrow → aggregate: perfectly
data-parallel, zero shuffles before the final count/sink.

One path.  The geo token is extracted JVM-side (regexp_extract inside
whole-stage codegen), so the python stage only receives (page_id[,
url], x, y).  Per coalesced batch the kernel makes one cell encode, one
candidate gather against the cached CSR index, ONE point-in-polygon
call (gpred.locate_pairs) over every (candidate, edge) row — each
candidate reads only its cell's banded edge list from the index, not
its polygon's full ring — and one tile encode over all hits.  The
cell-local edge lists follow Raster Intervals (SIGMOD 2023); the
arithmetic is PreparedPolygon's exact ray crossing, so answers equal
locate_batch's.  Rejected variants (Python-regex mapInPandas, a
JVM inner-box hybrid, a pure-Catalyst PIP) are written up in
OPTIMIZATION_r06.md and BENCH/BASELINE.md.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..cells.cellid import DEFAULT_GRID, CellGrid
from ..geom import predicates as gpred
from . import joins
from .joins import build_cell_index  # noqa: F401  (public here too)


def _extract_points(pages: DataFrame, include_url: bool) -> DataFrame:
    """JVM geocode extraction over the raw html → (page_id[, url], x,
    y), byte-compatible with extract.geocode.geocode_pages.  A cheap
    `contains('geo:')` byte search (implied by the regex, whose pattern
    starts with that literal) is the only row filter, so the regex runs
    ONCE per candidate row, in the projection (measured at 160M pages:
    10.6s → 7.9s for the extraction subtree against filtering on the
    match).  Rows where the token does not complete after 'geo:' come
    through with x/y NULL; consumers drop them."""
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


def _candidate_pairs(pcells, keys, starts):
    """(CSR entry, point) index pairs: each point whose cell is in the
    index, once per entry of that cell — one searchsorted, no loop."""
    if not len(keys):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    pos = np.minimum(np.searchsorted(keys, pcells), len(keys) - 1)
    pt = np.flatnonzero(keys[pos] == pcells)
    first = starts[pos[pt]]
    cnt = starts[pos[pt] + 1] - first
    entry = np.repeat(first - (np.cumsum(cnt) - cnt), cnt) + np.arange(int(cnt.sum()))
    return entry, np.repeat(pt, cnt)


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
    token), so the tag-stripping passes stay out of the hot loop;
    `geocode_pages` remains the text extraction contract.  The float
    parse of the fixed '%.2f' token is exact in both runtimes.
    include_url=False drops the widest output column when downstream
    only needs the id (less Arrow bandwidth).

    Size gate: the broadcast cell index requires a driver collect of
    the polygon table; above joins.BROADCAST_MAX_BYTES estimated bytes
    the fused plan is refused and the extracted points go through
    pip_join's shuffle cell-join instead (identical output).
    """
    dim = joins.dimension(polys, poly_id, poly_geom, grid)
    level = dim.level if level is None else level
    pts = _extract_points(pages, include_url)
    if dim.build_bytes > joins.BROADCAST_MAX_BYTES:
        out = joins.pip_join(
            pts.where(F.col("x").isNotNull() & F.col("y").isNotNull()),
            polys, point_id="page_id", x_col="x", y_col="y",
            poly_id=poly_id, poly_geom=poly_geom, level=level, grid=grid,
            broadcast=False, keep_cols=(["url"] if include_url else []),
            tile_level=tile_level, tile_grid=grid,
        )
        return out.select(
            F.col("point_id").alias("page_id"),
            *(["url"] if include_url else []),
            "poly_id", "cell_id",
        )
    bc = dim.cover(polys, level)[1]
    out_schema = StructType(
        [StructField("page_id", LongType())]
        + ([StructField("url", StringType())] if include_url else [])
        + [
            StructField("poly_id", polys.schema[poly_id].dataType),
            StructField("cell_id", LongType()),
        ]
    )
    arrow_schema = pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in out_schema.fields])

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
            px = t.column("x").to_numpy()
            py = t.column("y").to_numpy()
            # extraction misses arrive as NULL x/y (NaN here)
            ok = np.flatnonzero(~(np.isnan(px) | np.isnan(py)))
            px, py = px[ok], py[ok]
            entry, pt = _candidate_pairs(grid.encode_points(px, py, idx["level"]), keys, starts)
            poly = members[entry]
            loc = gpred.locate_pairs(
                px[pt], py[pt], idx["ebox"][poly],
                idx["band_lo"][entry], idx["band_hi"][entry], *edges, idx["band"],
            )
            hit = loc != gpred.EXTERIOR
            pt, poly = pt[hit], poly[hit]
            if not len(pt):
                return None
            rows = pa.array(ok[pt])
            cols = [t.column("page_id").take(rows).combine_chunks()]
            if include_url:
                cols.append(t.column("url").take(rows).combine_chunks())
            cols += [
                pa.array(idx["pids"][poly]),
                pa.array(grid.encode_points(px[pt], py[pt], tile_level)),
            ]
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

    return pts.mapInArrow(run, schema=out_schema)
