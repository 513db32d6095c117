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
url], x, y); the rest is joins.pip_join, whose broadcast plan is the
banded CSR kernel (one cell encode, one candidate gather, ONE
gpred.locate_pairs call and one tile encode per coalesced batch).
Rejected variants (Python-regex mapInPandas, a JVM inner-box hybrid, a
pure-Catalyst PIP) are written up in OPTIMIZATION_r06.md and
BENCH/BASELINE.md.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from ..cells.cellid import DEFAULT_GRID, CellGrid
from . import joins
from .joins import build_cell_index  # noqa: F401  (public here too)


def _extract_points(pages: DataFrame, include_url: bool) -> DataFrame:
    """JVM geocode extraction over the raw html → (page_id[, url], x,
    y), byte-compatible with extract.geocode.geocode_pages.  A cheap
    `contains('geo:')` byte search (implied by the regex, whose pattern
    starts with that literal) is the only row filter, so the regex runs
    ONCE per candidate row, in the first projection; the second one
    reads its two fields (Catalyst keeps the two apart rather than
    repeat the regex per field).  Measured at 160M pages: 10.6s → 7.9s
    for the extraction subtree against filtering on the match.  Rows
    where the token does not complete after 'geo:' come through with
    x/y NULL; consumers drop them.

    SQL text, not Column objects: 18 py4j calls instead of 150, on
    every flagship call (the whole geocode_pip_tile call makes 73;
    tests/test_py4j_calls.py holds that ceiling).  The pattern spells
    \\d and \\. as [0-9] and [.], which read the same under either
    setting of spark.sql.parser.escapedStringLiterals."""
    url = ["url"] if include_url else []
    tok = "regexp_extract(CAST(html AS STRING), 'geo:(-?[0-9]+[.][0-9]+,-?[0-9]+[.][0-9]+)', 1)"
    return (
        pages.where("contains(CAST(html AS STRING), 'geo:')")
        .selectExpr("page_id", *url, f"split({tok}, ',') AS __p")
        .selectExpr(
            "page_id", *url,
            "try_cast(get(__p, 0) AS DOUBLE) AS x",
            "try_cast(get(__p, 1) AS DOUBLE) AS y",
        )
    )


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

    pip_join's size gate picks the plan: the broadcast kernel, or above
    joins.BROADCAST_MAX_BYTES the shuffle cell-join (identical output).
    """
    url = ["url"] if include_url else []
    out = joins.pip_join(
        _extract_points(pages, include_url), polys, point_id="page_id",
        poly_id=poly_id, poly_geom=poly_geom, level=level, grid=grid,
        keep_cols=url, tile_level=tile_level,
    )
    return out.selectExpr("point_id AS page_id", *url, "poly_id", "cell_id")
