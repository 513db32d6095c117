"""Distributed kNN — cell-grid join with ring coverage + exact re-rank.

Reference semantics (index.clj:78-104): candidates are entries whose
*envelope* is within `rng` of the query (rect distance), the best n by
rect distance are kept, then re-sorted by true geometry distance.
The docstring trap (bbox-nearest ≠ geom-nearest for n=1,
index.clj:87-91) is preserved intentionally — we reproduce it.

Queries may be points (qx/qy) or ANY geometry (query_geom WKB, the
reference's HasGeometry query, index.clj:78): the query keys by its
envelope expanded by `rng`, rect distance is envelope↔envelope, true
distance is geometry↔geometry.

Distribution: pick the cell level so cell_size ≥ rng; the probe side
covers its rng-expanded envelope (for a point that is ⊆ the 3×3
k-ring), the build side keys each entry by the cells its envelope
touches; equi-join, dedupe, rank with a window.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from ..cells.cellid import DEFAULT_GRID, CellGrid
from ..functions import st_envelope
from ..geom import core as gc
from ..geom.predicates import distance


def _env_cells_udf(grid: CellGrid, level: int):
    """Cells touched by each bbox at `level` — vectorized index math,
    one python list build per row (no per-row cover_bbox call).

    No longer on the kNN hot path (cells/cellexpr.env_cells_expr is
    the production cover, pure codegen); kept as the executable numpy
    SPEC of the cover — the parity property test in
    tests/test_cells_crs.py pins the Catalyst expression to it.  The
    index math is intentionally the exact op order of
    cellid.cell_xy / cellexpr.cell_xy_sql ((x−x0)/span·n, saturate,
    truncate) so the twins are bit-identical at cell boundaries."""
    n = 1 << level

    @F.pandas_udf(ArrayType(LongType()))
    def env_cells(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
        from ..cells.cellid import pack

        # nan_to_num BEFORE floor/clip: clip passes NaN through and
        # astype(NaN) is INT64_MIN → negative counts → np.repeat
        # ValueError (same saturation rule as cellid.cell_xy)
        def _idx(s: pd.Series) -> np.ndarray:
            f = np.nan_to_num((s.to_numpy(np.float64) - grid.x0) / grid.span * n, nan=0.0)
            return np.clip(np.floor(f), 0, n - 1).astype(np.int64)

        def _idy(s: pd.Series) -> np.ndarray:
            f = np.nan_to_num((s.to_numpy(np.float64) - grid.y0) / grid.span * n, nan=0.0)
            return np.clip(np.floor(f), 0, n - 1).astype(np.int64)

        ix0, ix1, iy0, iy1 = _idx(xmin), _idx(xmax), _idy(ymin), _idy(ymax)
        # mixed finite-min/NaN-max envelopes: the NaN side saturates
        # to 0, which could invert the range and make counts negative
        # — clamp to a non-empty cover, matching env_cells_expr's
        # F.greatest guard
        ix1 = np.maximum(ix0, ix1)
        iy1 = np.maximum(iy0, iy1)
        # flat construction, no per-row python loop: element j of row r
        # is cell (ix0[r] + j // ny[r], iy0[r] + j % ny[r]); ONE pack()
        # call over every cell of every row, then split at row offsets
        ny = iy1 - iy0 + 1
        cnt = (ix1 - ix0 + 1) * ny
        if len(cnt) == 0:
            # np.split(empty, []) returns ONE subarray — a 0-row Arrow
            # batch must yield a length-0 Series, not length-1
            return pd.Series([], dtype=object)
        cum = np.cumsum(cnt)
        total = int(cum[-1]) if len(cum) else 0
        row = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
        j = np.arange(total, dtype=np.int64) - np.repeat(cum - cnt, cnt)
        xs = ix0[row] + j // ny[row]
        ys = iy0[row] + j % ny[row]
        cells = pack(xs, ys, level)
        return pd.Series(np.split(cells, cum[:-1]))

    return env_cells


def knn_join(
    query: DataFrame,
    build: DataFrame,
    n: int,
    rng: float,
    query_id: str = "qid",
    qx: str = "x",
    qy: str = "y",
    query_geom: Optional[str] = None,
    build_id: str = "bid",
    build_geom: Optional[str] = None,
    bx: str = "x",
    by: str = "y",
    grid: CellGrid = DEFAULT_GRID,
    level: Optional[int] = None,
) -> DataFrame:
    """For each query (point or geometry): up to n nearest build rows
    within rng.

    Build side is points (bx/by) or geometries (build_geom WKB);
    query side is points (qx/qy) or geometries (query_geom WKB).
    Output: (qid, bid, rect_dist, dist, rank) — rank by true distance
    after the rect-distance top-n cut, per reference semantics.

    n=None: NO top-n cut — every build row whose envelope is within
    rect distance rng of the query envelope, i.e. the reference's
    `query` operator (index.clj:106-122; rng=0 → envelope intersects).
    Output then is (qid, bid, rect_dist) with no python re-rank stage.
    """
    if level is None:
        # cell ≈ rng keeps the probe cover within the 3×3 k-ring; for
        # rng=0 range queries pass an explicit level sized to the
        # typical build envelope instead
        level = grid.level_for_size(rng)
    from ..cells.cellexpr import cell_id_sql, env_cells_expr, explode_cover3, sql_col, sql_double

    # pure-Catalyst covers: candidate generation stays in the JVM;
    # python appears only in the exact re-rank kernel (and not at all
    # for point/point).  The probe envelope is expanded by rng.
    r = sql_double(rng)
    probe_env = (f"__qxmin - {r}", f"__qymin - {r}", f"__qxmax + {r}", f"__qymax + {r}")

    if query_geom is not None:
        qenv = query.select(
            F.col(query_id).alias("__qid"),
            F.col(query_geom).alias("__qwkb"),
            st_envelope(F.col(query_geom)).alias("__env"),
        ).select(
            "__qid",
            "__qwkb",
            F.col("__env.xmin").alias("__qxmin"),
            F.col("__env.ymin").alias("__qymin"),
            F.col("__env.xmax").alias("__qxmax"),
            F.col("__env.ymax").alias("__qymax"),
        ).where(F.col("__qxmin").isNotNull())
    else:
        # one selectExpr: a parsed string is one py4j call, while every
        # Column operator is another round trip to the JVM
        qenv = query.selectExpr(
            f"{sql_col(query_id)} AS __qid",
            "CAST(NULL AS BINARY) AS __qwkb",
            f"{sql_col(qx)} AS __qxmin",
            f"{sql_col(qy)} AS __qymin",
            f"{sql_col(qx)} AS __qxmax",
            f"{sql_col(qy)} AS __qymax",
        )
    # probe cells: the rng-expanded query envelope (⊇ every build
    # envelope within rect distance rng, since cell_size ≥ rng).
    # Point queries expanded by rng span ≤ 2·rng ≤ 2·cell_size per
    # axis whenever the level honors cell_size ≥ rng — their cover is
    # a ≤4×4 grid (3×3 plus one cell of float rounding at
    # rng == cell_size), emitted by explode_cover3 in JIT-able codegen
    # (explode(env_cells_expr) is interpreted per row; same finding
    # as the build side below, and the query side is the BIG side in
    # batch-lookup workloads — measured 32× at 20M query points).
    # Geometry queries and caller-forced finer levels keep the
    # general HOF cover.
    if query_geom is None and grid.cell_size(level) >= rng:
        q = explode_cover3(qenv, *probe_env, level, grid, out_col="__cell")
    else:
        q = qenv.select(
            "__qid",
            "__qwkb",
            "__qxmin",
            "__qymin",
            "__qxmax",
            "__qymax",
            F.explode(env_cells_expr(*probe_env, level, grid)).alias("__cell"),
        )

    if build_geom is not None:
        env = build.select(
            F.col(build_id).alias("__bid"),
            F.col(build_geom).alias("__bwkb"),
            st_envelope(F.col(build_geom)).alias("__env"),
        ).select(
            "__bid",
            "__bwkb",
            F.col("__env.xmin").alias("__xmin"),
            F.col("__env.ymin").alias("__ymin"),
            F.col("__env.xmax").alias("__xmax"),
            F.col("__env.ymax").alias("__ymax"),
        ).where(F.col("__xmin").isNotNull())

        b = env.select(
            "__bid",
            "__bwkb",
            "__xmin",
            "__ymin",
            "__xmax",
            "__ymax",
            F.explode(
                env_cells_expr("__xmin", "__ymin", "__xmax", "__ymax", level, grid)
            ).alias("__cell"),
        )
    else:
        # point build side: the envelope is degenerate (xmin == xmax,
        # ymin == ymax), so its cover is exactly ONE cell — the cell
        # containing the point.  cell_id_expr replays the identical
        # cell_xy_sql float pipeline (pack forms are property-tested
        # bit-identical), so __cell values match env_cells_expr's
        # single-element cover exactly, while staying inside
        # whole-stage codegen: env_cells_expr's sequence × transform ×
        # flatten lambdas are evaluated INTERPRETED per row, which
        # made this encode the dominant cost of knn/range_query on a
        # big point build side (measured at 150k rows: 0.85s for the
        # explode form vs scan floor 0.09s; knn 1.18s → 0.57s,
        # range_query 1.13s → 0.42s end-to-end).
        b = build.selectExpr(
            f"{sql_col(build_id)} AS __bid",
            f"{sql_col(bx)} AS __xmin",
            f"{sql_col(by)} AS __ymin",
            f"{sql_col(bx)} AS __xmax",
            f"{sql_col(by)} AS __ymax",
            "CAST(NULL AS BINARY) AS __bwkb",
            f"{cell_id_sql(sql_col(bx), sql_col(by), level, grid)} AS __cell",
        )

    def axis_gap(a):  # gap between the query's and the build's [min, max] on axis a
        return f"greatest(0.0D, greatest(__{a}min - __q{a}max, __q{a}min - __{a}max))"

    gx, gy = axis_gap("x"), axis_gap("y")
    cand = (
        q.join(b, on="__cell", how="inner")
        # g*g (not pow) keeps integer-coordinate distances bit-exact
        .selectExpr("*", f"sqrt({gx} * {gx} + {gy} * {gy}) AS __rect_dist")
        # rng filter BEFORE the pair dedupe: the filter is a map-side
        # predicate, the dedupe a full shuffle — order matters at 47M
        # candidates
        .where(f"__rect_dist <= {r}")
    )
    if build_geom is not None:
        # a (query, build) pair repeats only when the BUILD envelope
        # spans several cover cells; point builds key exactly one cell
        # per row, so the dedupe shuffle is skipped entirely
        cand = cand.dropDuplicates(["__qid", "__bid"])

    if n is None:  # envelope/range query: no cut, no re-rank
        return cand.selectExpr(
            f"__qid AS {sql_col(query_id)}", f"__bid AS {sql_col(build_id)}", "__rect_dist AS rect_dist"
        )

    # rect-distance top-n (the R-tree .nearest cut), then true-distance
    # re-rank (index.clj:102-103)
    by_rect = "row_number() OVER (PARTITION BY __qid ORDER BY __rect_dist ASC, __bid ASC)"
    cand = cand.selectExpr("*", f"{by_rect} AS __rrank").where(f"__rrank <= {int(n)}")

    if query_geom is None and build_geom is None:
        # point/point: the envelope IS the geometry, so rect distance
        # equals true distance STATICALLY — the rect rank is the final
        # rank, with no python re-rank stage and no second window
        return cand.selectExpr(
            f"__qid AS {sql_col(query_id)}",
            f"__bid AS {sql_col(build_id)}",
            "__rect_dist AS rect_dist",
            "__rect_dist AS dist",
            "__rrank AS `rank`",
        )

    @F.pandas_udf(DoubleType())
    def true_dist(
        qwkb: pd.Series,
        qx_: pd.Series,
        qy_: pd.Series,
        bwkb: pd.Series,
        bx_: pd.Series,
        by_: pd.Series,
        rect: pd.Series,
    ) -> pd.Series:
        out = []
        for qw, x0, y0, bw, x1, y1, rd in zip(qwkb, qx_, qy_, bwkb, bx_, by_, rect):
            if qw is None and bw is None:
                out.append(float(rd))  # point/point: rect == true
            else:
                ga = gc.from_wkb(qw) if qw is not None else gc.point(float(x0), float(y0))
                gb = gc.from_wkb(bw) if bw is not None else gc.point(float(x1), float(y1))
                out.append(distance(ga, gb))
        return pd.Series(out, dtype="float64")

    cand = cand.withColumn(
        "__dist",
        true_dist(
            F.col("__qwkb"),
            F.col("__qxmin"),
            F.col("__qymin"),
            F.col("__bwkb"),
            F.col("__xmin"),
            F.col("__ymin"),
            F.col("__rect_dist"),
        ),
    )
    w_true = Window.partitionBy("__qid").orderBy(F.col("__dist").asc(), F.col("__bid").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w_true))
        .select(
            F.col("__qid").alias(query_id),
            F.col("__bid").alias(build_id),
            F.col("__rect_dist").alias("rect_dist"),
            F.col("__dist").alias("dist"),
            "rank",
        )
    )
