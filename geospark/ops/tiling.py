"""Tiling: square-grid DataFrames, tile assignment, raster↔vector.

make_grid_df mirrors grid/make-grid (grid.clj:4-25, golden
grid_test.clj:6-18) as a pure Catalyst plan: two F.sequence ranges
crossed with explode — no UDF, no shuffle.

Tile assignment (the flagship pipeline's last hop) is a vectorized
cell encode at a chosen level; rasterize/vectorize round-trip cells
to per-tile aggregate grids and back.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..cells.cellid import DEFAULT_GRID, CellGrid


def make_grid_df(
    spark,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    dimension: float,
) -> DataFrame:
    """Square grid covering the envelope expanded by `dimension`,
    aligned to the expanded min corner (reference semantics).

    Output: (ix, iy, cell_xmin, cell_ymin, cell_xmax, cell_ymax).
    """
    x0, y0 = xmin - dimension, ymin - dimension
    x1, y1 = xmax + dimension, ymax + dimension
    nx = int(np.ceil((x1 - x0) / dimension))
    ny = int(np.ceil((y1 - y0) / dimension))
    return (
        spark.range(nx)
        .withColumnRenamed("id", "ix")
        .crossJoin(spark.range(ny).withColumnRenamed("id", "iy"))
        .select(
            "ix",
            "iy",
            (F.lit(x0) + F.col("ix") * F.lit(dimension)).alias("cell_xmin"),
            (F.lit(y0) + F.col("iy") * F.lit(dimension)).alias("cell_ymin"),
            (F.lit(x0) + (F.col("ix") + 1) * F.lit(dimension)).alias("cell_xmax"),
            (F.lit(y0) + (F.col("iy") + 1) * F.lit(dimension)).alias("cell_ymax"),
        )
    )


def assign_tiles(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    level: int = 16,
    grid: CellGrid = DEFAULT_GRID,
    out_col: str = "cell_id",
) -> DataFrame:
    """Z-order tile id for each point row — a pure Catalyst expression
    (cells/cellexpr.py, bit-identical to cellid.pack), so tile
    assignment runs inside whole-stage codegen with no python worker
    or Arrow transfer at all."""
    from ..cells.cellexpr import cell_id_expr, sql_col

    # ladder form: this is a Project stage (codegen CSE collapses the
    # duplicated float chain — plan-asserted in test_plans), where the
    # pure-ALU ladder measured 4× faster than the table lookups
    return df.withColumn(
        out_col, cell_id_expr(sql_col(x_col), sql_col(y_col), level, grid, form="ladder")
    )


def rasterize(
    df: DataFrame,
    value_col: str,
    x_col: str = "x",
    y_col: str = "y",
    level: int = 16,
    grid: CellGrid = DEFAULT_GRID,
    agg: str = "count",
) -> DataFrame:
    """Aggregate point values onto the cell raster at `level`:
    (cell_id, ix, iy, value).  The raster is just a DataFrame keyed by
    cell — at 100 TB it stays distributed; collect only per-tile
    windows.  Encode, aggregate, and unpack are all JVM-side."""
    from ..cells.cellexpr import cell_ix_expr, cell_iy_expr

    d = assign_tiles(df, x_col, y_col, level, grid)
    if agg == "count":
        r = d.groupBy("cell_id").agg(F.count(F.lit(1)).alias("value"))
    elif agg == "sum":
        r = d.groupBy("cell_id").agg(F.sum(value_col).alias("value"))
    elif agg == "mean":
        r = d.groupBy("cell_id").agg(F.avg(value_col).alias("value"))
    else:
        raise ValueError(agg)

    return r.select(
        "cell_id",
        cell_ix_expr("cell_id").alias("ix"),
        cell_iy_expr("cell_id").alias("iy"),
        "value",
    )


def vectorize(
    raster: DataFrame,
    threshold: float,
    level: int,
    grid: CellGrid = DEFAULT_GRID,
) -> DataFrame:
    """Threshold a raster and emit cell polygons (WKB) for cells ≥
    threshold — the raster→vector direction.  Adjacent-cell dissolve
    is a downstream `dissolve` call."""
    from ..functions import st_geomfromtext

    s = grid.cell_size(level)
    x0, y0 = grid.x0, grid.y0
    kept = raster.where(F.col("value") >= threshold)
    wkt = F.concat(
        F.lit("POLYGON (("),
        (F.lit(x0) + F.col("ix") * s).cast("string"), F.lit(" "), (F.lit(y0) + F.col("iy") * s).cast("string"), F.lit(", "),
        (F.lit(x0) + (F.col("ix") + 1) * s).cast("string"), F.lit(" "), (F.lit(y0) + F.col("iy") * s).cast("string"), F.lit(", "),
        (F.lit(x0) + (F.col("ix") + 1) * s).cast("string"), F.lit(" "), (F.lit(y0) + (F.col("iy") + 1) * s).cast("string"), F.lit(", "),
        (F.lit(x0) + F.col("ix") * s).cast("string"), F.lit(" "), (F.lit(y0) + (F.col("iy") + 1) * s).cast("string"), F.lit(", "),
        (F.lit(x0) + F.col("ix") * s).cast("string"), F.lit(" "), (F.lit(y0) + F.col("iy") * s).cast("string"),
        F.lit("))"),
    )
    return kept.withColumn("geom", st_geomfromtext(wkt))
