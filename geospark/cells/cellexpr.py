"""Catalyst-native cell-id encoding: the same (morton(ix,iy) << 6) |
level packing as cellid.pack, built from shift/mask expressions so
point→cell assignment runs inside whole-stage codegen with no python
worker at all.

Bit-identical to the numpy encoders by construction: the float
pipeline ((x - x0) / span * 2^level, truncate-toward-zero, clip) uses
the same IEEE-754 double operations in the same order, and the Morton
spread uses the same magic-number ladder (cellid._part1by1).
Equivalence is property-tested in tests/test_cells_crs.py.

Every expression is composed as Spark SQL text and parsed by ONE
F.expr call.  Building the same tree from Column operators costs one
py4j round trip per operator — a cell id is ~100 of them, a kNN query
cover ~1,400 — which measured 0.5 s of driver time per knn_join before
any task ran.  Inputs are SQL text as well: sql_col(name) for a
column, or any SQL expression over columns.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

from .cellid import MAX_LEVEL, CellGrid


def sql_col(name: str) -> str:
    """SQL text referencing column `name`."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(v: float) -> str:
    """SQL text of the DOUBLE `v`, exactly (repr round-trips; 'inf',
    '-inf' and 'nan' cast from strings)."""
    v = float(v)
    return f"({v!r}D)" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"


# Two Morton spread forms, picked by EXPRESSION CONTEXT:
#
#   ladder — the classic shift-or ladder.  References its input at
#   every step, so the expression TREE doubles per step (2^5 = 32
#   copies of the input subtree).  In a Project/Aggregate stage,
#   whole-stage codegen's subexpression elimination collapses the
#   copies and the pure-ALU form is the fastest (measured 0.32 s /
#   64 M rows).  Fed into a JOIN KEY, the inlined tree blows the
#   generated method past janino's limit → interpreted fallback
#   re-evaluating the float cell_xy chain per leaf (measured 25×
#   slower on the pip_join probe, 5.1 s → 132 s).
#
#   table — four constant-array byte lookups (_MORTON_TAB[b] ==
#   cellid._part1by1(b)).  The input is referenced 4×, the tree stays
#   linear, codegen is healthy in every context; ~4× slower than the
#   ladder in pure-encode microbenches (1.3 s / 64 M rows) but robust.
#
# Default TABLE everywhere; projection-context call sites whose plans
# are codegen-asserted (assign_tiles, rasterize) opt into the ladder,
# and lambda-bound inputs (sequence variables in env_cells_expr) use
# the ladder because duplicating a lambda leaf is free while array
# literals inside interpreted lambdas are re-built per element.
def _spread_byte(b: int) -> int:
    v = b
    v = (v | (v << 4)) & 0x0F0F0F0F
    v = (v | (v << 2)) & 0x33333333
    v = (v | (v << 1)) & 0x55555555
    return v


# elements must be BIGINT: shiftleft on an int column masks the shift
# amount to 5 bits (shift-by-32 becomes shift-by-0)
_MORTON_TAB_SQL = "array(" + ",".join(f"{_spread_byte(b)}L" for b in range(256)) + ")"

_SPREAD_LADDER = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)
_COMPACT_LADDER = (
    (1, 0x3333333333333333),
    (2, 0x0F0F0F0F0F0F0F0F),
    (4, 0x00FF00FF00FF00FF),
    (8, 0x0000FFFF0000FFFF),
    (16, 0x00000000FFFFFFFF),
)


def _part1by1_sql(v: str, form: str = "table") -> str:
    """Spread the low 32 bits of a long across even bit positions
    (bit-identical to cellid._part1by1, property-tested).  The ladder
    form is for cheap leaves (column refs, lambda vars) or
    codegen-verified Project stages only (see the comment above)."""
    if form == "ladder":
        v = f"({v} & 4294967295L)"
        for shift, mask in _SPREAD_LADDER:
            v = f"(({v} | shiftleft({v}, {shift})) & {mask}L)"
        return v
    parts = []
    for k in range(4):
        byte = f"(shiftrightunsigned({v}, {8 * k}) & 255L)" if k else f"({v} & 255L)"
        part = f"element_at({_MORTON_TAB_SQL}, cast({byte} + 1 as int))"
        parts.append(f"shiftleft({part}, {16 * k})" if k else part)
    return "(" + " | ".join(parts) + ")"


def _compact1by1_sql(v: str) -> str:
    """Inverse of _part1by1_sql: gather even bit positions into the
    low 32 bits (same ladder as cellid._compact1by1)."""
    v = f"({v} & {0x5555555555555555}L)"
    for shift, mask in _COMPACT_LADDER:
        v = f"(({v} | shiftright({v}, {shift})) & {mask}L)"
    return v


def _pack_sql(ix: str, iy: str, level: int, form: str = "table") -> str:
    """cellid.pack over (ix, iy) SQL text."""
    if level > MAX_LEVEL:
        raise ValueError(f"cell level {level} > MAX_LEVEL {MAX_LEVEL}")
    m = f"({_part1by1_sql(ix, form)} | shiftleft({_part1by1_sql(iy, form)}, 1))"
    return f"(shiftleft({m}, 6) | {level})"


def cell_xy_sql(x: str, y: str, level: int, grid: CellGrid) -> tuple:
    """(ix, iy) SQL text of the cell coordinates at `level` — mirrors
    CellGrid.cell_xy exactly: (x - x0)/span * 2^level, clamp to
    [0, 2^level) as a DOUBLE, then truncate toward zero.

    Clamping BEFORE the cast matters twice: under ANSI mode (Spark 4
    default) an out-of-long-range double would make CAST throw rather
    than saturate, and numpy's .astype wraps where a JVM cast
    saturates — clamping first makes both engines saturate to the
    domain edge for arbitrarily large out-of-domain coordinates
    (cellid.cell_xy clips the float the same way)."""
    n = 1 << level

    def axis(v: str, origin: float) -> str:
        # nanvl first: Spark orders NaN LARGEST, so least/greatest
        # would clamp NaN to the far corner while numpy maps it to 0
        f = (
            f"nanvl((({v}) - {sql_double(origin)}) / {sql_double(grid.span)}"
            f" * {sql_double(n)}, 0.0D)"
        )
        return f"cast(least(greatest({f}, 0.0D), {sql_double(n - 1)}) as bigint)"

    return axis(x, grid.x0), axis(y, grid.y0)


def cell_ix_expr(cid: str) -> Column:
    """ix from a packed cell id (cellid.unpack in Catalyst)."""
    return F.expr(_compact1by1_sql(f"shiftrightunsigned({cid}, 6)"))


def cell_iy_expr(cid: str) -> Column:
    """iy from a packed cell id."""
    return F.expr(_compact1by1_sql(f"shiftrightunsigned({cid}, 7)"))


def cell_level_expr(cid: str) -> Column:
    """level from a packed cell id."""
    return F.expr(f"({cid} & 63)")


def cell_id_sql(x: str, y: str, level: int, grid: CellGrid, form: str = "table") -> str:
    """SQL text of the packed Z-order cell id of a point — cellid.pack
    in Catalyst.

    form="ladder" only for codegen-verified Project/Aggregate stages
    (see the Morton-form comment); the default table form is robust as
    a join key."""
    return _pack_sql(*cell_xy_sql(x, y, level, grid), level, form)


def cell_id_expr(x: str, y: str, level: int, grid: CellGrid, form: str = "table") -> Column:
    """cell_id_sql as a Column."""
    return F.expr(cell_id_sql(x, y, level, grid, form))


def env_cells_expr(xmin: str, ymin: str, xmax: str, ymax: str, level: int, grid: CellGrid) -> Column:
    """array<long> of every cell id at `level` touched by the bbox —
    the Catalyst twin of ops.knn._env_cells_udf, built from
    sequence × transform × flatten so the whole cover generation runs
    with no python worker.

    Uses the SAME cell_xy_sql as point assignment, so a build point's
    cell is always inside the cover of any envelope containing it
    (self-consistency is what the kNN lower bound needs; mixing float
    op orders across the two sides could drop a boundary point)."""
    ix0, iy0 = cell_xy_sql(xmin, ymin, level, grid)
    ix1, iy1 = cell_xy_sql(xmax, ymax, level, grid)
    # inverted envelopes (all-NaN → 0, or caller-swapped bounds) must
    # not feed sequence() a start > stop; the ladder on the lambda
    # vars: duplicating a bound leaf is free, while a 256-element array
    # literal inside an interpreted lambda would be re-built per element
    return F.expr(
        f"flatten(transform(sequence({ix0}, greatest({ix0}, {ix1})), __ix -> "
        f"transform(sequence({iy0}, greatest({iy0}, {iy1})), __iy -> "
        f"{_pack_sql('__ix', '__iy', level, 'ladder')})))"
    )


def explode_cover3(
    df,
    xmin: str,
    ymin: str,
    xmax: str,
    ymax: str,
    level: int,
    grid: CellGrid,
    out_col: str = "__cell",
):
    """df with every column plus `out_col` = one exploded cover cell
    per row, for bboxes KNOWN to span at most 4 cells per axis — true
    whenever width/height ≤ 2 × cell_size, e.g. a point envelope
    expanded by rng with cell_size ≥ rng.  Exact arithmetic puts such a
    bbox in at most 3 cells per axis; float rounding of the expanded
    bounds and of the index math can land a bound 1 ulp across one more
    cell boundary (rng == cell_size exactly, property-tested), so the
    offset grid is 4×4.  Same cell SET per row as
    `explode(env_cells_expr(...))` — pinned by a property test — but
    ~32× faster on a large side (0.97s vs 31.3s at 20M rows / 174M
    cover cells, local[32], 3×3 grid).

    Why a DataFrame helper and not an array expression: every
    expression form measured WORSE than the interpreted HOF cover it
    was meant to replace.  env_cells_expr's sequence × transform ×
    flatten lambdas are interpreted per row (~1.5µs/row); an
    array-of-9-packs generator made the fused Generate stage inline
    the Morton packs into ONE giant produce/consume method that blows
    past HotSpot's DontCompileHugeMethods threshold, so the whole
    stage ran as interpreted bytecode (47-86s for the same 20M rows —
    Project codegen splits expressions into JIT-able methods, Generate
    codegen does not); `array_distinct` dedupe is CodegenFallback and
    re-evaluates everything per row (113s).  The shape that is fast
    keeps the Generate TRIVIAL and the arithmetic in ordinary
    Project/Filter nodes: materialize the four clamped cell indices,
    explode a literal 0..15 grid offset, filter offsets past the range,
    pack the single surviving (ix, iy) per row.

    Order of emitted cells differs from env_cells_expr (grid-offset
    order vs ix-major enumeration); every consumer feeds an unordered
    equi-join, so only the per-row SET matters."""
    ix0, iy0 = cell_xy_sql(xmin, ymin, level, grid)
    ix1, iy1 = cell_xy_sql(xmax, ymax, level, grid)
    ix, iy = "(__cv_ix0 + __cv_k % 4)", "(__cv_iy0 + __cv_k div 4)"
    return (
        df.selectExpr(
            "*",
            f"{ix0} AS __cv_ix0",
            f"{iy0} AS __cv_iy0",
            f"greatest({ix0}, {ix1}) AS __cv_ix1",
            f"greatest({iy0}, {iy1}) AS __cv_iy1",
        )
        .selectExpr("*", f"explode(array({', '.join(map(str, range(16)))})) AS __cv_k")
        .where(f"{ix} <= __cv_ix1 AND {iy} <= __cv_iy1")
        .selectExpr("*", f"{_pack_sql(ix, iy, level)} AS {sql_col(out_col)}")
        .drop("__cv_ix0", "__cv_iy0", "__cv_ix1", "__cv_iy1", "__cv_k")
    )
