"""Cell layer + CRS tests."""

import numpy as np
import pytest

from geospark.cells import cellid as CI
from geospark.cells.coverage import cover_geometry
from geospark.crs.osgb import bng_to_wgs84, reproject, transform_xy, wgs84_to_bng
from geospark.geom import core as C


def test_pack_unpack_roundtrip():
    ix = np.array([0, 5, 1000, (1 << 20) - 1])
    iy = np.array([0, 7, 999, 12345])
    for level in (0, 5, 16, 20, 28):
        n = 1 << level
        jx, jy = ix % n, iy % n
        cid = CI.pack(jx, jy, level)
        assert (cid > 0).all() or level == 0  # never wraps negative/aliases
        l, ix2, iy2 = CI.unpack(cid)
        assert (l == level).all() and (ix2 == jx).all() and (iy2 == jy).all()


def test_pack_rejects_overflow_levels():
    # 2*level+6 bits: level 29-30 would alias distinct cells
    # (pack(2^29,0,30) == pack(0,0,30) pre-fix) — now a hard error
    with pytest.raises(ValueError):
        CI.pack(np.array([0]), np.array([0]), 29)
    assert CI.MAX_LEVEL == 28
    big = CI.pack(np.array([(1 << 28) - 1]), np.array([(1 << 28) - 1]), 28)
    assert int(big[0]) > 0  # top of the domain still a positive int64


def test_parent_children():
    cid = CI.pack(np.array([100]), np.array([200]), 10)
    p = CI.parent(cid)
    lvl, ix, iy = CI.unpack(p)
    assert lvl[0] == 9 and ix[0] == 50 and iy[0] == 100
    assert int(cid[0]) in CI.children(int(p[0]))


def test_k_ring_and_shell():
    cid = int(CI.pack(np.array([10]), np.array([10]), 8)[0])
    assert len(CI.k_ring(cid, 1)) == 9
    assert len(CI.k_ring(cid, 2)) == 25
    assert len(CI.ring_only(cid, 1)) == 8
    assert list(CI.ring_only(cid, 0)) == [cid]
    # domain clipping at the corner
    corner = int(CI.pack(np.array([0]), np.array([0]), 8)[0])
    assert len(CI.k_ring(corner, 1)) == 4


def test_compact_uncompact():
    p = int(CI.pack(np.array([3]), np.array([5]), 9)[0])
    ch = CI.children(p)
    assert list(CI.compact(np.array(ch))) == [p]
    back = CI.uncompact(np.array([p]), 10)
    assert set(back.tolist()) == set(ch)
    # partial sibling set stays put
    assert len(CI.compact(np.array(ch[:3]))) == 3


def test_point_cell_in_polygon_cover():
    g = CI.CellGrid()
    poly = C.from_wkt("POLYGON ((0 0, 1000 0, 1000 1000, 0 1000, 0 0))")
    level = g.level_for_size(64.0)
    cov = set(cover_geometry(poly, g, level).tolist())
    xs = np.array([1.0, 500.0, 999.0, 0.0])
    ys = np.array([1.0, 500.0, 999.0, 0.0])
    cells = g.encode_points(xs, ys, level)
    for c in cells:
        assert int(c) in cov


def test_exact_cover_prunes_diagonal():
    g = CI.CellGrid()
    tri = C.from_wkt("POLYGON ((0 0, 1000 1000, 1000 999, 0 0))")
    level = g.level_for_size(64.0)
    exact = cover_geometry(tri, g, level, exact=True)
    bbox = cover_geometry(tri, g, level, exact=False)
    assert len(exact) < len(bbox) / 3
    # exact cover is a subset of bbox cover
    assert set(exact.tolist()) <= set(bbox.tolist())


class TestCRS:
    def test_os_test_point(self):
        # crs_test.clj:35-44: OS point, tolerance 0.01
        lon, lat = bng_to_wgs84(651409.903, 313177.270)
        assert abs(lon - 1.7179) < 0.01
        assert abs(lat - 52.6576) < 0.01

    def test_known_inverse_points(self):
        # crs_test.clj:46-52 (proj4j exact values; we assert < 0.01 m)
        E, N = wgs84_to_bng(-1.234932, 51.998410)
        assert abs(E - 452622.19489624136) < 0.01
        assert abs(N - 233605.77503933024) < 0.01
        lon, lat = bng_to_wgs84(0.0, 1.0)
        assert abs(lon - -7.557160831822298) < 0.001
        assert abs(lat - 49.766816190946884) < 0.001

    def test_roundtrip(self):
        # crs_test.clj:61-64
        lon, lat = bng_to_wgs84(651409.903, 313177.270)
        E, N = wgs84_to_bng(lon, lat)
        assert abs(E - 651409.903) < 0.01
        assert abs(N - 313177.270) < 0.01

    def test_reproject_geometry_source_untouched(self):
        g = C.point(651409.903, 313177.270, 27700)
        out = reproject(g, 27700, 4326)
        assert out.srid == 4326
        assert g.parts[0, 0] == 651409.903  # source untouched (crs_test.clj:57-59)

    def test_unknown_crs_throws(self):
        # crs_test.clj:31-33
        with pytest.raises(ValueError):
            transform_xy(1.0, 2.0, 999999999, 4326)
        with pytest.raises(ValueError):
            transform_xy(1.0, 2.0, 4326, 999999999)


def test_cell_id_expr_matches_numpy(spark):
    """Catalyst Morton encode (cells/cellexpr.py) is bit-identical to
    cellid.pack across levels, grids, and out-of-domain points."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geospark.cells.cellexpr import cell_id_expr
    from geospark.cells.cellid import DEFAULT_GRID, CellGrid

    rng = np.random.default_rng(3)
    x = rng.uniform(-2e6, 3e6, 5000)
    y = rng.uniform(-2e6, 3e6, 5000)
    # extreme out-of-domain values: both engines must SATURATE to the
    # domain edge (clamp-before-cast; numpy astype would wrap, ANSI
    # cast would throw)
    x[:4] = [1e30, -1e30, 4e18, -4e18]
    y[:4] = [-1e30, 1e30, -4e18, 4e18]
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
    for grid in (DEFAULT_GRID, CellGrid(0.0, 0.0, 1024000.0)):
        for level in (0, 7, 14, 28):
            want = grid.encode_points(x, y, level)
            # BOTH Morton forms (table join-key form, ladder
            # projection form) must be bit-identical to numpy
            for form in ("table", "ladder"):
                got = (
                    df.select(
                        cell_id_expr("x", "y", level, grid, form).alias("c")
                    )
                    .toPandas()["c"]
                    .to_numpy()
                )
                assert (got == want).all(), (grid, level, form)


def test_cell_unpack_expr_matches_numpy(spark):
    """Catalyst ix/iy/level decode matches cellid.unpack."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geospark.cells.cellexpr import cell_ix_expr, cell_iy_expr, cell_level_expr
    from geospark.cells.cellid import DEFAULT_GRID, unpack

    rng = np.random.default_rng(5)
    x = rng.uniform(-1e6, 3e6, 4000)
    y = rng.uniform(-1e6, 3e6, 4000)
    cids = DEFAULT_GRID.encode_points(x, y, 16)
    df = spark.createDataFrame(pd.DataFrame({"c": cids}))
    got = df.select(
        cell_ix_expr("c").alias("ix"),
        cell_iy_expr("c").alias("iy"),
        cell_level_expr("c").alias("lvl"),
    ).toPandas()
    lvl, ix, iy = unpack(cids)
    assert (got["ix"].to_numpy() == ix).all()
    assert (got["iy"].to_numpy() == iy).all()
    assert (got["lvl"].to_numpy() == lvl).all()


def test_cell_encode_nan_maps_to_cell_zero(spark):
    """NaN coordinates map to cell (0,0) in BOTH engines (numpy astype
    of NaN is INT64_MIN; Spark orders NaN largest — both are guarded)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geospark.cells.cellexpr import cell_id_expr
    from geospark.cells.cellid import DEFAULT_GRID

    x = np.array([np.nan, 1000.0, np.nan])
    y = np.array([np.nan, np.nan, 2000.0])
    ix, iy = DEFAULT_GRID.cell_xy(x, y, 14)
    assert (ix >= 0).all() and (iy >= 0).all()
    want = DEFAULT_GRID.encode_points(x, y, 14)
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
    got = (
        df.select(cell_id_expr("x", "y", 14, DEFAULT_GRID).alias("c"))
        .toPandas()["c"]
        .to_numpy()
    )
    assert (got == want).all()


def test_env_cells_expr_matches_numpy_spec(spark):
    """The Catalyst bbox cover (env_cells_expr) is bit-identical to
    the numpy spec (_env_cells_udf) — including cell-boundary floats,
    NaN saturation, and inverted/degenerate envelopes."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geospark.cells.cellexpr import env_cells_expr
    from geospark.cells.cellid import DEFAULT_GRID
    from geospark.ops.knn import _env_cells_udf

    level = 10
    rng = np.random.RandomState(11)
    n = 400
    cs = DEFAULT_GRID.cell_size(level)
    x0 = rng.uniform(DEFAULT_GRID.x0, DEFAULT_GRID.x0 + DEFAULT_GRID.span, n)
    y0 = rng.uniform(DEFAULT_GRID.y0, DEFAULT_GRID.y0 + DEFAULT_GRID.span, n)
    # mix: random spans, exact-boundary-aligned corners, NaN, huge
    w = rng.uniform(0, 3 * cs, n)
    h = rng.uniform(0, 3 * cs, n)
    x0[:100] = DEFAULT_GRID.x0 + np.round(x0[:100] / cs) * cs  # on boundaries
    x0[380:385] = np.nan
    y0[385:390] = np.inf
    x0[390:395] = -1e300
    # mixed finite-min / NaN-max (inverts the raw range; both engines
    # must clamp to a non-empty cover, not crash or disagree)
    w[395:400] = np.nan
    pdf = pd.DataFrame({"xmin": x0, "ymin": y0, "xmax": x0 + w, "ymax": y0 + h})
    df = spark.createDataFrame(pdf)
    got = (
        df.select(
            env_cells_expr(
                "xmin", "ymin", "xmax", "ymax", level, DEFAULT_GRID
            ).alias("cells")
        )
        .toPandas()["cells"]
    )
    udf = _env_cells_udf(DEFAULT_GRID, level)
    want = (
        df.select(udf("xmin", "ymin", "xmax", "ymax").alias("cells"))
        .toPandas()["cells"]
    )
    for i, (g, w_) in enumerate(zip(got, want)):
        assert list(g) == list(w_), f"row {i}: {list(g)[:5]} vs {list(w_)[:5]}"


def test_point_cover_equals_cell_id_expr(spark):
    """knn_join's point build side replaced the env_cells_expr explode
    with a direct cell_id_expr (the degenerate envelope covers exactly
    the cell containing the point, and the HOF cover is interpreted
    per row while cell_id_expr codegens).  Pin the equivalence the
    rewrite rests on: for ANY point — boundary-aligned, NaN, ±inf,
    out-of-domain — env_cells_expr(x, y, x, y) == [cell_id_expr(x, y)]."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geospark.cells.cellexpr import cell_id_expr, env_cells_expr
    from geospark.cells.cellid import DEFAULT_GRID

    level = 12
    rng = np.random.RandomState(23)
    n = 400
    cs = DEFAULT_GRID.cell_size(level)
    x = rng.uniform(DEFAULT_GRID.x0 - 100, DEFAULT_GRID.x0 + DEFAULT_GRID.span + 100, n)
    y = rng.uniform(DEFAULT_GRID.y0 - 100, DEFAULT_GRID.y0 + DEFAULT_GRID.span + 100, n)
    x[:100] = DEFAULT_GRID.x0 + np.round(x[:100] / cs) * cs  # cell boundaries
    x[380:385] = np.nan
    y[385:390] = np.inf
    x[390:395] = -1e300
    y[395:400] = np.nan
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
    out = df.select(
        env_cells_expr("x", "y", "x", "y", level, DEFAULT_GRID).alias("cover"),
        cell_id_expr("x", "y", level, DEFAULT_GRID).alias("cell"),
    ).toPandas()
    for i, (cover, cell) in enumerate(zip(out["cover"], out["cell"])):
        assert list(cover) == [cell], f"row {i}: {list(cover)} vs {cell}"


def test_explode_cover3_matches_general_cover(spark):
    """explode_cover3 (the JIT-able ≤3×3 cover used for the kNN query
    side) emits the same per-row cell SET as exploding the general
    env_cells_expr, for every bbox within its contract (span ≤
    2·cell_size per axis) — boundary-aligned, NaN, ±inf, out-of-domain
    and rng=0 cases included — with no duplicates."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geospark.cells.cellexpr import env_cells_expr, explode_cover3
    from geospark.cells.cellid import DEFAULT_GRID

    level = DEFAULT_GRID.level_for_size(2000.0)
    assert DEFAULT_GRID.cell_size(level) >= 2000.0
    rng_ = np.random.RandomState(31)
    n = 500
    cs = DEFAULT_GRID.cell_size(level)
    x = rng_.uniform(DEFAULT_GRID.x0 - 100, DEFAULT_GRID.x0 + DEFAULT_GRID.span + 100, n)
    y = rng_.uniform(DEFAULT_GRID.y0 - 100, DEFAULT_GRID.y0 + DEFAULT_GRID.span + 100, n)
    x[:120] = DEFAULT_GRID.x0 + np.round(x[:120] / cs) * cs  # cell boundaries
    x[460:470] = np.nan
    y[470:480] = np.inf
    x[480:490] = -1e300
    y[490:500] = np.nan
    # per-row expansion radius in [0, cell_size] (the operator's
    # contract is rng <= cell_size; 0 and the full cs included)
    r = rng_.uniform(0.0, cs, n)
    r[:50] = 0.0
    r[50:100] = cs
    pdf = pd.DataFrame(
        {"row": np.arange(n), "xmin": x - r, "ymin": y - r, "xmax": x + r, "ymax": y + r}
    )
    df = spark.createDataFrame(pdf)
    args = ("xmin", "ymin", "xmax", "ymax")
    general = (
        df.select("row", F.explode(env_cells_expr(*args, level, DEFAULT_GRID)).alias("c"))
        .toPandas().groupby("row")["c"].apply(list).to_dict()
    )
    fast = (
        explode_cover3(df, *args, level, DEFAULT_GRID, out_col="c")
        .select("row", "c").toPandas().groupby("row")["c"].apply(list).to_dict()
    )
    assert set(general) == set(fast)
    for i in general:
        assert set(general[i]) == set(fast[i]), f"row {i}"
        assert len(fast[i]) == len(set(fast[i])), f"row {i}: duplicates"


def test_knn_cover_at_rng_equal_cell_size(spark):
    """At rng == cell_size a point envelope expanded by rng spans 3
    cells per axis in exact arithmetic, but float rounding of the cell
    index can carry its upper bound one ulp into a fourth cell.  Query
    points one ulp below a cell boundary hit that case; there the
    kNN fast cover (explode_cover3) must still equal the general cover,
    and knn_join must find the build point at rect distance exactly rng
    that lies in the fourth cell."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geospark.cells.cellexpr import env_cells_expr, explode_cover3
    from geospark.cells.cellid import DEFAULT_GRID as grid
    from geospark.ops.knn import knn_join

    y = 1000.5
    four = {}  # level -> query x whose expanded x-range spans 4 cells
    for level in (6, 10, 12, 14):
        c = grid.cell_size(level)
        k = np.random.RandomState(level).randint(0, (1 << level) - 4, 20000)
        boundary = grid.x0 + (k + 2) * c
        qx = boundary - np.spacing(boundary)
        lo, _ = grid.cell_xy(qx - c, qx, level)
        hi, _ = grid.cell_xy(qx + c, qx, level)
        if (hi - lo == 3).any():
            four[level] = qx[hi - lo == 3][:5]
    assert 14 in four, four  # the case exists at the benchmark's level

    for level, xs in four.items():
        c = grid.cell_size(level)
        df = spark.createDataFrame(pd.DataFrame({
            "row": np.arange(len(xs)), "xmin": xs - c, "ymin": y - c, "xmax": xs + c, "ymax": y + c,
        }))
        args = ("xmin", "ymin", "xmax", "ymax")
        general = (
            df.select("row", F.explode(env_cells_expr(*args, level, grid)).alias("c"))
            .toPandas().groupby("row")["c"].apply(set).to_dict()
        )
        fast = (
            explode_cover3(df, *args, level, grid, out_col="c")
            .toPandas().groupby("row")["c"].apply(set).to_dict()
        )
        assert general == fast, level
        assert all(len(v) == 12 for v in general.values())  # 4 × 3 cells

    c = grid.cell_size(14)
    qx = float(four[14][0])
    bx = qx + c
    assert bx - qx == c and grid.cell_xy(bx, y, 14)[0] == grid.cell_xy(qx - c, y, 14)[0] + 3
    query = spark.createDataFrame(pd.DataFrame({"qid": [0], "x": [qx], "y": [y]}))
    build = spark.createDataFrame(pd.DataFrame({"bid": [1, 2], "x": [bx, qx + 2 * c], "y": [y, y]}))
    out = knn_join(query, build, n=5, rng=c).toPandas()
    assert list(out["bid"]) == [1] and list(out["rect_dist"]) == [c]
