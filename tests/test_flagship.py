"""Fused flagship operator == composable path, and salting parity."""

import pytest
from pyspark.sql import functions as F


def test_fused_matches_composable(spark):
    from geospark.cells.cellid import DEFAULT_GRID
    from geospark.extract.geocode import geocode_pages
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile
    from geospark.ops.joins import choose_level, pip_join

    pages = generate_pages(spark, 20_000).cache()
    pages.count()
    districts = generate_districts(spark, 300).cache()
    districts.count()
    level = choose_level(districts, "geom", DEFAULT_GRID)

    fused = geocode_pip_tile(
        pages, districts, level=level, tile_level=14
    ).toPandas()

    geo = geocode_pages(pages).where("kind=1").select("page_id", "x", "y")
    comp = pip_join(
        geo, districts, point_id="page_id", x_col="x", y_col="y",
        broadcast=True, level=level, tile_level=14,
    ).toPandas()

    a = set(map(tuple, fused[["page_id", "poly_id", "cell_id"]].values.tolist()))
    b = set(map(tuple, comp[["point_id", "poly_id", "cell_id"]].values.tolist()))
    assert a == b and len(a) > 0

    lean = geocode_pip_tile(
        pages, districts, level=level, tile_level=14, include_url=False
    )
    assert lean.columns == ["page_id", "poly_id", "cell_id"]
    assert lean.count() == len(fused)


def test_result_outlives_dimension_dataframe(spark):
    """A flagship result DataFrame closes over the cached broadcast
    index; collecting the dimension DataFrame (weak-key eviction +
    finalizer) must NOT invalidate the surviving plan — the finalizer
    unpersists (eager executor release) but never destroys."""
    import gc as _gc

    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile

    pages = generate_pages(spark, 2000)
    districts = generate_districts(spark, 20)
    out = geocode_pip_tile(pages, districts, tile_level=10, include_url=False)
    n1 = out.count()
    del districts
    _gc.collect()
    # the broadcast was unpersisted by the finalizer; the surviving
    # plan must still execute (driver re-broadcasts on demand)
    assert out.count() == n1
    assert n1 > 0
