"""The dimension-index cache shared by the flagship, pip_join and
predicate_join: per-DataFrame answers, no repeated driver jobs, and
release of the broadcast when the DataFrame is dropped."""

import gc as _gc

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geospark.cells.cellid import DEFAULT_GRID
from geospark.geom import core as C


def _boxes(spark, boxes, id_col="poly_id"):
    """(id, WKB) DataFrame of axis-aligned boxes {id: (x0, y0, x1, y1)}."""
    return spark.createDataFrame(pd.DataFrame({
        id_col: list(boxes),
        "geom": [
            C.to_wkb(C.from_wkt(f"POLYGON (({a} {b}, {c} {b}, {c} {d}, {a} {d}, {a} {b}))"))
            for a, b, c, d in boxes.values()
        ],
    }))


# the same ids over different shapes: a stale cache entry would answer
# one layer with the other's polygons
LAYER_A = {0: (0, 0, 50, 50), 1: (50, 0, 100, 50)}
LAYER_B = {0: (0, 50, 100, 100), 1: (20, 20, 80, 45)}
XS = np.arange(300) % 20 * 5.0 + 2.5  # never on a box edge
YS = np.arange(300) // 20 * 7.0 + 1.25
PROBES = {10: (10, 10, 30, 30), 11: (60, 60, 70, 70), 12: (1, 46, 3, 48), 13: (85, 30, 95, 40)}


def _inside(boxes):
    return {
        (i, pid)
        for i, (x, y) in enumerate(zip(XS, YS))
        for pid, (a, b, c, d) in boxes.items()
        if a <= x <= c and b <= y <= d
    }


def _overlapping(boxes):
    return {
        (lid, rid)
        for lid, (a, b, c, d) in PROBES.items()
        for rid, (e, f, g, h) in boxes.items()
        if a <= g and e <= c and b <= h and f <= d
    }


def _pages(spark):
    pdf = pd.DataFrame({
        "page_id": np.arange(len(XS)),
        "url": [f"https://p{i}.example.org/" for i in range(len(XS))],
        "html": [f"<p>geo:{x:.2f},{y:.2f}</p>".encode() for x, y in zip(XS, YS)],
    })
    return spark.createDataFrame(pdf)


def _calls(spark, polys):
    """pip_join, predicate_join and geocode_pip_tile against polys, as
    DataFrames (nothing executed)."""
    from geospark.ops.flagship import geocode_pip_tile
    from geospark.ops.joins import pip_join, predicate_join

    pts = spark.createDataFrame(pd.DataFrame({"point_id": np.arange(len(XS)), "x": XS, "y": YS}))
    probes = _boxes(spark, PROBES, "lid")
    return (
        pip_join(pts, polys),
        predicate_join(probes, polys, "lid", "geom", "poly_id", "geom"),
        geocode_pip_tile(_pages(spark), polys, tile_level=14),
    )


def test_two_dimensions_get_their_own_answers(spark):
    a, b = _boxes(spark, LAYER_A), _boxes(spark, LAYER_B)
    for polys, boxes in ((a, LAYER_A), (b, LAYER_B), (a, LAYER_A)):
        pip, pred, flag = (d.toPandas() for d in _calls(spark, polys))
        assert set(zip(pip["point_id"], pip["poly_id"])) == _inside(boxes)
        assert set(zip(pred["left_id"], pred["right_id"])) == _overlapping(boxes)
        assert set(zip(flag["page_id"], flag["poly_id"])) == _inside(boxes)
    assert len(_inside(LAYER_A)) > 0 and _inside(LAYER_A) != _inside(LAYER_B)


def test_second_call_runs_no_driver_job(spark):
    from geospark.ops.joins import pip_join

    sc = spark.sparkContext
    # repartitioned: collecting a local relation would run no job at all
    polys = _boxes(spark, LAYER_B).repartition(2)
    pts = spark.createDataFrame(pd.DataFrame({"point_id": [0], "x": [1.0], "y": [1.0]}))
    try:
        sc.setJobGroup("dimension-cache-first", "first join against a new dimension")
        pip_join(pts, polys)
        sc.setJobGroup("dimension-cache-again", "later joins against the same dimension")
        _calls(spark, polys)
        pip_join(pts, polys, broadcast=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("dimension-cache-first")
    assert sc.statusTracker().getJobIdsForGroup("dimension-cache-again") == []


def test_dropping_the_dataframe_releases_its_entry(spark):
    from geospark.ops import joins as J

    polys = _boxes(spark, LAYER_A)
    out = _calls(spark, polys)[0]  # pip_join, broadcast plan
    n = out.count()
    dim = J.dimension(polys, "poly_id", "geom", DEFAULT_GRID)
    ((_, bc),) = dim.covers.values()
    released = []
    unpersist = bc.unpersist
    bc.unpersist = lambda blocking=False: (released.append(blocking), unpersist(blocking))
    entries = len(J._DIMENSIONS)
    del polys, dim
    _gc.collect()
    assert released == [False]
    assert len(J._DIMENSIONS) == entries - 1
    # a result that outlives its dimension still runs (unpersist, not destroy)
    assert out.count() == n > 0
