"""Driver-side JVM round trips per operator call.

Each py4j call is a socket round trip paid on the driver every time an
operator builds its plan, and the flagship builds one per round.  The
count of one call is exact: a regression fails here instead of hiding
in host noise.  Each operator is called once to warm its dimension
cache (its first-call collect is paid once per process), then counted
on a second call with the same inputs.  Only the operator call is
counted, not the action.  Ceilings are the counts measured when this
test was written (pyspark 4.1.2)."""

import contextlib
import threading

import numpy as np
import pandas as pd
import pytest
from py4j import protocol as proto

from geospark.geom import core as C

# memory-delete commands come from Python's garbage collector, whenever
# it frees a JavaObject; they are no part of building a plan
_FREE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

CEILINGS = {
    "geocode_pip_tile": 73,
    "pip_join_broadcast": 43,
    "pip_join_shuffle": 140,
    "predicate_join": 88,
    "knn_join": 90,
}


@contextlib.contextmanager
def jvm_calls(spark):
    client = spark.sparkContext._gateway._gateway_client
    send, me, sent = client.send_command, threading.get_ident(), []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(_FREE):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command


def _square(x0, y0, d):
    return C.to_wkb(C.from_wkt(
        f"POLYGON (({x0} {y0}, {x0 + d} {y0}, {x0 + d} {y0 + d}, {x0} {y0 + d}, {x0} {y0}))"
    ))


@pytest.fixture(scope="module")
def inputs(spark):
    from geospark.io.pages import generate_pages

    rng = np.random.RandomState(11)
    polys = spark.createDataFrame(pd.DataFrame({
        "poly_id": np.arange(16),
        "geom": [_square(x, y, 20.0) for x in range(-180, 180, 90) for y in range(-80, 80, 40)],
    }))
    points = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(500), "x": rng.uniform(-180, 180, 500), "y": rng.uniform(-80, 80, 500),
    }))
    boxes = spark.createDataFrame(pd.DataFrame({
        "gid": np.arange(50),
        "geom": [_square(x, y, 5.0) for x, y in zip(rng.uniform(-180, 170, 50), rng.uniform(-80, 70, 50))],
    }))
    return {
        "pages": generate_pages(spark, 200), "polys": polys, "points": points, "boxes": boxes,
        "queries": points.withColumnRenamed("point_id", "qid"),
        "builds": points.withColumnRenamed("point_id", "bid"),
    }


def _calls(name):
    from geospark.ops.flagship import geocode_pip_tile
    from geospark.ops.joins import pip_join, predicate_join
    from geospark.ops.knn import knn_join

    return {
        "geocode_pip_tile": lambda d: geocode_pip_tile(d["pages"], d["polys"]),
        "pip_join_broadcast": lambda d: pip_join(d["points"], d["polys"], broadcast=True),
        "pip_join_shuffle": lambda d: pip_join(d["points"], d["polys"], broadcast=False),
        "predicate_join": lambda d: predicate_join(
            d["boxes"], d["polys"], "gid", "geom", "poly_id", "geom"),
        "knn_join": lambda d: knn_join(d["queries"], d["builds"], n=3, rng=10.0),
    }[name]


@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_py4j_calls_per_operator_call(spark, inputs, name):
    call = _calls(name)
    call(inputs)
    with jvm_calls(spark) as sent:
        call(inputs)
    assert len(sent) <= CEILINGS[name], f"{name}: {len(sent)} py4j calls, ceiling {CEILINGS[name]}"
