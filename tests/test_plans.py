"""Physical-plan shape assertions — the 100 TB posture, checked in CI:

- the flagship pipeline has ZERO exchanges before its aggregate
  (scan → codegen'd regex → one python stage against a broadcast index)
- parquet scans receive pushed filters and pruned schemas
- the small-dim side of the candidate join broadcasts
- pure-Catalyst operators stay inside WholeStageCodegen
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospark.geom import core as C


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_flagship_plan_has_no_shuffle(spark):
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile

    pages = generate_pages(spark, 1000)
    districts = generate_districts(spark, 50)
    out = geocode_pip_tile(pages, districts, tile_level=14)
    p = plan_of(out)
    assert "Exchange" not in p, p
    # exactly ONE python stage (fused cells+PIP+tile kernel over the
    # JVM-extracted points); the pages generator is a MapInPandas
    # upstream
    assert p.count("MapInArrow") == 1, p


def test_parquet_scan_pushdown_and_pruning(spark, sf_dir_001):
    d = (
        spark.read.parquet(f"{sf_dir_001}/documents.parquet")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "lang")
    )
    p = plan_of(d)
    assert "PushedFilters: [" in p and "LessThan(doc_id,100)" in p, p
    # column pruning: text (the wide column) must not be read
    assert "ReadSchema" in p and "text" not in p.split("ReadSchema")[1][:200], p


def test_candidate_join_broadcasts_small_dim(spark, sf_dir_001):
    # the cell equi-join in pip_join's shuffle-free broadcast=False
    # variant: Catalyst must still broadcast the (tiny) build side
    from geospark.ops.joins import pip_join
    from geospark.queries import customer_points, nation_boxes

    pts = customer_points(spark, sf_dir_001)
    polys = nation_boxes(spark, sf_dir_001)
    out = pip_join(
        pts, polys, point_id="c_custkey", x_col="x", y_col="y",
        poly_id="poly_id", poly_geom="geom", broadcast=False,
    )
    p = plan_of(out)
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p


def test_make_grid_is_pure_codegen(spark):
    from geospark.ops.tiling import make_grid_df

    g = make_grid_df(spark, 0.0, 0.0, 10000.0, 10000.0, 1000.0)
    p = plan_of(g)
    # pure Catalyst: no python stage, no shuffle (the Range×Range cross
    # join broadcasts; AQE hides codegen spans until the final plan)
    assert "MapInPandas" not in p, p
    assert "hashpartitioning" not in p, p
    assert "Range" in p


@pytest.fixture(scope="module")
def sf_dir_001():
    return "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark):
    """Co-located joins: two tables bucketed by cell_id at the same
    bucket count join as a SortMergeJoin with ZERO Exchange operators
    — the shuffle-elimination layout for repeated large×large joins."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from geospark.ops.bucketing import bucketed_join, write_bucketed
    from geospark.ops.tiling import assign_tiles

    root = tempfile.mkdtemp(prefix="geospark_bucketed_")
    try:
        pts = spark.range(20000).select(
            F.col("id"),
            ((F.col("id") * 7919) % 100000).cast("double").alias("x"),
            ((F.col("id") * 104729) % 100000).cast("double").alias("y"),
        )
        a = assign_tiles(pts, level=10).select("id", "cell_id")
        b = (
            assign_tiles(pts, level=10)
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        write_bucketed(a, "t_feat_b", "cell_id", 8, path=f"{root}/a")
        write_bucketed(b, "t_roll_b", "cell_id", 8, path=f"{root}/b")
        j = bucketed_join(spark, "t_feat_b", "t_roll_b", "cell_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and the join is correct: every feature row finds its rollup
        assert j.count() == 20000
        # control: the same join from UNBUCKETED data shuffles
        au = spark.read.parquet(f"{root}/a")
        bu = spark.read.parquet(f"{root}/b")
        plan_u = (
            au.hint("merge").join(bu, "cell_id")._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" in plan_u
    finally:
        for t in ("t_feat_b", "t_roll_b"):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass
        shutil.rmtree(root, ignore_errors=True)
