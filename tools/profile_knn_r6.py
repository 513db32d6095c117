"""Round-6 session-3: decompose knn / range_query / ann_lsh residuals.

Phase-isolates q_knn's stages with the noop sink (guide §1.4) and
prints the physical plan, to find where the ~1-2s at sf1.0 goes.

Usage: SPARK_GRAFT_SF_DIR=/tmp/testdata_synth/sf1.0 python tools/profile_knn_r6.py
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def t(label, df, runs=3):
    df.write.format("noop").mode("overwrite").save()  # warm
    rs = []
    for _ in range(runs):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        rs.append(time.time() - t0)
    med = sorted(rs)[len(rs) // 2]
    print(f"  {label:42s} {med:6.3f}s  {['%.2f' % r for r in rs]}")
    return med


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/testdata_synth/sf1.0")
    from geospark.queries import customer_points, nation_boxes, registry
    from geospark.session import build_session

    spark = build_session("profile-knn-r6", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry()

    print(f"== sf_dir = {sf_dir}")

    pts = customer_points(spark, sf_dir)
    print(f"customers: {pts.count()}")

    spark.sparkContext.setJobDescription("scan-only")
    t("customer_points scan", pts)

    # b-side cell encode + explode
    from geospark.cells.cellexpr import env_cells_expr
    from geospark.cells.cellid import DEFAULT_GRID

    level = DEFAULT_GRID.level_for_size(2000.0)
    b = pts.select(
        F.col("c_custkey").alias("__bid"), "x", "y",
        F.explode(env_cells_expr("x", "y", "x", "y", level, DEFAULT_GRID)).alias("__cell"),
    )
    spark.sparkContext.setJobDescription("b-side encode")
    t("b-side env_cells explode", b)

    # full knn query
    knn_df = qs["knn"](spark, sf_dir)
    spark.sparkContext.setJobDescription("knn full")
    t("q_knn full", knn_df)

    # candidate join without windows
    from geospark.ops.knn import knn_join

    q = pts.where(F.col("c_custkey") < 20).select(F.col("c_custkey").alias("qid"), "x", "y")
    bb = pts.select(F.col("c_custkey").alias("bid"), "x", "y")
    cand = knn_join(q, bb, n=None, rng=2000.0, query_id="qid", build_id="bid")
    spark.sparkContext.setJobDescription("knn candidates only (n=None)")
    t("knn candidates only (no windows)", cand)

    print("\n== q_knn plan ==")
    knn_df.explain("formatted")

    # range_query
    rq = qs["range_query"](spark, sf_dir)
    spark.sparkContext.setJobDescription("range_query full")
    t("range_query full", rq)
    # q-side alone: nation boxes envelope (pandas_udf st_envelope?)
    nb = nation_boxes(spark, sf_dir)
    from geospark.functions import st_envelope

    qenv = nb.select(F.col("poly_id"), st_envelope(F.col("geom")).alias("e"))
    t("nation_boxes st_envelope (25 rows)", qenv)
    print("\n== range_query plan ==")
    rq.explain("formatted")

    # ann_lsh
    lsh = qs["ann_lsh"](spark, sf_dir)
    spark.sparkContext.setJobDescription("ann_lsh full")
    t("ann_lsh full", lsh)
    print("\n== ann_lsh plan ==")
    lsh.explain("formatted")

    spark.stop()


if __name__ == "__main__":
    main()
