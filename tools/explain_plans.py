"""Dump .explain('formatted') for the headline queries → PLANS.md.

Plan-quality checklist (per operator):
  - scans show PushedFilters / narrow ReadSchema (pruning works)
  - WholeStageCodegen spans cover the JVM-side expressions
  - joins pick BroadcastHashJoin for the small dim side
  - no unexpected Exchange (shuffle) in the single-pass pipelines
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir="/root/testdata/sf0.01"):
    from geospark.session import build_session
    from geospark.queries import registry

    spark = build_session("plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# Physical plans (.explain formatted)\n"]

    # flagship
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile

    pages = generate_pages(spark, 1000)
    districts = generate_districts(spark, 50)
    flag = geocode_pip_tile(pages, districts, tile_level=14)
    buf = io.StringIO()
    with redirect_stdout(buf):
        flag.explain("formatted")
    out.append("## flagship geocode_pip_tile\n```\n" + buf.getvalue() + "```\n")

    for name in [
        "pip_join", "knn", "knn_geom", "tile_assign", "grid", "dedup_exact",
        "events_hourly", "minhash_pairs", "simhash_dups", "ann_lsh",
        "cosine_dups", "overlay_areas", "fingerprint_winnow",
        "fingerprint_dups", "token_stats", "corpus_clean",
    ]:
        df = registry()[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n```\n" + buf.getvalue() + "```\n")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
