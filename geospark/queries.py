"""Driver-facing query surface: each entry pairs a Spark DataFrame
builder with an equivalent DuckDB oracle SQL (run side-by-side by the
driver at sf=0.01; see __spark_entry__.py).

Design rule for oracle parity: all derived values are integer
arithmetic (exact in doubles) or explicitly rounded; aggregate /
computed columns are aliased identically on both sides; ranks are
cast to bigint to match DuckDB's ROW_NUMBER type.
"""

from __future__ import annotations

from typing import Callable, Dict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .cells.cellid import CellGrid

TILE_GRID = CellGrid(0.0, 0.0, 1024000.0)  # level 10 → exact 1000 m tiles
TILE_LEVEL = 10


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# derived spatial inputs (deterministic integer arithmetic over the
# shared tables, reproducible in ANSI SQL)
# ---------------------------------------------------------------------------

def customer_points(spark, sf_dir) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey"),
        ((F.col("c_custkey") * 9973) % 20000).cast("double").alias("x"),
        ((F.col("c_custkey") * 7919) % 20000).cast("double").alias("y"),
    )


CUSTOMER_POINTS_SQL = (
    "SELECT c_custkey, ((c_custkey*9973)%20000)::DOUBLE AS x, "
    "((c_custkey*7919)%20000)::DOUBLE AS y FROM customer"
)


def nation_boxes(spark, sf_dir) -> DataFrame:
    from .functions import st_geomfromtext

    n = _t(spark, sf_dir, "nation")
    xmin = (F.col("n_nationkey") * 773) % 18000
    ymin = (F.col("n_nationkey") * 1571) % 18000
    wkt = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        xmin, ymin, xmin + 2500, ymin, xmin + 2500, ymin + 2500, xmin, ymin + 2500, xmin, ymin,
    )
    return n.select(
        F.col("n_nationkey").alias("poly_id"),
        st_geomfromtext(wkt).alias("geom"),
        xmin.cast("double").alias("bxmin"),
        ymin.cast("double").alias("bymin"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_pip_join(spark, sf_dir) -> DataFrame:
    """Point-in-polygon join through pip_join's broadcast plan (cached
    CSR cell index → one banded point-in-polygon kernel per batch)."""
    from .ops.joins import pip_join

    pts = customer_points(spark, sf_dir)
    polys = nation_boxes(spark, sf_dir)
    out = pip_join(
        pts, polys, point_id="c_custkey", x_col="x", y_col="y",
        poly_id="poly_id", poly_geom="geom", broadcast=True,
    )
    return out.select(
        F.col("point_id").alias("c_custkey"), F.col("poly_id").alias("n_nationkey")
    )


Q_PIP_JOIN_SQL = f"""
WITH pts AS ({CUSTOMER_POINTS_SQL}),
boxes AS (
  SELECT n_nationkey,
         ((n_nationkey*773)%18000)::DOUBLE AS bxmin,
         ((n_nationkey*1571)%18000)::DOUBLE AS bymin
  FROM nation)
SELECT p.c_custkey, b.n_nationkey
FROM pts p, boxes b
WHERE p.x >= b.bxmin AND p.x <= b.bxmin + 2500
  AND p.y >= b.bymin AND p.y <= b.bymin + 2500
"""


def q_tile_assign(spark, sf_dir) -> DataFrame:
    """Tile assignment through the Z-order cell encoder (exact 1000 m
    tiles over a power-of-two span so ix == floor(x/1000)).  Encode
    AND unpack are Catalyst expressions — the whole query is one
    whole-stage-codegen projection, zero python workers."""
    from .cells.cellexpr import cell_ix_expr, cell_iy_expr
    from .ops.tiling import assign_tiles

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919) % 100000).cast("double").alias("x"),
        ((F.col("doc_id") * 104729) % 100000).cast("double").alias("y"),
    )
    t = assign_tiles(d, level=TILE_LEVEL, grid=TILE_GRID)
    return t.select(
        "doc_id",
        cell_ix_expr("cell_id").alias("tile_ix"),
        cell_iy_expr("cell_id").alias("tile_iy"),
        (cell_ix_expr("cell_id") * 1024 + cell_iy_expr("cell_id")).alias(
            "tile_id"
        ),
    )


Q_TILE_ASSIGN_SQL = """
SELECT doc_id,
       CAST(floor(((doc_id*7919)%100000)/1000) AS BIGINT) AS tile_ix,
       CAST(floor(((doc_id*104729)%100000)/1000) AS BIGINT) AS tile_iy,
       CAST(floor(((doc_id*7919)%100000)/1000) AS BIGINT)*1024
         + CAST(floor(((doc_id*104729)%100000)/1000) AS BIGINT) AS tile_id
FROM documents
"""


def q_knn(spark, sf_dir) -> DataFrame:
    """Cell-grid kNN with ring coverage + exact re-rank."""
    from .ops.knn import knn_join

    pts = customer_points(spark, sf_dir)
    q = pts.where(F.col("c_custkey") < 20).select(
        F.col("c_custkey").alias("qid"), "x", "y"
    )
    b = pts.select(F.col("c_custkey").alias("bid"), "x", "y")
    out = knn_join(q, b, n=3, rng=2000.0, query_id="qid", build_id="bid")
    return out.select("qid", "bid", F.col("rank").cast("long").alias("rank"))


Q_KNN_SQL = f"""
WITH pts AS ({CUSTOMER_POINTS_SQL}),
q AS (SELECT c_custkey AS qid, x, y FROM pts WHERE c_custkey < 20),
d AS (
  SELECT q.qid, p.c_custkey AS bid,
         sqrt((q.x-p.x)*(q.x-p.x) + (q.y-p.y)*(q.y-p.y)) AS dist
  FROM q, pts p)
SELECT qid, bid,
       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS rank
FROM d WHERE dist <= 2000
QUALIFY rank <= 3
"""


def q_knn_geom(spark, sf_dir) -> DataFrame:
    """Geometry-valued kNN queries (reference `neighbours` accepts any
    HasGeometry, index.clj:78-104): nation boxes query the customer
    point set.  Box↔point distance is sqrt of an integer, so both
    engines produce the identical IEEE double."""
    from .ops.knn import knn_join

    polys = nation_boxes(spark, sf_dir).where(F.col("poly_id") < 5)
    pts = customer_points(spark, sf_dir).select(
        F.col("c_custkey").alias("bid"), "x", "y"
    )
    out = knn_join(
        polys.select(F.col("poly_id").alias("qid"), "geom"),
        pts,
        n=3,
        rng=3000.0,
        query_id="qid",
        query_geom="geom",
        build_id="bid",
    )
    return out.select(
        "qid", "bid", F.round(F.col("dist"), 4).alias("dist"),
        F.col("rank").cast("long").alias("rank"),
    )


Q_KNN_GEOM_SQL = f"""
WITH pts AS ({CUSTOMER_POINTS_SQL}),
boxes AS (
  SELECT n_nationkey AS qid,
         ((n_nationkey*773)%18000)::DOUBLE  AS x0,
         ((n_nationkey*1571)%18000)::DOUBLE AS y0
  FROM nation WHERE n_nationkey < 5),
d AS (
  SELECT b.qid, p.c_custkey AS bid,
         sqrt(GREATEST(0, b.x0 - p.x, p.x - (b.x0+2500)) * GREATEST(0, b.x0 - p.x, p.x - (b.x0+2500))
            + GREATEST(0, b.y0 - p.y, p.y - (b.y0+2500)) * GREATEST(0, b.y0 - p.y, p.y - (b.y0+2500))) AS dist
  FROM boxes b, pts p)
SELECT qid, bid, ROUND(dist, 4) AS dist,
       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS rank
FROM d WHERE dist <= 3000
QUALIFY rank <= 3
"""


def q_range_query(spark, sf_dir) -> DataFrame:
    """Index range/envelope query (reference index.clj:106-122 `query`:
    all entries whose envelope is within `radius` of the query's
    envelope) — knn_join with n=None: the same cell cover + equi-join,
    no top-n cut, no python re-rank stage.  Box↔point rect distance is
    sqrt of an integer → identical IEEE doubles in both engines."""
    from .ops.knn import knn_join

    polys = nation_boxes(spark, sf_dir)
    pts = customer_points(spark, sf_dir).select(
        F.col("c_custkey").alias("bid"), "x", "y"
    )
    out = knn_join(
        polys.select(F.col("poly_id").alias("qid"), "geom"),
        pts,
        n=None,
        rng=500.0,
        query_id="qid",
        query_geom="geom",
        build_id="bid",
    )
    return out.select("qid", "bid", F.round(F.col("rect_dist"), 4).alias("rect_dist"))


Q_RANGE_QUERY_SQL = f"""
WITH pts AS ({CUSTOMER_POINTS_SQL}),
boxes AS (
  SELECT n_nationkey AS qid,
         ((n_nationkey*773)%18000)::DOUBLE  AS x0,
         ((n_nationkey*1571)%18000)::DOUBLE AS y0
  FROM nation),
d AS (
  SELECT b.qid, p.c_custkey AS bid,
         sqrt(GREATEST(0, b.x0 - p.x, p.x - (b.x0+2500)) * GREATEST(0, b.x0 - p.x, p.x - (b.x0+2500))
            + GREATEST(0, b.y0 - p.y, p.y - (b.y0+2500)) * GREATEST(0, b.y0 - p.y, p.y - (b.y0+2500))) AS dist
  FROM boxes b, pts p)
SELECT qid, bid, ROUND(dist, 4) AS rect_dist
FROM d WHERE dist <= 500
"""


def q_cells_ops(spark, sf_dir) -> DataFrame:
    """The cell-id fabric (§2.H create/add/entries machinery) through
    the real kernels: pack→unpack roundtrip identity, parent index
    arithmetic (ix//2, iy//2 one level up), children count (4),
    boundary-clipped k_ring size, and compact() of each cell's full
    sibling set (4 siblings → 1 parent).  Oracles are closed-form
    integer arithmetic; the morton bit-interleave itself is exercised
    by the roundtrip identities."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    src = n.select(
        k.alias("n_nationkey"),
        (k * 37 % 1000).cast("long").alias("ix"),
        (k * 91 % 1000).cast("long").alias("iy"),
        (6 + k % 8).cast("long").alias("lvl"),
        (k % 3).cast("long").alias("kr"),
    )
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("n_nationkey", src.schema["n_nationkey"].dataType),
            StructField("rt_ix", LongType()),
            StructField("rt_iy", LongType()),
            StructField("rt_lvl", LongType()),
            StructField("parent_ix", LongType()),
            StructField("parent_iy", LongType()),
            StructField("n_children", LongType()),
            StructField("kring_n", LongType()),
            StructField("compact_n", LongType()),
            StructField("compact_is_parent", LongType()),
        ]
    )

    def run(batches):
        import pandas as pd

        from .cells import cellid as cc

        for pdf in batches:
            rows = []
            for key, ix, iy, lvl, kr in zip(
                pdf["n_nationkey"], pdf["ix"], pdf["iy"], pdf["lvl"], pdf["kr"]
            ):
                ix, iy, lvl, kr = int(ix), int(iy), int(lvl), int(kr)
                nside = 1 << lvl
                ix, iy = ix % nside, iy % nside
                cid = int(cc.pack(np.array([ix]), np.array([iy]), lvl)[0])
                l2, ix2, iy2 = cc.unpack_one(cid)
                p = int(cc.parent(np.array([cid]))[0])
                _, pix, piy = cc.unpack_one(p)
                kids = cc.children(p)
                ring = cc.k_ring(cid, kr)
                comp = cc.compact(np.asarray(kids, dtype=np.int64))
                rows.append(
                    (
                        key, ix2, iy2, l2, pix, piy, len(kids), len(ring),
                        len(comp), int(int(comp[0]) == p),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "n_nationkey", "rt_ix", "rt_iy", "rt_lvl", "parent_ix",
                    "parent_iy", "n_children", "kring_n", "compact_n",
                    "compact_is_parent",
                ],
            )

    return src.mapInPandas(run, schema=out_schema)


Q_CELLS_OPS_SQL = """
WITH p AS (
  SELECT n_nationkey,
         (n_nationkey*37) % 1000 AS ix0,
         (n_nationkey*91) % 1000 AS iy0,
         6 + n_nationkey % 8 AS lvl,
         n_nationkey % 3 AS kr
  FROM nation),
c AS (
  SELECT n_nationkey, lvl, kr,
         ix0 % (1 << lvl::INTEGER) AS ix,
         iy0 % (1 << lvl::INTEGER) AS iy
  FROM p)
SELECT n_nationkey,
       ix AS rt_ix, iy AS rt_iy, lvl AS rt_lvl,
       ix // 2 AS parent_ix, iy // 2 AS parent_iy,
       4::BIGINT AS n_children,
       -- clipped Chebyshev window at the cell's own level
       ((LEAST(ix + kr, (1 << lvl::INTEGER) - 1) - GREATEST(ix - kr, 0) + 1)
        * (LEAST(iy + kr, (1 << lvl::INTEGER) - 1) - GREATEST(iy - kr, 0) + 1))::BIGINT AS kring_n,
       1::BIGINT AS compact_n,
       1::BIGINT AS compact_is_parent
FROM c
"""


def q_raster_roundtrip(spark, sf_dir) -> DataFrame:
    """raster↔vector materialization (SURVEY §2 tiling; north-star
    raster↔vector leg): points → per-cell count raster (rasterize,
    level 12) → threshold → cell polygons (vectorize).  The quadtree
    grid is power-of-two ([-2^20, 3·2^20), span 2^22), so cell index
    and bounds are EXACT integer arithmetic: ix = (x + 2^20) // 1024
    at level 12 — closed-form in SQL."""
    from .functions import st_envelope
    from .ops.tiling import rasterize, vectorize

    pts = customer_points(spark, sf_dir)
    r = rasterize(pts, None, level=12, agg="count")
    v = vectorize(r, threshold=2.0, level=12)
    return v.select(
        "ix",
        "iy",
        F.col("value").cast("long").alias("value"),
        st_envelope(F.col("geom")).alias("__e"),
    ).select(
        "ix", "iy", "value",
        F.col("__e.xmin").alias("xmin"), F.col("__e.ymin").alias("ymin"),
        F.col("__e.xmax").alias("xmax"), F.col("__e.ymax").alias("ymax"),
    )


Q_RASTER_SQL = f"""
WITH pts AS ({CUSTOMER_POINTS_SQL}),
cells AS (
  SELECT ((x::BIGINT + 1048576) // 1024) AS ix,
         ((y::BIGINT + 1048576) // 1024) AS iy,
         COUNT(*) AS value
  FROM pts GROUP BY 1, 2)
SELECT ix, iy, value,
       (-1048576 + ix * 1024)::DOUBLE AS xmin,
       (-1048576 + iy * 1024)::DOUBLE AS ymin,
       (-1048576 + (ix + 1) * 1024)::DOUBLE AS xmax,
       (-1048576 + (iy + 1) * 1024)::DOUBLE AS ymax
FROM cells WHERE value >= 2
"""


def q_type_predicates(spark, sf_dir) -> DataFrame:
    """Typed predicates single?/multi?/empty? + geometry-type over a
    menagerie of all 7 WKT types plus empties (reference
    core.clj:120-166) — built through the real WKT→WKB codec, read
    back via the tag-only kernels (st_geometrytype / st_issingle /
    st_ismulti / st_isempty, no full decode)."""
    from .functions import st_geometrytype, st_isempty, st_ismulti, st_issingle

    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    wkts = [
        ("point", "POINT (%d %d)", False),
        ("line", "LINESTRING (%d %d, %d 9)", False),
        ("poly", "POLYGON ((%d %d, 9 0, 9 9, %d %d))", True),  # ring closes on (x, y)
        ("mpoint", "MULTIPOINT ((%d %d), (3 4))", False),
        ("mline", "MULTILINESTRING ((%d %d, 5 5), (6 6, 7 7))", False),
        ("mpoly", "MULTIPOLYGON (((%d %d, 9 0, 9 9, %d %d)))", True),
        ("coll", "GEOMETRYCOLLECTION (POINT (%d %d))", False),
        ("epoint", "POINT EMPTY", None),
        ("eline", "LINESTRING EMPTY", None),
        ("epoly", "POLYGON EMPTY", None),
    ]
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    src = n.select(k.alias("n_nationkey"), (k % 8).alias("x"), ((k * 3) % 8).alias("y"))
    gen_schema = StructType(
        [
            StructField("n_nationkey", src.schema["n_nationkey"].dataType),
            StructField("kind", StringType()),
            StructField("wkb", BinaryType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        from .geom import core as gc

        for pdf in batches:
            rows = []
            for key, x, y in zip(pdf["n_nationkey"], pdf["x"], pdf["y"]):
                x, y = int(x), int(y)
                for kind, tpl, closes in wkts:
                    if closes is None:
                        wkt = tpl
                    elif closes:
                        wkt = tpl % (x, y, x, y)
                    else:
                        wkt = tpl % (x, y) if tpl.count("%d") == 2 else tpl % (x, y, x)
                    rows.append((key, kind, gc.to_wkb(gc.from_wkt(wkt))))
            yield pd.DataFrame(rows, columns=["n_nationkey", "kind", "wkb"])

    g = src.mapInPandas(gen, schema=gen_schema)
    return g.select(
        "n_nationkey",
        "kind",
        st_geometrytype(F.col("wkb")).alias("gtype"),
        st_issingle(F.col("wkb")).alias("is_single"),
        st_ismulti(F.col("wkb")).alias("is_multi"),
        st_isempty(F.col("wkb")).alias("is_empty"),
    )


Q_TYPE_PREDICATES_SQL = """
WITH kinds(kind, gtype, is_single, is_multi, is_empty) AS (VALUES
  ('point',  'POINT',              TRUE,  FALSE, FALSE),
  ('line',   'LINESTRING',         TRUE,  FALSE, FALSE),
  ('poly',   'POLYGON',            TRUE,  FALSE, FALSE),
  ('mpoint', 'MULTIPOINT',         FALSE, TRUE,  FALSE),
  ('mline',  'MULTILINESTRING',    FALSE, TRUE,  FALSE),
  ('mpoly',  'MULTIPOLYGON',       FALSE, TRUE,  FALSE),
  ('coll',   'GEOMETRYCOLLECTION', FALSE, TRUE,  FALSE),
  ('epoint', 'POINT',              TRUE,  FALSE, TRUE),
  ('eline',  'LINESTRING',         TRUE,  FALSE, TRUE),
  ('epoly',  'POLYGON',            TRUE,  FALSE, TRUE))
SELECT n.n_nationkey, k.kind, k.gtype, k.is_single, k.is_multi, k.is_empty
FROM nation n, kinds k
"""


def q_grid(spark, sf_dir) -> DataFrame:
    """make-grid as a pure Catalyst plan (no UDF, no shuffle)."""
    from .ops.tiling import make_grid_df

    g = make_grid_df(spark, 0.0, 0.0, 10000.0, 10000.0, 1000.0)
    return g.select(
        F.col("ix"), F.col("iy"), "cell_xmin", "cell_ymin", "cell_xmax", "cell_ymax"
    )


Q_GRID_SQL = """
SELECT ix, iy,
       -1000.0 + ix*1000.0 AS cell_xmin,
       -1000.0 + iy*1000.0 AS cell_ymin,
       -1000.0 + (ix+1)*1000.0 AS cell_xmax,
       -1000.0 + (iy+1)*1000.0 AS cell_ymax
FROM (SELECT unnest(generate_series(0, 11)) AS ix),
     (SELECT unnest(generate_series(0, 11)) AS iy)
"""


def q_dedup_exact(spark, sf_dir) -> DataFrame:
    from .text.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents")).select(
        "text_hash", F.col("n_dups").cast("long").alias("n_dups"), "canonical_id"
    )


Q_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
FROM documents GROUP BY md5(text)
"""


def q_jaccard_pairs(spark, sf_dir) -> DataFrame:
    from .text.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.6)


Q_JACCARD_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS common
  FROM toks l JOIN toks r ON l.tok = r.tok AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id)
SELECT c.id_a, c.id_b,
       round(c.common / (sa.sz + sb.sz - c.common), 6) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE round(c.common / (sa.sz + sb.sz - c.common), 6) >= 0.6
"""


def q_minhash_pairs(spark, sf_dir) -> DataFrame:
    from .text.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def _simhash_sql() -> str:
    from .text.dedup import SIMHASH_SQL

    return SIMHASH_SQL


def _fingerprint_winnow_sql() -> str:
    from .text.fingerprint import winnow_sql

    return winnow_sql()


def _fingerprint_dups_sql() -> str:
    from .text.fingerprint import overlap_pairs_sql

    return overlap_pairs_sql(min_common=20)


def _fingerprint_dups_capped_sql() -> str:
    from .text.fingerprint import overlap_pairs_sql

    return overlap_pairs_sql(min_common=5, max_bucket=50)


def _minhash_sql() -> str:
    from .text.dedup import MINHASH_A, MINHASH_B, MERSENNE

    mins = ",\n  ".join(
        f"MIN((h*{MINHASH_A[i]}+{MINHASH_B[i]})%{MERSENNE}) AS h{i}" for i in range(8)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, h{2*b}::VARCHAR || '_' || h{2*b+1}::VARCHAR AS bucket FROM sig"
        for b in range(4)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''),
th AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 8))::BIGINT AS h FROM toks),
sig AS (SELECT doc_id, {mins} FROM th GROUP BY doc_id),
bands AS ({bands})
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM bands l JOIN bands r
  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
"""


def q_simhash(spark, sf_dir) -> DataFrame:
    """64-bit SimHash (vectorized pandas-UDF kernel; exact DuckDB
    oracle via md5-derived bit arithmetic)."""
    from .text.dedup import simhash64

    return simhash64(_t(spark, sf_dir, "documents"))


def q_simhash_dups(spark, sf_dir) -> DataFrame:
    """SimHash Hamming near-dup pairs through the banded bucket join
    (lossless by pigeonhole at n_bands = max_hamming+1); oracle is the
    quadratic reference join over the same fingerprints."""
    from .text.dedup import simhash_near_dups

    return simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=3)


def _simhash_dups_sql() -> str:
    from .text.dedup import simhash_near_dups_sql

    return simhash_near_dups_sql(max_hamming=3)


def q_ann_cosine(spark, sf_dir) -> DataFrame:
    from .ml.ann import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    c = e.select(F.col("vec_id").alias("cid"), "embedding")
    out = brute_force_topk(q, c, k=5, qid="qid", cid="cid")
    return out.select("qid", "cid", "sim", F.col("rank").cast("long").alias("rank"))


Q_ANN_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         round(
           list_dot_product(q.emb, c.emb)
           / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))),
           6) AS sim
  FROM q, e c)
SELECT qid, cid, sim,
       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
FROM pairs QUALIFY rank <= 5
"""


def q_ann_lsh(spark, sf_dir) -> DataFrame:
    """LSH-bucketed ANN — now exact-oracle-checked: the hyperplanes are
    md5-derived integers and the sign-hash runs on integer-quantized
    embeddings, so every intermediate (< 2^53) is bit-reproducible in
    DuckDB; the oracle replays signature→bands→multiprobe→re-rank."""
    from .ml.ann import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    c = e.select(F.col("vec_id").alias("cid"), "embedding")
    out = lsh_topk(q, c, k=5, qid="qid", cid="cid")
    return out.select("qid", "cid", "sim", F.col("rank").cast("long").alias("rank"))


def _ann_lsh_sql() -> str:
    from .ml.ann import portable_planes_sql

    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
planes AS ({portable_planes_sql(64, 64)}),
qe AS (SELECT vec_id, emb,
              list_transform(emb, x -> floor(x * 1048576 + 0.5)::BIGINT) AS qv
       FROM e),
dots AS (SELECT vec_id, i, list_dot_product(qv, p) AS dot FROM qe, planes),
bands AS (
  SELECT vec_id, (i // 16)::BIGINT AS b,
         SUM(CASE WHEN dot > 0 THEN (1::BIGINT << (i % 16)::INTEGER) ELSE 0 END)::BIGINT AS v
  FROM dots GROUP BY vec_id, b),
qprobe AS (
  SELECT vec_id AS qid, b,
         CASE WHEN j = 16 THEN v ELSE xor(v, 1::BIGINT << j::INTEGER) END AS key
  FROM bands, range(0, 17) t(j) WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT q.qid, c.vec_id AS cid
  FROM qprobe q JOIN bands c ON q.b = c.b AND q.key = c.v),
scored AS (
  SELECT cand.qid, cand.cid,
         round(list_dot_product(qq.emb, cc.emb)
               / (sqrt(list_dot_product(qq.emb, qq.emb)) * sqrt(list_dot_product(cc.emb, cc.emb))),
               6) AS sim
  FROM cand JOIN e qq ON qq.vec_id = cand.qid JOIN e cc ON cc.vec_id = cand.cid)
SELECT qid, cid, sim,
       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
FROM scored QUALIFY rank <= 5
"""


def q_ann_ivf(spark, sf_dir) -> DataFrame:
    """IVF coarse-quantizer ANN, deterministic flavor — md5-ordered
    center sample (no Lloyd), round-6dp cosine argmax assignment —
    exactly replayable in the SQL oracle.  The trained (Lloyd) path
    `ivf_topk` keeps the same plan shape and is recall-tested in
    pytest."""
    from .ml.ann import ivf_topk_deterministic

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    c = e.select(F.col("vec_id").alias("cid"), "embedding")
    out = ivf_topk_deterministic(q, c, k=5, n_centroids=16, nprobe=4, qid="qid", cid="cid")
    return out.select("qid", "cid", "sim", F.col("rank").cast("long").alias("rank"))


Q_ANN_IVF_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
ctr AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS ctr, emb AS cemb
  FROM e ORDER BY md5(vec_id::VARCHAR) LIMIT 16),
cscore AS (
  SELECT e.vec_id AS cid, ctr.ctr,
         round(list_dot_product(e.emb, ctr.cemb)
               / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(ctr.cemb, ctr.cemb))),
               6) AS csim
  FROM e, ctr),
assigned AS (
  SELECT cid, ctr FROM (
    SELECT cid, ctr, row_number() OVER (PARTITION BY cid ORDER BY csim DESC, ctr) AS r
    FROM cscore) WHERE r = 1),
qscore AS (SELECT cid AS qid, ctr, csim FROM cscore WHERE cid < 10),
probes AS (
  SELECT qid, ctr FROM (
    SELECT qid, ctr, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, ctr) AS r
    FROM qscore) WHERE r <= 4),
scored AS (
  SELECT p.qid, a.cid,
         round(list_dot_product(qq.emb, cc.emb)
               / (sqrt(list_dot_product(qq.emb, qq.emb)) * sqrt(list_dot_product(cc.emb, cc.emb))),
               6) AS sim
  FROM probes p JOIN assigned a ON a.ctr = p.ctr
  JOIN e qq ON qq.vec_id = p.qid JOIN e cc ON cc.vec_id = a.cid)
SELECT qid, cid, sim,
       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
FROM scored QUALIFY rank <= 5
"""


def q_cosine_dups(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-dup pairs on a corpus with 100 planted
    near-duplicates (aug vector = e_v + 0.1·e_{v+1}, cosine ≈ 0.995 —
    the natural max pairwise cosine in the table is ~0.51, so the
    planted pairs are exactly the ≥0.98 set).  Exact self-join form;
    the LSH-candidates mode is the 100 TB path (tested in pytest)."""
    from .ml.ann import cosine_near_dups

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("embedding")
    )
    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    aug = (
        a.where(F.col("va") < 100)
        .join(b, F.col("vb") == F.col("va") + 1)
        .select(
            (F.col("va") + 100000).alias("vec_id"),
            F.zip_with("ea", "eb", lambda x, y: x + y * 0.1).alias("embedding"),
        )
    )
    return cosine_near_dups(e.unionByName(aug), threshold=0.98)


Q_COSINE_DUPS_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
aug AS (
  SELECT a.vec_id + 100000 AS vec_id,
         list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] + b.emb[i] * 0.1) AS emb
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id < 100),
c AS (SELECT * FROM e UNION ALL SELECT * FROM aug),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))),
               6) AS sim
  FROM c a JOIN c b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, sim FROM p WHERE sim >= 0.98
"""


def _quality_exprs(text):
    """Row-local quality expressions shared by q_text_quality and
    q_corpus_clean (one definition — the oracles replay it)."""
    n_chars = F.length(text)
    n_spaces = F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))
    n_tokens = n_spaces + 1
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    stop_the = (
        (F.length(padded) - F.length(F.replace(padded, F.lit(" the "), F.lit(" ")))) / 4
    ).cast("long")
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "avg_word_len": F.round((n_chars - n_spaces) / n_tokens, 4),
        "stop_the": stop_the,
    }


def q_text_quality(spark, sf_dir) -> DataFrame:
    from .partitioning import spread_small_scan

    # no filter in this query, so (unlike corpus_clean) nothing gets
    # rewritten below the repartition: the replace/length battery
    # evaluates once, post-exchange, core-count-wide instead of on the
    # single row group of the documents parquet
    d = spread_small_scan(_t(spark, sf_dir, "documents"), "doc_id")
    q = _quality_exprs(F.col("text"))
    return d.select("doc_id", *[expr.alias(name) for name, expr in q.items()])


Q_TEXT_QUALITY_SQL = """
SELECT doc_id,
       length(text) AS n_chars,
       (length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens,
       round((length(text) - (length(text) - length(replace(text, ' ', ''))))
             / (length(text) - length(replace(text, ' ', '')) + 1), 4) AS avg_word_len,
       CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4 AS BIGINT) AS stop_the
FROM documents
"""


def _langid_pred(text):
    """Marker-word language prediction expression (deterministic
    tie-break); shared by q_lang_id and q_corpus_clean."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))

    def cnt(marker):
        m = f" {marker} "
        return (
            (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit(" "))))
            / (len(m) - 1)
        ).cast("long")

    s_en, s_fr, s_de, s_es = cnt("the"), cnt("le"), cnt("der"), cnt("el")
    return (
        F.when((s_en >= s_fr) & (s_en >= s_de) & (s_en >= s_es) & (s_en > 0), "en")
        .when((s_fr >= s_de) & (s_fr >= s_es) & (s_fr > 0), "fr")
        .when((s_de >= s_es) & (s_de > 0), "de")
        .when(s_es > 0, "es")
        .otherwise("unk")
    )


def q_lang_id(spark, sf_dir) -> DataFrame:
    """Marker-word language heuristic (deterministic tie-break)."""
    from .partitioning import spread_small_scan

    d = spread_small_scan(_t(spark, sf_dir, "documents"), "doc_id")
    pred = _langid_pred(F.col("text"))
    return d.select("doc_id", pred.alias("pred_lang"), (pred == F.col("lang")).alias("hit"))


def _langid_sql() -> str:
    def cnt(marker):
        m = f" {marker} "
        return (
            f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', '{m}', ' ')))"
            f" / {len(m) - 1} AS BIGINT)"
        )

    en, fr, de, es = cnt("the"), cnt("le"), cnt("der"), cnt("el")
    return f"""
WITH s AS (SELECT doc_id, lang, {en} AS s_en, {fr} AS s_fr, {de} AS s_de, {es} AS s_es FROM documents)
SELECT doc_id,
  CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
       WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
       WHEN s_de >= s_es AND s_de > 0 THEN 'de'
       WHEN s_es > 0 THEN 'es'
       ELSE 'unk' END AS pred_lang,
  (CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
       WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
       WHEN s_de >= s_es AND s_de > 0 THEN 'de'
       WHEN s_es > 0 THEN 'es'
       ELSE 'unk' END = lang) AS hit
FROM s
"""


def q_fingerprint_winnow(spark, sf_dir) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing, Schleimer et
    al. SIGMOD'03 / MOSS): every w-window of k-gram hashes selects its
    rightmost minimum; the distinct (pos, hash) set is the document
    fingerprint.  Pure Catalyst (explode → substring → md5 → window
    min); one doc_id-partition shuffle, per-doc work bounded by doc
    length."""
    from .text.fingerprint import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"))


def q_fingerprint_dups(spark, sf_dir) -> DataFrame:
    """Long-match near-dup candidates: pairs sharing ≥20 winnowing
    fingerprints (guaranteed to include every pair with a sufficiently
    long literal overlap).  groupBy-fingerprint + skew-spread pair
    explosion — no self-join; oracle is the quadratic reference join
    over the identical fingerprint set.

    Deliberately uncapped (max_bucket=None) so the result is EXACT and
    oracle-replayable — the same policy as minhash_pairs/jaccard_pairs
    driver rows.  At production scale SET max_bucket: one boilerplate
    fingerprint shared by B documents contributes O(B²) pairs (the
    skew-spread explosion bounds per-task work, not total volume; see
    the 150M-pair analysis in BENCH/BASELINE.md).  The guarded
    production mode has its own exact driver row
    (`fingerprint_dups_capped`) — the cap is a deterministic filter,
    so it replays in SQL too."""
    from .text.fingerprint import fingerprint_overlap_pairs

    return fingerprint_overlap_pairs(_t(spark, sf_dir, "documents"), min_common=20)


def q_fingerprint_dups_capped(spark, sf_dir) -> DataFrame:
    """The PRODUCTION fingerprint near-dup mode: max_bucket=50 drops
    boilerplate fingerprint buckets before pairing (8× faster than the
    exact form at sf0.1; see BENCH/BASELINE.md).  Still oracle-exact —
    the cap is a deterministic bucket-size filter the SQL replays."""
    from .text.fingerprint import fingerprint_overlap_pairs

    return fingerprint_overlap_pairs(
        _t(spark, sf_dir, "documents"), min_common=5, max_bucket=50
    )


# BPE-ish regex tokenizer: letter runs, ≤3-digit number chunks (the
# GPT-style digit-chunking convention), single punctuation marks.
# Verified byte-identical tokenization between Java regex (Spark) and
# RE2 (DuckDB) for this pattern class.
BPE_PAT = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]"


def q_token_stats(spark, sf_dir) -> DataFrame:
    """Token counting two ways — whitespace tokens and a BPE-ish regex
    tokenizer — plus per-class run counts.  All JVM-side regexp_count;
    no Python.  The regexp battery is the expensive stage, so the
    one-row-group documents scan is hash-spread first (a single core
    would otherwise run every regexp)."""
    from .partitioning import spread_small_scan

    d = spread_small_scan(_t(spark, sf_dir, "documents"), "doc_id")
    t = F.col("text")
    alpha = F.regexp_count(t, F.lit("[A-Za-z]+")).cast("long")
    digit = F.regexp_count(t, F.lit("[0-9]{1,3}")).cast("long")
    # count of chars outside [A-Za-z0-9 ]: the negated-class
    # regexp_count('[^A-Za-z0-9 ]') is ~10x slower in the JVM matcher
    # than deleting the class's complement and measuring the remainder
    # (measured 2.4s vs 0.4s at sf1.0); each match of the negated
    # class is exactly one char, so the two counts are identical.
    other = F.length(F.regexp_replace(t, F.lit("[A-Za-z0-9 ]"), F.lit(""))).cast("long")
    # BPE_PAT's three alternatives are disjoint char classes, so its
    # match count is exactly the sum of the three per-class counts —
    # no second pass over the text for the combined tokenizer.
    return d.select(
        "doc_id",
        (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1)
        .cast("long")
        .alias("n_ws_tokens"),
        (alpha + digit + other).alias("n_bpe_tokens"),
        alpha.alias("n_alpha_runs"),
        digit.alias("n_digit_chunks"),
        other.alias("n_other"),
    )


Q_TOKEN_STATS_SQL = f"""
SELECT doc_id,
       (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_ws_tokens,
       length(regexp_extract_all(text, '{BPE_PAT}'))::BIGINT AS n_bpe_tokens,
       length(regexp_extract_all(text, '[A-Za-z]+'))::BIGINT AS n_alpha_runs,
       length(regexp_extract_all(text, '[0-9]{{1,3}}'))::BIGINT AS n_digit_chunks,
       length(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::BIGINT AS n_other
FROM documents
"""


def q_corpus_clean(spark, sf_dir) -> DataFrame:
    """C4-style corpus-cleaning pass composed from the engine's text
    operators: exact dedup (keep canonical doc per text hash), token
    count + average-word-length quality gates, and marker-word
    language-ID agreement.  The quality and language stages are
    row-local expressions folded into the ONE documents scan (no join,
    no shuffle — filters run before the exchange); only dedup shuffles
    (groupBy text-hash + one doc_id join back)."""
    from .text.dedup import exact_dedup

    # Plan engineering (round 6, measured): the quality/lang-id
    # expression battery is the expensive stage, and the documents
    # scan is ONE row group, so evaluating it scan-side serializes it
    # (and a plain spread-repartition does not help: PushDownPredicates
    # rewrites the filter in terms of the scan columns and moves it
    # below any repartition — evaluated twice, still serialized;
    # sf0.1 0.51s -> 0.62s when tried).  Instead: join docs to the
    # dedup table FIRST with a forced sort-merge join (both sides
    # exchange on doc_id, spreading the docs 32-way), and keep the
    # filter as ONE non-splittable predicate that references BOTH join
    # sides (when(n_dups >= 1, <pred>) — n_dups >= 1 is always true),
    # so the optimizer can neither split the conjunction nor push the
    # expression battery below the join.  Exprs now evaluate once,
    # post-shuffle, in parallel: sf1.0 2.2s -> ~1s.
    d = _t(spark, sf_dir, "documents")
    q = _quality_exprs(F.col("text"))
    pred = _langid_pred(F.col("text"))
    canon = exact_dedup(d).select(
        F.col("canonical_id").alias("doc_id"), F.col("n_dups")
    )
    base = d.join(canon.hint("merge"), "doc_id").select(
        "doc_id",
        "lang",
        F.col("n_dups"),
        q["n_tokens"].alias("n_tokens"),
        q["avg_word_len"].alias("avg_word_len"),
        (pred == F.col("lang")).alias("hit"),
    )
    keep = F.when(
        F.col("n_dups") >= 1,
        (F.col("n_tokens") >= 30) & (F.col("avg_word_len") <= 5.0) & F.col("hit"),
    ).otherwise(F.lit(False))
    return base.where(keep).select("doc_id", "lang", "n_tokens", "n_dups")


def _corpus_clean_sql() -> str:
    return f"""
WITH canon AS (
  SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS n_dups
  FROM documents GROUP BY md5(text)),
qual AS (
  SELECT doc_id,
         (length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens,
         round((length(text) - (length(text) - length(replace(text, ' ', ''))))
               / (length(text) - length(replace(text, ' ', '')) + 1), 4) AS avg_word_len
  FROM documents),
lid AS ({_langid_sql()})
SELECT d.doc_id, d.lang, qual.n_tokens, canon.n_dups
FROM documents d
JOIN canon USING (doc_id) JOIN qual USING (doc_id) JOIN lid USING (doc_id)
WHERE qual.n_tokens >= 30 AND qual.avg_word_len <= 5.0 AND lid.hit
"""


def q_pipeline_resume(spark, sf_dir) -> DataFrame:
    """Drives the resumable snapshot pipeline (run/pipeline.py —
    reference gpkg.clj's engine-native storage analogue) end-to-end:
    a two-stage run (quality-clean → per-language rollup) committed to
    a fresh snapshot catalog, then RE-RUN under the same run_id.  The
    resumed run must skip both committed stages (each stage table
    still holds exactly one snapshot) and read back identical data.
    Emits the rollup with the per-stage snapshot counts and a lineage
    coverage flag as value-checked columns; the bounded (≤5-row)
    result is materialized so the temp catalog can be removed."""
    import shutil
    import tempfile

    from .run.pipeline import Pipeline, SnapshotCatalog

    root = tempfile.mkdtemp(prefix="geospark_pipeline_q_")
    try:
        catalog = SnapshotCatalog(root)

        def stage_clean(sp, outputs):
            d = _t(sp, sf_dir, "documents")
            q = _quality_exprs(F.col("text"))
            return d.select(
                "doc_id", "lang", q["n_tokens"].alias("n_tokens")
            ).where(F.col("n_tokens") >= 30)

        def stage_rollup(sp, outputs):
            return (
                outputs["clean"]
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tokens").alias("tok_sum"),
                )
            )

        def build():
            return (
                Pipeline(spark, catalog, run_id="q_resume")
                .stage("clean", stage_clean)
                .stage("rollup", stage_rollup)
            )

        build().run(verbose=False)
        resumed = build().run(verbose=False)  # must skip both stages
        snaps_clean = len(catalog.snapshots("q_resume__clean"))
        snaps_rollup = len(catalog.snapshots("q_resume__rollup"))
        lineage_stages = (
            catalog.lineage(spark).select("stage").distinct().count()
        )
        rows = [
            (
                r["lang"],
                int(r["n_docs"]),
                int(r["tok_sum"]),
                snaps_clean,
                snaps_rollup,
                lineage_stages,
            )
            for r in resumed["rollup"].collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "lang string, n_docs long, tok_sum long, snaps_clean long, "
        "snaps_rollup long, lineage_stages long",
    )


Q_PIPELINE_RESUME_SQL = """
SELECT lang,
       count(*)::BIGINT AS n_docs,
       CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS tok_sum,
       1::BIGINT AS snaps_clean,
       1::BIGINT AS snaps_rollup,
       2::BIGINT AS lineage_stages
FROM documents
WHERE (length(text) - length(replace(text, ' ', '')) + 1) >= 30
GROUP BY lang
"""


def q_events_hourly(spark, sf_dir) -> DataFrame:
    """Tumbling-window aggregation; sum in integer cents so the result
    is independent of float summation order.  `hour` is emitted as a
    formatted string on BOTH sides: Spark TimestampType (session-tz)
    vs DuckDB naive TIMESTAMP hash differently in the driver even when
    every value is identical (round-1 fail was representation-only)."""
    e = _t(spark, sf_dir, "events")
    # group by the TRUNCATED TIMESTAMP and format after the aggregate:
    # date_format is ~1-2µs/row of JVM time formatting and was the
    # dominant cost of this query as a group key (evaluated per input
    # row in the partial aggregate); formatting is injective on
    # hour-truncated timestamps in one session tz, so formatting the
    # |groups| output rows instead is exactly output-equivalent
    # (oracle hash-exact; measured 0.79 → 0.61s at 1M events in the
    # same host window, later warm runs at 0.49)
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("__hour_ts"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents_sum"),
        )
        .select(
            F.date_format(F.col("__hour_ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "cents_sum",
        )
    )


Q_EVENTS_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents_sum
FROM events GROUP BY 1, 2
"""


def q_media_features(spark, sf_dir) -> DataFrame:
    """Multimodal decode+feature plumbing through the REAL mapInPandas
    stage (multimodal/media.py image_features) with the deterministic
    fake codec: pixel (r,c) of image id has value
    ((r*31)%256 + (c*17)%256 + S) % 256 with S = Σ sha256('img-id')
    bytes, so the per-channel means are exact integer arithmetic the
    oracle replays (DuckDB sha256 + per-pixel expansion).  Image dims
    derive from the id exactly like generate_media."""
    from .multimodal.media import fake_image_payload, image_features

    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("media_id"))

    from pyspark.sql.types import BinaryType, IntegerType, LongType, StructField, StructType

    gen_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["media_id"]:
                i = int(i)
                w = 32 + (i * 7 + 42) % 96
                h = 32 + (i * 13 + 42) % 64
                rows.append((i, fake_image_payload(i, w, h)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = n.select(F.col("media_id").cast("long")).mapInPandas(gen, schema=gen_schema)
    feats = image_features(media, codec="fake")
    return feats.select(
        "media_id",
        F.round(F.col("mean_rgb")[0], 6).alias("mean_r"),
        F.round(F.col("mean_rgb")[1], 6).alias("mean_g"),
        F.round(F.col("mean_rgb")[2], 6).alias("mean_b"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )


Q_MEDIA_SQL = """
WITH ids AS (
  SELECT n_nationkey::BIGINT AS media_id,
         32 + (n_nationkey*7 + 42) % 96 AS w,
         32 + (n_nationkey*13 + 42) % 64 AS h,
         sha256('img-' || n_nationkey) AS hx
  FROM nation),
seeds AS (
  SELECT media_id, w, h,
         list_sum(list_transform(range(0, 32),
           i -> ('0x' || substring(hx, i*2 + 1, 2))::BIGINT)) AS s
  FROM ids),
px AS (
  SELECT media_id, w, h,
         ((r*31) % 256 + (c*17) % 256 + s) % 256 AS base
  FROM seeds, range(0, 128) t1(r), range(0, 128) t2(c)
  WHERE r < h AND c < w)
SELECT media_id,
       ROUND(AVG(base), 6) AS mean_r,
       ROUND(AVG((base*3) % 256), 6) AS mean_g,
       ROUND(AVG((base*7) % 256), 6) AS mean_b,
       MAX(w)::BIGINT AS width,
       MAX(h)::BIGINT AS height
FROM px GROUP BY media_id
"""


def q_audio_features(spark, sf_dir) -> DataFrame:
    """Audio decode+feature plumbing (multimodal/media.py
    audio_features) with the fake codec: sample t of clip id is
    ((t*37 + S) % 2048) - 1024, S = Σ sha256('aud-id') bytes — mean
    |amplitude| and zero-crossing count are exact integer arithmetic
    the oracle replays per-sample."""
    from .multimodal.media import audio_features, fake_audio_payload

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").cast("long").alias("media_id"))
    gen_schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["media_id"]:
                i = int(i)
                sr = 8000 + (i % 3) * 4000
                ns = 1000 + (i * 13) % 500
                rows.append((i, fake_audio_payload(i, sr, ns)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = n.mapInPandas(gen, schema=gen_schema)
    out = audio_features(media, codec="fake")
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("mean_abs", 6).alias("mean_abs"),
        "zero_crossings",
    )


Q_AUDIO_SQL = """
WITH ids AS (
  SELECT n_nationkey::BIGINT AS media_id,
         (8000 + (n_nationkey % 3) * 4000)::BIGINT AS sample_rate,
         (1000 + (n_nationkey * 13) % 500)::BIGINT AS n_samples,
         list_sum(list_transform(range(0, 32),
           i -> ('0x' || substring(sha256('aud-' || n_nationkey), i*2 + 1, 2))::BIGINT)) AS s
  FROM nation),
samples AS (
  SELECT media_id, sample_rate, n_samples, t,
         ((t*37 + s) % 2048) - 1024 AS v
  FROM ids, range(0, 1500) tt(t) WHERE t < n_samples),
signs AS (
  SELECT media_id, t, CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sg
  FROM samples WHERE v <> 0),
trans AS (
  SELECT media_id,
         COUNT(*) FILTER (WHERE prev IS NOT NULL AND sg <> prev) AS zc
  FROM (SELECT media_id, sg, lag(sg) OVER (PARTITION BY media_id ORDER BY t) AS prev
        FROM signs)
  GROUP BY media_id)
SELECT i.media_id, i.sample_rate, i.n_samples,
       ROUND(AVG(ABS(sm.v)), 6) AS mean_abs,
       COALESCE(MAX(tr.zc), 0)::BIGINT AS zero_crossings
FROM ids i
JOIN samples sm ON sm.media_id = i.media_id
LEFT JOIN trans tr ON tr.media_id = i.media_id
GROUP BY i.media_id, i.sample_rate, i.n_samples
"""


def q_frame_sample(spark, sf_dir) -> DataFrame:
    """Video frame-sampling plumbing (multimodal/media.py
    frame_sample): every 7th frame of each fake clip, one output row
    per sampled frame with its exact mean luma — pixel (r,c) of frame
    f is ((r*31)%256 + (c*17)%256 + f*101 + S) % 256, S = Σ
    sha256('vid-id') bytes."""
    from .multimodal.media import fake_video_payload, frame_sample

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").cast("long").alias("media_id"))
    gen_schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["media_id"]:
                i = int(i)
                w = 16 + (i * 5) % 17
                h = 16 + (i * 11) % 13
                nf = 20 + (i * 7) % 30
                rows.append((i, fake_video_payload(i, w, h, nf)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = n.mapInPandas(gen, schema=gen_schema)
    out = frame_sample(media, every_n=7, codec="fake")
    return out.select(
        "media_id", "frame_idx", "width", "height",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


Q_FRAME_SQL = """
WITH ids AS (
  SELECT n_nationkey::BIGINT AS media_id,
         (16 + (n_nationkey * 5) % 17)::BIGINT AS w,
         (16 + (n_nationkey * 11) % 13)::BIGINT AS h,
         (20 + (n_nationkey * 7) % 30)::BIGINT AS nf,
         list_sum(list_transform(range(0, 32),
           i -> ('0x' || substring(sha256('vid-' || n_nationkey), i*2 + 1, 2))::BIGINT)) AS s
  FROM nation),
frames AS (
  SELECT media_id, w, h, s, f
  FROM ids, range(0, 50) ff(f)
  WHERE f < nf AND f % 7 = 0),
px AS (
  SELECT media_id, w, h, f,
         ((r*31) % 256 + (c*17) % 256 + f*101 + s) % 256 AS luma
  FROM frames, range(0, 33) t1(r), range(0, 33) t2(c)
  WHERE r < h AND c < w)
SELECT media_id, f AS frame_idx, MAX(w)::BIGINT AS width, MAX(h)::BIGINT AS height,
       ROUND(AVG(luma), 6) AS mean_luma
FROM px GROUP BY media_id, f
"""


def q_sessions(spark, sf_dir) -> DataFrame:
    """Sessionization (30-min gap) through the batch twin of the
    applyInPandasWithState streaming operator (streaming/sessions.py;
    batch/stream parity asserted in tests).  event_id breaks timestamp
    ties so the window ordering is deterministic cross-engine."""
    from .streaming.sessions import sessionize_batch

    e = _t(spark, sf_dir, "events")
    s = sessionize_batch(e, gap_seconds=1800, tiebreaker="event_id")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return s.select(
        "user_id",
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
    )


Q_SESSIONS_SQL = """
WITH m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def q_extent_agg(spark, sf_dir) -> DataFrame:
    """Layer-extent accumulation (the write-side envelope fold,
    gpkg.clj:903-912) as a grouped min/max."""
    pts = customer_points(spark, sf_dir)
    return pts.groupBy((F.col("c_custkey") % 10).alias("grp")).agg(
        F.min("x").alias("xmin"),
        F.min("y").alias("ymin"),
        F.max("x").alias("xmax"),
        F.max("y").alias("ymax"),
        F.count(F.lit(1)).alias("n"),
    )


Q_EXTENT_SQL = f"""
WITH pts AS ({CUSTOMER_POINTS_SQL})
SELECT (c_custkey % 10) AS grp,
       MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
       COUNT(*) AS n
FROM pts GROUP BY 1
"""


def q_geocode(spark, sf_dir) -> DataFrame:
    """The geocode extractor (real mapInPandas path) on synthetic html
    derived from doc ids — extraction arithmetic is oracle-checkable."""
    from .extract.geocode import geocode_pages

    d = _t(spark, sf_dir, "documents").select(
        F.format_string("https://doc%d.example.org/", F.col("doc_id")).alias("url"),
        F.col("doc_id").alias("page_id"),
        F.encode(
            F.format_string(
                "<html><body><p>doc %d geo:%.2f,%.2f</p></body></html>",
                F.col("doc_id"),
                ((F.col("doc_id") * 7919) % 100000).cast("double"),
                ((F.col("doc_id") * 104729) % 100000).cast("double"),
            ),
            "utf-8",
        ).alias("html"),
    )
    g = geocode_pages(d)
    return g.select(F.col("page_id").alias("doc_id"), "url", "x", "y")


Q_GEOCODE_SQL = """
SELECT doc_id,
       'https://doc' || doc_id || '.example.org/' AS url,
       ((doc_id*7919)%100000)::DOUBLE AS x,
       ((doc_id*104729)%100000)::DOUBLE AS y
FROM documents
"""


def q_box_join(spark, sf_dir) -> DataFrame:
    """Geometry×geometry predicate join (intersects) through the real
    cover-cell + refine path; boxes make the oracle SQL-expressible."""
    from .ops.joins import predicate_join

    boxes = nation_boxes(spark, sf_dir)
    out = predicate_join(
        boxes, boxes, "poly_id", "geom", "poly_id", "geom", "intersects"
    )
    return out.where(F.col("left_id") < F.col("right_id")).select(
        F.col("left_id").alias("a_key"), F.col("right_id").alias("b_key")
    )


Q_BOX_JOIN_SQL = """
WITH boxes AS (
  SELECT n_nationkey AS k,
         ((n_nationkey*773)%18000)::DOUBLE AS x0,
         ((n_nationkey*1571)%18000)::DOUBLE AS y0
  FROM nation)
SELECT a.k AS a_key, b.k AS b_key
FROM boxes a, boxes b
WHERE a.k < b.k
  AND a.x0 <= b.x0 + 2500 AND b.x0 <= a.x0 + 2500
  AND a.y0 <= b.y0 + 2500 AND b.y0 <= a.y0 + 2500
"""


def q_gpkg_bbox(spark, sf_dir) -> DataFrame:
    """Windowed GPKG read (round 5, engine-added): customer points
    land in an rtree-indexed GeoPackage (write builds the
    gpkg_rtree_index extension + spec triggers); read_gpkg(bbox=...)
    drives each scan task's candidate set from the rtree inside
    SQLite and refines exactly — the oracle replays the same window
    as a plain SQL filter on the point derivation."""
    import os
    import tempfile

    from .functions import st_point, wkb_to_points_np
    from .io import gpkg as gpkg_io

    pts = customer_points(spark, sf_dir).select(
        "c_custkey", st_point("x", "y").alias("geom")
    )
    # unique per-run path (advice r5, low): a fixed name raced two
    # concurrent harness runs (unlink-write-read windows overlap)
    fd, path = tempfile.mkstemp(prefix="geospark_q_bbox_", suffix=".gpkg")
    os.close(fd)
    os.unlink(path)  # write_gpkg bootstraps a fresh file
    # the returned DataFrame lazily re-reads the file on every action,
    # so deletion is deferred to interpreter exit, not done here
    import atexit

    atexit.register(lambda p=path: os.path.exists(p) and os.unlink(p))
    gpkg_io.write_gpkg(pts, path, "pts", srid=27700, add_spatial_index=True)
    back = gpkg_io.read_gpkg(
        spark, path, "pts", bbox=(2000.0, 3000.0, 9000.0, 12000.0)
    )

    @F.pandas_udf("x double, y double")
    def coords(wkb: pd.Series) -> pd.DataFrame:
        x, y = wkb_to_points_np(list(wkb))
        return pd.DataFrame({"x": x, "y": y})

    return back.withColumn("__c", coords("geom")).select(
        "c_custkey", F.col("__c.x").alias("x"), F.col("__c.y").alias("y")
    )


Q_GPKG_BBOX_SQL = f"""
WITH pts AS ({CUSTOMER_POINTS_SQL})
SELECT c_custkey, x, y FROM pts
WHERE x >= 2000 AND x <= 9000 AND y >= 3000 AND y <= 12000
"""


def q_gpkg_roundtrip(spark, sf_dir) -> DataFrame:
    """Sink/source conformance: write derived points to a GeoPackage
    (GP blob encode, metadata, extent fold), read them back (blob
    decode), recover exact coordinates — oracle = the same derivation
    in SQL.  Exercises io/gpkg.py + io/gpb.py end-to-end."""
    import os
    import tempfile

    from .functions import st_point
    from .io import gpkg as gpkg_io

    pts = customer_points(spark, sf_dir).select(
        "c_custkey", st_point("x", "y").alias("geom")
    )
    path = os.path.join(tempfile.gettempdir(), "geospark_q_roundtrip.gpkg")
    if os.path.exists(path):
        os.unlink(path)
    gpkg_io.write_gpkg(pts, path, "pts", srid=27700)
    back = gpkg_io.read_gpkg(spark, path, "pts")

    from .functions import wkb_to_points_np
    import pandas as pd
    from pyspark.sql.types import DoubleType

    @F.pandas_udf("x double, y double")
    def coords(wkb: pd.Series) -> pd.DataFrame:
        x, y = wkb_to_points_np(list(wkb))
        return pd.DataFrame({"x": x, "y": y})

    return back.withColumn("__c", coords("geom")).select(
        "c_custkey", F.col("__c.x").alias("x"), F.col("__c.y").alias("y")
    )


Q_GPKG_ROUNDTRIP_SQL = CUSTOMER_POINTS_SQL


def q_gpkg_amend(spark, sf_dir) -> DataFrame:
    """Write → amend (update-set join-update) → read-back conformance:
    customers land as gpkg features in key order (keys start at 0 so
    fid == c_custkey + 1), every 5th row's attribute is amended
    via the temp-table join-update plan, coordinates survive the GP
    blob roundtrip (io/gpkg.py amend_gpkg; gpkg.clj:1148-1374)."""
    import os
    import tempfile

    from .functions import st_point, wkb_to_points_np
    from .io import gpkg as gpkg_io

    pts = customer_points(spark, sf_dir).orderBy("c_custkey").select(
        "c_custkey",
        st_point("x", "y").alias("geom"),
        F.format_string("v%d", F.col("c_custkey") % 7).alias("v"),
    )
    path = os.path.join(tempfile.gettempdir(), "geospark_q_amend.gpkg")
    if os.path.exists(path):
        os.unlink(path)
    gpkg_io.write_gpkg(pts, path, "amd", srid=27700)
    amend = customer_points(spark, sf_dir).where(
        F.col("c_custkey") % 5 == 0
    ).select(
        (F.col("c_custkey") + 1).alias("rowid"),
        F.format_string("A%d", F.col("c_custkey")).alias("v"),
    )
    gpkg_io.amend_gpkg(amend, path, "amd", method="update-set")
    back = gpkg_io.read_gpkg(spark, path, "amd")

    @F.pandas_udf("x double, y double")
    def coords(wkb: pd.Series) -> pd.DataFrame:
        x, y = wkb_to_points_np(list(wkb))
        return pd.DataFrame({"x": x, "y": y})

    return back.withColumn("__c", coords("geom")).select(
        "c_custkey", "v", F.col("__c.x").alias("x"), F.col("__c.y").alias("y")
    )


Q_GPKG_AMEND_SQL = f"""
WITH pts AS ({CUSTOMER_POINTS_SQL})
SELECT c_custkey,
       CASE WHEN c_custkey % 5 = 0 THEN 'A' || c_custkey
            ELSE 'v' || (c_custkey % 7) END AS v,
       x, y
FROM pts
"""


def q_geojson_roundtrip(spark, sf_dir) -> DataFrame:
    """GeoJSON source conformance (geojson/open): a FeatureCollection
    synthesized from the customer derivation, parsed back through
    read_geojson/geojson_df with exact coordinate recovery."""
    import json
    import os
    import tempfile

    from .io.geojson import read_geojson_spark

    pts = customer_points(spark, sf_dir).orderBy("c_custkey").collect()
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [r["x"], r["y"]]},
                "properties": {"c_custkey": r["c_custkey"]},
            }
            for r in pts
        ],
    }
    path = os.path.join(tempfile.gettempdir(), "geospark_q_geojson.json")
    with open(path, "w") as fh:
        json.dump(fc, fh)
    # distributed path: stream-split → ndjson parts → executor parse
    df = read_geojson_spark(spark, path, features_per_part=500)

    from .functions import wkb_to_points_np

    @F.pandas_udf("x double, y double")
    def coords(wkb: pd.Series) -> pd.DataFrame:
        x, y = wkb_to_points_np(list(wkb))
        return pd.DataFrame({"x": x, "y": y})

    return df.withColumn("__c", coords("geometry")).select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("__c.x").alias("x"),
        F.col("__c.y").alias("y"),
    )


Q_GEOJSON_SQL = CUSTOMER_POINTS_SQL


def q_gpkg_schema(spark, sf_dir) -> DataFrame:
    """gpkg_schema extension conformance: write a table, attach column
    metadata + a range constraint, read every extension surface back
    (column_metadata / column_constraints / extensions;
    gpkg.clj:964-1068) — and the file must still pass the full 41-check
    validator.  Output = flattened (kind, name, value) rows; oracle =
    the literal expectation."""
    import os
    import tempfile

    from .functions import st_point
    from .io import gpkg as gpkg_io
    from .io.gpkg_validate import failures, validate

    pts = customer_points(spark, sf_dir).limit(10).select(
        "c_custkey", st_point("x", "y").alias("geom")
    )
    path = os.path.join(tempfile.gettempdir(), "geospark_q_schema.gpkg")
    if os.path.exists(path):
        os.unlink(path)
    gpkg_io.write_gpkg(pts, path, "pts", srid=27700)
    gpkg_io.set_column_metadata(
        path, "pts", "c_custkey",
        {"name": "custkey", "title": "Customer key", "constraint": "rng"},
    )
    gpkg_io.add_constraint(
        path,
        {"name": "rng", "type": "range", "min": 0, "min_is_inclusive": True,
         "max": 1000000, "max_is_inclusive": False},
    )
    meta = gpkg_io.column_metadata(path, "pts")["c_custkey"]
    cons = gpkg_io.column_constraints(path, "rng")[0]
    exts = sorted(
        {e["extension_name"] for e in gpkg_io.extensions(path)}
    )
    n_fail = len(failures(validate(path)))
    rows = [
        ("meta", "name", str(meta["name"])),
        ("meta", "title", str(meta["title"])),
        ("meta", "constraint", str(meta["constraint"])),
        ("constraint", "type", str(cons["type"])),
        ("constraint", "min", str(int(cons["min"]))),
        ("constraint", "max", str(int(cons["max"]))),
        ("extensions", "registered", ",".join(exts)),
        ("validator", "failures", str(n_fail)),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["kind", "name", "value"]))


Q_GPKG_SCHEMA_SQL = """
SELECT * FROM (VALUES
  ('meta', 'name', 'custkey'),
  ('meta', 'title', 'Customer key'),
  ('meta', 'constraint', 'rng'),
  ('constraint', 'type', 'range'),
  ('constraint', 'min', '0'),
  ('constraint', 'max', '1000000'),
  ('extensions', 'registered', 'gpkg_schema'),
  ('validator', 'failures', '0')
) AS t(kind, name, value)
"""


def q_gpkg_introspect(spark, sf_dir) -> DataFrame:
    """GeoPackage introspection + drop-table (gpkg.clj table-names /
    column-names / geometry-column; drop-table): write a geometry
    table and an attribute-only table, read every introspection
    surface, drop one table and confirm both the listing and the
    metadata rows are gone.  Output = literal (kind, name, value)
    rows; oracle = the expectation."""
    import os
    import tempfile

    from .functions import st_point
    from .io import gpkg as gpkg_io

    pts = customer_points(spark, sf_dir).limit(5).select(
        "c_custkey", st_point("x", "y").alias("geom")
    )
    attrs = customer_points(spark, sf_dir).limit(5).select("c_custkey", "x")
    path = os.path.join(tempfile.gettempdir(), "geospark_q_introspect.gpkg")
    if os.path.exists(path):
        os.unlink(path)
    gpkg_io.write_gpkg(pts, path, "pts", srid=27700)
    gpkg_io.write_gpkg(attrs, path, "attrs", geom_col=None)
    names_before = ",".join(sorted(gpkg_io.table_names(path)))
    spatial_only = ",".join(sorted(gpkg_io.table_names(path, spatial_only=True)))
    cols = ",".join(gpkg_io.column_names(path, "pts"))
    gc_pts = gpkg_io.geometry_column(path, "pts")  # (col, type, srid)
    gc_attrs = gpkg_io.geometry_column(path, "attrs")
    import sqlite3

    con = sqlite3.connect(path)
    srs_org = con.execute(
        "SELECT organization FROM gpkg_spatial_ref_sys WHERE srs_id = 27700"
    ).fetchone()[0]
    con.close()
    gpkg_io.drop_table(path, "attrs")
    names_after = ",".join(sorted(gpkg_io.table_names(path)))
    con = sqlite3.connect(path)
    meta_left = con.execute(
        "SELECT COUNT(*) FROM gpkg_contents WHERE table_name = 'attrs'"
    ).fetchone()[0]
    con.close()
    rows = [
        ("tables", "before", names_before),
        ("tables", "spatial_only", spatial_only),
        ("tables", "after_drop", names_after),
        ("columns", "pts", cols),
        ("geometry_column", "pts", f"{gc_pts[0]}:{gc_pts[1]}:{gc_pts[2]}"),
        ("geometry_column", "attrs", str(gc_attrs)),
        ("srs", "organization", str(srs_org)),
        ("drop", "contents_rows_left", str(int(meta_left))),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["kind", "name", "value"]))


Q_GPKG_INTROSPECT_SQL = """
SELECT * FROM (VALUES
  ('tables', 'before', 'attrs,pts'),
  ('tables', 'spatial_only', 'pts'),
  ('tables', 'after_drop', 'pts'),
  ('columns', 'pts', 'fid,geom,c_custkey'),
  ('geometry_column', 'pts', 'geom:GEOMETRY:27700'),
  ('geometry_column', 'attrs', 'None'),
  ('srs', 'organization', 'EPSG'),
  ('drop', 'contents_rows_left', '0')
) AS t(kind, name, value)
"""


def q_tile_rollup(spark, sf_dir) -> DataFrame:
    """Hypertable-style rollup through stream_tile_counts' batch twin
    (streaming/windows.py — identical code path batch/stream): events
    → synthetic points → Z-order tiles → 1-hour windowed per-tile
    counts.  Tile ids decode to floor arithmetic, windows align to
    epoch hours, so the oracle is closed-form.  Encode and decode are
    both Catalyst (cells/cellexpr.py) — zero python workers."""
    from .cells.cellexpr import cell_ix_expr, cell_iy_expr
    from .streaming.windows import stream_tile_counts

    e = _t(spark, sf_dir, "events").select(
        "ts",
        ((F.col("event_id") * 7919) % 100000).cast("double").alias("x"),
        ((F.col("event_id") * 104729) % 100000).cast("double").alias("y"),
    )
    t = stream_tile_counts(e, "ts", level=TILE_LEVEL, window="1 hour", grid=TILE_GRID)
    return t.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        cell_ix_expr("cell_id").alias("tile_ix"),
        cell_iy_expr("cell_id").alias("tile_iy"),
        F.col("n").cast("long").alias("n"),
    )


Q_TILE_ROLLUP_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(floor(((event_id*7919)%100000)/1000) AS BIGINT) AS tile_ix,
       CAST(floor(((event_id*104729)%100000)/1000) AS BIGINT) AS tile_iy,
       COUNT(*) AS n
FROM events GROUP BY 1, 2, 3
"""


def q_dissolve_region(spark, sf_dir) -> DataFrame:
    """Geometric dissolve (unary union) of nation boxes per region —
    arrangement-union kernel in applyInPandas.  Oracle: inclusion-
    exclusion over the ≤5 integer boxes per region (exact in SQL)."""
    from .functions import st_area
    from .ops.dissolve import dissolve

    n = _t(spark, sf_dir, "nation")
    boxes = nation_boxes(spark, sf_dir).join(
        n.select(F.col("n_nationkey").alias("poly_id"), "n_regionkey"), "poly_id"
    )
    d = dissolve(boxes.select("n_regionkey", "geom"), "n_regionkey")
    return d.select(
        F.col("n_regionkey"), F.round(st_area("geom"), 2).alias("union_area")
    )


Q_DISSOLVE_SQL = """
WITH boxes AS (
  SELECT n_regionkey AS r,
         ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS i,
         ((n_nationkey*773)%18000)::DOUBLE  AS x0,
         ((n_nationkey*1571)%18000)::DOUBLE AS y0
  FROM nation),
-- inclusion-exclusion over every non-empty subset of a region's boxes
-- (bitmask s; each region has exactly 5 nations in TPC-H)
subsets AS (
  SELECT r, s,
         MAX(x0) AS xlo, MIN(x0+2500) AS xhi,
         MAX(y0) AS ylo, MIN(y0+2500) AS yhi,
         COUNT(*) AS k
  FROM boxes, range(1, 32) t(s)
  WHERE (s >> (i-1)::INTEGER) & 1 = 1
  GROUP BY r, s
  HAVING COUNT(*) = bit_count(s::BIT)  -- subset fully present
)
SELECT r AS n_regionkey,
       ROUND(SUM((CASE WHEN k%2=1 THEN 1 ELSE -1 END)
                 * GREATEST(0, xhi-xlo) * GREATEST(0, yhi-ylo)), 2) AS union_area
FROM subsets GROUP BY r
"""


def q_buffer_area(spark, sf_dir) -> DataFrame:
    """Buffer kernel through the Spark UDF path on small integer boxes.
    Round-join buffer of a W×W box at distance d with quad_segs=q has
    the closed form W² + 4·W·d + 2q·d²·sin(π/2q) (straight offsets +
    4 quantized quarter-arcs) — exact enough for a 2 dp oracle."""
    from .functions import st_area, st_buffer, st_geomfromtext

    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    x0 = (k * 3) % 50
    y0 = (k * 7) % 50
    wkt = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        x0, y0, x0 + 25, y0, x0 + 25, y0 + 25, x0, y0 + 25, x0, y0,
    )
    boxes = n.select(k.alias("n_nationkey"), st_geomfromtext(wkt).alias("geom"))
    return boxes.select(
        "n_nationkey",
        F.round(st_area(st_buffer(2.0, 4)(F.col("geom"))), 2).alias("buffered_area"),
    )


Q_BUFFER_SQL = """
SELECT n_nationkey,
       ROUND(625.0 + 4*25*2.0 + 2*4*(2.0*2.0)*sin(pi()/(2*4)), 2) AS buffered_area
FROM nation
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def registry() -> Dict[str, Callable]:
    from .queries_geom import (
        q_codec_roundtrip,
        q_cut_line,
        q_cut_polygon,
        q_distance_ops,
        q_hull_points,
        q_inspect_ops,
        q_linear_refs,
        q_measures_box,
        q_node_grid,
        q_overlay_areas,
        q_polygonize,
        q_predicates_box,
        q_relate_box,
        q_relate_low,
        q_reproject_roundtrip,
        q_rings_ops,
        q_smooth_line,
        q_valid_buffer,
        q_boundary_interior,
        q_concave_hull,
        q_noder_connect,
    )

    return {
        "codec_roundtrip": q_codec_roundtrip,
        "overlay_areas": q_overlay_areas,
        "cut_line": q_cut_line,
        "cut_polygon": q_cut_polygon,
        "distance_ops": q_distance_ops,
        "polygonize": q_polygonize,
        "node_grid": q_node_grid,
        "predicates_box": q_predicates_box,
        "relate_box": q_relate_box,
        "relate_low": q_relate_low,
        "reproject_roundtrip": q_reproject_roundtrip,
        "measures_box": q_measures_box,
        "hull_points": q_hull_points,
        "inspect_ops": q_inspect_ops,
        "valid_buffer": q_valid_buffer,
        "linear_refs": q_linear_refs,
        "smooth_line": q_smooth_line,
        "rings_ops": q_rings_ops,
        "sessions": q_sessions,
        "pip_join": q_pip_join,
        "tile_assign": q_tile_assign,
        "knn": q_knn,
        "knn_geom": q_knn_geom,
        "grid": q_grid,
        "dedup_exact": q_dedup_exact,
        "jaccard_pairs": q_jaccard_pairs,
        "minhash_pairs": q_minhash_pairs,
        "simhash": q_simhash,
        "simhash_dups": q_simhash_dups,
        "ann_cosine": q_ann_cosine,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "cosine_dups": q_cosine_dups,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "fingerprint_winnow": q_fingerprint_winnow,
        "fingerprint_dups": q_fingerprint_dups,
        "fingerprint_dups_capped": q_fingerprint_dups_capped,
        "token_stats": q_token_stats,
        "corpus_clean": q_corpus_clean,
        "pipeline_resume": q_pipeline_resume,
        "events_hourly": q_events_hourly,
        "extent_agg": q_extent_agg,
        "geocode": q_geocode,
        "box_join": q_box_join,
        "gpkg_roundtrip": q_gpkg_roundtrip,
        "gpkg_bbox": q_gpkg_bbox,
        "gpkg_amend": q_gpkg_amend,
        "gpkg_schema": q_gpkg_schema,
        "tile_rollup": q_tile_rollup,
        "geojson_roundtrip": q_geojson_roundtrip,
        "dissolve_region": q_dissolve_region,
        "buffer_area": q_buffer_area,
        "boundary_interior": q_boundary_interior,
        "concave_hull": q_concave_hull,
        "noder_connect": q_noder_connect,
        "media_features": q_media_features,
        "audio_features": q_audio_features,
        "frame_sample": q_frame_sample,
        "range_query": q_range_query,
        "type_predicates": q_type_predicates,
        "raster_roundtrip": q_raster_roundtrip,
        "cells_ops": q_cells_ops,
        "gpkg_introspect": q_gpkg_introspect,
    }


def oracles() -> Dict[str, str]:
    from .queries_geom import (
        Q_CODEC_SQL,
        Q_CUT_LINE_SQL,
        Q_CUT_POLYGON_SQL,
        Q_DISTANCE_SQL,
        Q_HULL_SQL,
        Q_INSPECT_SQL,
        Q_LINEAR_REFS_SQL,
        Q_MEASURES_SQL,
        Q_NODE_GRID_SQL,
        Q_OVERLAY_SQL,
        Q_POLYGONIZE_SQL,
        Q_PREDICATES_SQL,
        Q_RELATE_SQL,
        Q_RELATE_LOW_SQL,
        Q_REPROJECT_SQL,
        Q_RINGS_SQL,
        Q_SMOOTH_SQL,
        Q_VALID_BUFFER_SQL,
        Q_BOUNDARY_INTERIOR_SQL,
        Q_CONCAVE_HULL_SQL,
        Q_NODER_CONNECT_SQL,
    )

    return {
        "codec_roundtrip": Q_CODEC_SQL,
        "overlay_areas": Q_OVERLAY_SQL,
        "cut_line": Q_CUT_LINE_SQL,
        "cut_polygon": Q_CUT_POLYGON_SQL,
        "distance_ops": Q_DISTANCE_SQL,
        "polygonize": Q_POLYGONIZE_SQL,
        "node_grid": Q_NODE_GRID_SQL,
        "predicates_box": Q_PREDICATES_SQL,
        "relate_box": Q_RELATE_SQL,
        "relate_low": Q_RELATE_LOW_SQL,
        "reproject_roundtrip": Q_REPROJECT_SQL,
        "measures_box": Q_MEASURES_SQL,
        "hull_points": Q_HULL_SQL,
        "inspect_ops": Q_INSPECT_SQL,
        "valid_buffer": Q_VALID_BUFFER_SQL,
        "linear_refs": Q_LINEAR_REFS_SQL,
        "smooth_line": Q_SMOOTH_SQL,
        "rings_ops": Q_RINGS_SQL,
        "sessions": Q_SESSIONS_SQL,
        "pip_join": Q_PIP_JOIN_SQL,
        "tile_assign": Q_TILE_ASSIGN_SQL,
        "knn": Q_KNN_SQL,
        "knn_geom": Q_KNN_GEOM_SQL,
        "grid": Q_GRID_SQL,
        "dedup_exact": Q_DEDUP_EXACT_SQL,
        "jaccard_pairs": Q_JACCARD_SQL,
        "minhash_pairs": _minhash_sql(),
        "ann_cosine": Q_ANN_SQL,
        "cosine_dups": Q_COSINE_DUPS_SQL,
        "text_quality": Q_TEXT_QUALITY_SQL,
        "lang_id": _langid_sql(),
        "fingerprint_winnow": _fingerprint_winnow_sql(),
        "fingerprint_dups": _fingerprint_dups_sql(),
        "fingerprint_dups_capped": _fingerprint_dups_capped_sql(),
        "token_stats": Q_TOKEN_STATS_SQL,
        "corpus_clean": _corpus_clean_sql(),
        "pipeline_resume": Q_PIPELINE_RESUME_SQL,
        "events_hourly": Q_EVENTS_SQL,
        "extent_agg": Q_EXTENT_SQL,
        "geocode": Q_GEOCODE_SQL,
        "box_join": Q_BOX_JOIN_SQL,
        "gpkg_roundtrip": Q_GPKG_ROUNDTRIP_SQL,
        "gpkg_bbox": Q_GPKG_BBOX_SQL,
        "gpkg_amend": Q_GPKG_AMEND_SQL,
        "gpkg_schema": Q_GPKG_SCHEMA_SQL,
        "tile_rollup": Q_TILE_ROLLUP_SQL,
        "geojson_roundtrip": Q_GEOJSON_SQL,
        "simhash": _simhash_sql(),
        "simhash_dups": _simhash_dups_sql(),
        "dissolve_region": Q_DISSOLVE_SQL,
        "buffer_area": Q_BUFFER_SQL,
        "ann_lsh": _ann_lsh_sql(),
        "ann_ivf": Q_ANN_IVF_SQL,
        "boundary_interior": Q_BOUNDARY_INTERIOR_SQL,
        "concave_hull": Q_CONCAVE_HULL_SQL,
        "noder_connect": Q_NODER_CONNECT_SQL,
        "media_features": Q_MEDIA_SQL,
        "audio_features": Q_AUDIO_SQL,
        "frame_sample": Q_FRAME_SQL,
        "range_query": Q_RANGE_QUERY_SQL,
        "type_predicates": Q_TYPE_PREDICATES_SQL,
        "raster_roundtrip": Q_RASTER_SQL,
        "cells_ops": Q_CELLS_OPS_SQL,
        "gpkg_introspect": Q_GPKG_INTROSPECT_SQL,
    }
