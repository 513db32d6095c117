"""GPKG rtree spatial-index extension (reference
create-spatial-index! / register-gpkg-functions!, gpkg.clj:75-129,
831-876): the six spec triggers, ST_* helper functions, bulk load
from executor-computed envelopes, trigger maintenance, drop cleanup."""

import sqlite3

import numpy as np
import pytest

from geospark.io import gpkg, gpb
from geospark.geom import core as gc


def _pts_df(spark, n=400, parts=4, with_nulls=True):
    rows = []
    for i in range(n):
        if with_nulls and i % 37 == 0:
            geom = None
        elif with_nulls and i % 41 == 0:
            geom = gc.to_wkb(gc.from_wkt("POINT EMPTY"))
        elif i % 3 == 0:
            geom = gc.to_wkb(
                gc.from_wkt(f"POLYGON (({i} 0, {i + 2} 0, {i + 2} 3, {i} 3, {i} 0))")
            )
        else:
            geom = gc.to_wkb(gc.from_wkt(f"POINT ({i} {i * 2})"))
        rows.append((geom, i))
    return spark.createDataFrame(rows, "geom binary, i bigint").repartition(parts)


def _rtree_rows(path, table="t", col="geom"):
    con = sqlite3.connect(path)
    try:
        return con.execute(
            f'SELECT id, minx, maxx, miny, maxy FROM "rtree_{table}_{col}" ORDER BY id'
        ).fetchall()
    finally:
        con.close()


def _expected_rtree(path, table="t", col="geom"):
    """Recompute from the stored GP blobs — the ground truth."""
    con = sqlite3.connect(path)
    try:
        out = []
        for fid, blob in con.execute(f'SELECT fid, "{col}" FROM "{table}" ORDER BY fid'):
            if blob is None:
                continue
            g, _ = gpb.decode(bytes(blob))
            env = g.envelope()
            if env is None:
                continue
            out.append((fid, env[0], env[2], env[1], env[3]))
        return out
    finally:
        con.close()


@pytest.mark.parametrize("mode", ["merge", "stream"])
def test_rtree_bulk_load_matches_blobs(spark, tmp_path, mode):
    p = str(tmp_path / f"rt_{mode}.gpkg")
    gpkg.write_gpkg(_pts_df(spark), p, "t", srid=27700, sink_mode=mode,
                    add_spatial_index=True)
    got = _rtree_rows(p)
    want = _expected_rtree(p)
    assert len(got) == len(want) > 300
    for (gi, gx0, gx1, gy0, gy1), (wi, wx0, wx1, wy0, wy1) in zip(got, want):
        assert gi == wi
        # the rtree virtual table stores float32-rounded bounds
        # (outward-rounded by SQLite); compare with that tolerance
        assert gx0 == pytest.approx(wx0, abs=1e-3)
        assert gx1 == pytest.approx(wx1, abs=1e-3)
        assert gy0 == pytest.approx(wy0, abs=1e-3)
        assert gy1 == pytest.approx(wy1, abs=1e-3)
    # extension registered write-only, like the reference
    exts = {(e["table_name"], e["column_name"], e["extension_name"]): e
            for e in gpkg.extensions(p)}
    e = exts[("t", "geom", "gpkg_rtree_index")]
    assert e["scope"] == "write-only"
    # conformance validator still green
    from geospark.io.gpkg_validate import validate

    assert [f for f in validate(p) if f["status"] == "fail"] == []


def test_rtree_triggers_maintain_index(spark, tmp_path):
    p = str(tmp_path / "maint.gpkg")
    gpkg.write_gpkg(_pts_df(spark, n=60), p, "t", srid=27700, add_spatial_index=True)
    con = sqlite3.connect(p)
    gpkg._register_st_functions(con)
    # INSERT through the trigger path
    blob = gpb.encode(gc.from_wkt("POINT (1000 2000)"), 27700)
    cur = con.execute('INSERT INTO "t" (geom, i) VALUES (?, ?)', (blob, 999))
    fid = cur.lastrowid
    row = con.execute(
        'SELECT minx, maxy FROM "rtree_t_geom" WHERE id = ?', (fid,)
    ).fetchone()
    assert row is not None and row[0] == pytest.approx(1000, abs=1e-3)
    assert row[1] == pytest.approx(2000, abs=1e-3)
    # UPDATE moves the box
    blob2 = gpb.encode(gc.from_wkt("POINT (5 6)"), 27700)
    con.execute('UPDATE "t" SET geom = ? WHERE fid = ?', (blob2, fid))
    row = con.execute('SELECT minx FROM "rtree_t_geom" WHERE id = ?', (fid,)).fetchone()
    assert row[0] == pytest.approx(5, abs=1e-3)
    # UPDATE to NULL removes the entry
    con.execute('UPDATE "t" SET geom = NULL WHERE fid = ?', (fid,))
    assert con.execute(
        'SELECT 1 FROM "rtree_t_geom" WHERE id = ?', (fid,)
    ).fetchone() is None
    # DELETE removes entries
    con.execute('DELETE FROM "t" WHERE fid <= 5')
    assert con.execute('SELECT count(*) FROM "rtree_t_geom" WHERE id <= 5').fetchone()[0] == 0
    con.commit()
    con.close()


def test_rtree_append_to_indexed_table(spark, tmp_path):
    """Appending to an already-indexed table routes through the
    maintenance triggers (ST functions registered on the sink
    connection) and keeps the index complete."""
    p = str(tmp_path / "app.gpkg")
    df = _pts_df(spark, n=80, with_nulls=False)
    gpkg.write_gpkg(df, p, "t", srid=27700, add_spatial_index=True)
    gpkg.write_gpkg(df, p, "t", srid=27700, if_exists="append")
    got = _rtree_rows(p)
    want = _expected_rtree(p)
    assert len(got) == len(want) == 160
    assert [g[0] for g in got] == [w[0] for w in want]


def test_rtree_amend_maintains_index(spark, tmp_path):
    p = str(tmp_path / "amend.gpkg")
    gpkg.write_gpkg(_pts_df(spark, n=40, with_nulls=False), p, "t", srid=27700,
                    add_spatial_index=True)
    import pandas as pd

    blob = gpb.encode(gc.from_wkt("POINT (777 888)"), 27700)
    gpkg.amend_gpkg(pd.DataFrame({"rowid": [3], "geom": [blob]}), p, "t")
    con = sqlite3.connect(p)
    row = con.execute('SELECT minx, miny FROM "rtree_t_geom" WHERE id = 3').fetchone()
    con.close()
    assert row[0] == pytest.approx(777, abs=1e-2) and row[1] == pytest.approx(888, abs=1e-2)


def test_drop_table_removes_rtree(spark, tmp_path):
    p = str(tmp_path / "drop.gpkg")
    gpkg.write_gpkg(_pts_df(spark, n=30), p, "t", srid=27700, add_spatial_index=True)
    gpkg.drop_table(p, "t")
    con = sqlite3.connect(p)
    names = {r[0] for r in con.execute("SELECT name FROM sqlite_master")}
    con.close()
    assert not any(n.startswith("rtree_t_geom") for n in names)
    assert all(e["table_name"] != "t" for e in gpkg.extensions(p))


def test_bbox_read_indexed_and_unindexed_match_bruteforce(spark, tmp_path):
    """Engine-added windowed read: read_gpkg(bbox=...) must return
    exactly the envelope-intersecting rows, identically with an rtree
    (candidate join + exact refine) and without one (decode+filter),
    including boxes that only touch an envelope edge."""
    df = _pts_df(spark, n=900, parts=5)
    p_idx = str(tmp_path / "bi.gpkg")
    p_plain = str(tmp_path / "bp.gpkg")
    gpkg.write_gpkg(df, p_idx, "t", srid=27700, add_spatial_index=True)
    gpkg.write_gpkg(df, p_plain, "t", srid=27700)

    bbox = (100.0, 150.0, 300.0, 620.0)
    # brute force over the stored blobs
    want = set()
    con = sqlite3.connect(p_idx)
    for fid, blob in con.execute('SELECT fid, geom FROM "t"'):
        if blob is None:
            continue
        g, _ = gpb.decode(bytes(blob))
        env = g.envelope()
        if env and env[0] <= bbox[2] and env[2] >= bbox[0] and env[1] <= bbox[3] and env[3] >= bbox[1]:
            want.add(fid)
    con.close()
    assert 0 < len(want) < 900

    for p in (p_idx, p_plain):
        got = {
            r["rowid"]
            for r in gpkg.read_gpkg(spark, p, "t", rowids=True, bbox=bbox,
                                    rows_per_partition=200).collect()
        }
        assert got == want, p
    # the driver-side placement agrees too
    got_drv = {
        r["rowid"]
        for r in gpkg.read_gpkg(spark, p_idx, "t", rowids=True, bbox=bbox,
                                distributed=False).collect()
    }
    assert got_drv == want
    # attribute-only table rejects a bbox
    attrs = df.select("i")
    p3 = str(tmp_path / "attr.gpkg")
    gpkg.write_gpkg(attrs, p3, "at", geom_col=None)
    with pytest.raises(Exception, match="no geometry column"):
        gpkg.read_gpkg(spark, p3, "at", bbox=bbox).collect()


def test_bbox_read_with_reprojection_filters_in_native_crs(spark, tmp_path):
    """bbox is interpreted in the file's native CRS; the filter runs
    before reprojection and the surviving geometries come back in the
    target CRS."""
    from geospark.crs.osgb import reproject as _rp

    pts = [(400000.0 + i * 10, 300000.0 + i * 10) for i in range(50)]
    rows = [(gc.to_wkb(gc.from_wkt(f"POINT ({x} {y})")), i) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "geom binary, i bigint").coalesce(2)
    p = str(tmp_path / "re.gpkg")
    gpkg.write_gpkg(df, p, "t", srid=27700, add_spatial_index=True)
    bbox = (400000.0, 300000.0, 400200.0, 300200.0)  # native (27700) units
    got = gpkg.read_gpkg(spark, p, "t", to_srid=4326, bbox=bbox).collect()
    assert len(got) == 21  # i = 0..20
    for r in got:
        g = gc.from_wkb(bytes(r["geom"]))
        x, y = g.parts[0]
        assert -10 < x < 10 and 40 < y < 60  # lon/lat, i.e. reprojected
        assert r["srid"] == 4326


def test_bbox_empty_window_and_mixed_file(spark, tmp_path):
    """Review r5 pass 2: a zero-match window must return an EMPTY
    DataFrame on every path (the driver fallback used to crash with
    CANNOT_INFER_EMPTY_SCHEMA), and a whole-file bbox read windows the
    spatial tables while skipping attribute tables."""
    df = _pts_df(spark, n=60, with_nulls=False)
    p = str(tmp_path / "mix.gpkg")
    gpkg.write_gpkg(df, p, "t", srid=27700, add_spatial_index=True)
    gpkg.write_gpkg(df.select("i"), p, "at", geom_col=None)

    empty_box = (1e7, 1e7, 2e7, 2e7)
    assert gpkg.read_gpkg(spark, p, "t", bbox=empty_box).count() == 0
    assert gpkg.read_gpkg(spark, p, "t", bbox=empty_box, distributed=False).count() == 0
    # whole-file windowed read: only the spatial table, no error
    got = gpkg.read_gpkg(spark, p, bbox=(0.0, 0.0, 30.0, 60.0))
    assert set(r["table"] for r in got.collect()) == {"t"}
    assert got.count() > 0


def test_write_int32_and_byte_columns_declared_integer(spark, tmp_path):
    """Review r5 pass 2: IntegerType's typeName is 'integer', not
    'int' — int32/byte columns must be declared INTEGER and round-trip
    as integers (they were declared TEXT and came back as strings)."""
    df = spark.createDataFrame(
        [(1, 10, 3), (2, None, 5)], "k int, v int, b tinyint"
    ).coalesce(1)
    p = str(tmp_path / "i32.gpkg")
    gpkg.write_gpkg(df, p, "t", geom_col=None)
    con = sqlite3.connect(p)
    decls = {r[1]: r[2] for r in con.execute('PRAGMA table_info("t")')}
    vals = con.execute('SELECT k, v, b FROM "t" ORDER BY fid').fetchall()
    con.close()
    assert decls["k"] == "INTEGER" and decls["v"] == "INTEGER" and decls["b"] == "INTEGER"
    assert vals == [(1, 10, 3), (2, None, 5)]
    back = {r["k"]: (r["v"], r["b"]) for r in gpkg.read_gpkg(spark, p, "t").collect()}
    assert back == {1: (10, 3), 2: (None, 5)}


def test_append_add_spatial_index_backfills_existing_rows(spark, tmp_path):
    """Advice r5 (high): appending with add_spatial_index=True to an
    EXISTING unindexed table must index the pre-existing rows too —
    the rtree is the bbox read's candidate set, so un-backfilled rows
    silently vanish from windowed reads (repro: window returned 2 of
    5 in-window rows)."""
    mk = lambda xs: spark.createDataFrame(
        [(gc.to_wkb(gc.from_wkt(f"POINT ({x} {x})")), int(x)) for x in xs],
        "geom binary, i bigint",
    ).coalesce(1)
    for mode in ("merge", "stream"):
        p = str(tmp_path / f"bf_{mode}.gpkg")
        gpkg.write_gpkg(mk([1, 2, 3]), p, "t", srid=27700)  # no index
        gpkg.write_gpkg(
            mk([4, 5]), p, "t", srid=27700, if_exists="append",
            add_spatial_index=True, sink_mode=mode,
        )
        rt = _rtree_rows(p)
        assert len(rt) == 5, f"{mode}: rtree must cover pre-existing rows, got {rt}"
        got = sorted(
            r["i"] for r in gpkg.read_gpkg(
                spark, p, "t", bbox=(0.0, 0.0, 10.0, 10.0)
            ).collect()
        )
        assert got == [1, 2, 3, 4, 5], f"{mode}: bbox read dropped rows: {got}"
