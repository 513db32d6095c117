"""Distributed GeoPackage sink (write-side mirror of the distributed
scan): the merge and stream sinks must produce identical files holding
the spec's values, the merge sink must beat the stream sink by >=4x at
1M rows with flat driver RSS, and a merge-phase failure must restore
the pre-merge row state (reference writer semantics,
gpkg.clj:914-962)."""

import datetime as dt
import os
import resource
import sqlite3
import tempfile
import time
import types

import pytest
from pyspark.sql import functions as F

from geospark.io import gpkg
from geospark.geom import core as gc


def _mixed_df(spark, n=5000, parts=7):
    """Mixed-type rows incl. nulls, empty + None geometry, unicode."""
    rows = []
    for i in range(n):
        if i % 97 == 0:
            geom = None
        elif i % 61 == 0:
            geom = gc.to_wkb(gc.from_wkt("POINT EMPTY"))
        elif i % 3 == 0:
            geom = gc.to_wkb(
                gc.from_wkt(
                    f"POLYGON (({i} 0, {i + 2} 0, {i + 2} 2, {i} 2, {i} 0))"
                )
            )
        else:
            geom = gc.to_wkb(gc.from_wkt(f"POINT ({i} {i * 2})"))
        rows.append(
            (
                geom,
                None if i % 11 == 0 else f"näme-{i}",
                i,
                None if i % 13 == 0 else i * 0.5,
                None if i % 17 == 0 else (i % 2 == 0),
                bytes([i % 256, (i * 3) % 256]),
                dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=i, microseconds=i % 7),
                dt.date(2024, 1, 1) + dt.timedelta(days=i % 300),
            )
        )
    return spark.createDataFrame(
        rows,
        "geom binary, s string, i bigint, d double, b boolean, "
        "raw binary, ts timestamp, day date",
    ).repartition(parts)


def _dump(path, table):
    con = sqlite3.connect(path)
    try:
        rows = con.execute(f'SELECT * FROM "{table}" ORDER BY fid').fetchall()
        ext = con.execute(
            "SELECT min_x, min_y, max_x, max_y, srs_id FROM gpkg_contents WHERE table_name=?",
            (table,),
        ).fetchone()
        return rows, ext
    finally:
        con.close()


def test_sink_modes_identical(spark, tmp_path):
    from geospark.io.gpkg_validate import validate

    df = _mixed_df(spark)
    dumps = {}
    for mode in ("merge", "stream"):
        p = str(tmp_path / f"m_{mode}.gpkg")
        gpkg.write_gpkg(df, p, "t", srid=27700, sink_mode=mode)
        dumps[mode] = _dump(p, "t")
        # every written file passes the full conformance validator
        findings = validate(p)
        assert len(findings) == 41
        assert [f for f in findings if f["status"] == "fail"] == [], mode
    assert dumps["merge"] == dumps["stream"]
    # literal values of each conversion, by the `i` column:
    # (geom, s, i, d, b, raw, ts, day) after the fid
    rows, ext = dumps["merge"]
    assert len(rows) == 5000 and [r[0] for r in rows] == list(range(1, 5001))
    by_i = {r[3]: r[1:] for r in rows}
    point_1_2 = bytes.fromhex(
        "47500001346c0000"  # GP, version 0, LE no envelope, srs_id 27700
        "0101000000000000000000f03f0000000000000040"  # WKB POINT (1 2)
    )
    point_empty = bytes.fromhex(
        "47500011346c0000"  # empty-geometry flag set
        "0101000000000000000000f87f000000000000f87f"  # WKB POINT (NaN NaN)
    )
    assert by_i[0] == (None, None, 0, None, None, b"\x00\x00", "2024-01-01T00:00:00", "2024-01-01")
    assert by_i[1] == (
        point_1_2, "näme-1", 1, 0.5, 0, b"\x01\x03", "2024-01-01T00:00:01.000001", "2024-01-02",
    )
    assert by_i[2][4] == 1  # True → 1
    assert by_i[61][0] == point_empty
    assert by_i[97][0] is None
    assert gc.from_wkb(by_i[3][0][8:]).envelope() == (3.0, 0.0, 5.0, 2.0)
    assert ext == (1.0, 0.0, 5000.0, 9998.0, 27700)


def test_sink_modes_identical_append_and_attrs_only(spark, tmp_path):
    df = _mixed_df(spark, n=600, parts=3)
    attrs = df.select("s", "i", "d")
    dumps = {}
    for mode in ("merge", "stream"):
        p = str(tmp_path / f"a_{mode}.gpkg")
        gpkg.write_gpkg(df, p, "t", srid=27700, sink_mode=mode)
        gpkg.write_gpkg(df, p, "t", srid=27700, sink_mode=mode, if_exists="append")
        gpkg.write_gpkg(attrs, p, "at", geom_col=None, sink_mode=mode)
        dumps[mode] = (_dump(p, "t"), _dump(p, "at"))
    assert dumps["merge"] == dumps["stream"]
    (t_rows, t_ext), (at_rows, at_ext) = dumps["merge"]
    assert len(t_rows) == 1200 and [r[0] for r in t_rows] == list(range(1, 1201))
    assert t_ext == (1.0, 0.0, 599.0, 1198.0, 27700)
    assert sorted((r[1:] for r in at_rows if r[2] < 3), key=lambda r: r[1]) == [
        (None, 0, None), ("näme-1", 1, 0.5), ("näme-2", 2, 1.0),
    ]
    assert at_ext == (None, None, None, None, None)


def test_merge_collect_failure_leaves_no_table(spark, tmp_path):
    """Bad WKB fails in the part-encode tasks, i.e. before the
    metadata transaction commits: the file must not gain the table."""
    p = str(tmp_path / "f.gpkg")
    good = _mixed_df(spark, n=50, parts=2)
    gpkg.write_gpkg(good, p, "keep", srid=27700)
    bad = spark.createDataFrame([(b"\x99notwkb", 1)], "geom binary, i bigint")
    with pytest.raises(Exception):
        gpkg.write_gpkg(bad, p, "t", srid=27700, sink_mode="merge")
    assert "t" not in gpkg.table_names(p)
    assert "keep" in gpkg.table_names(p)


def test_merge_phase_failure_restores_rows(spark, tmp_path, monkeypatch):
    """A failure DURING the attach-merge (part file vanished) must
    delete the partially merged rows and keep the pre-merge state."""
    p = str(tmp_path / "r.gpkg")
    df = _mixed_df(spark, n=40, parts=2)
    gpkg.write_gpkg(df, p, "t", srid=27700)
    before = _dump(p, "t")

    real = gpkg._sink_parts_df

    class _Parts:
        def __init__(self, rows):
            self._rows = rows

        def collect(self):
            return self._rows

    def sabotaged(df_, geom_col, srid, fields, tmpdir, with_envelope=False):
        rows = real(df_, geom_col, srid, fields, tmpdir, with_envelope).collect()
        bogus = types.SimpleNamespace(
            pid=10_000, path=os.path.join(tmpdir, "missing.db"), nrows=1,
            xmin=None, ymin=None, xmax=None, ymax=None,
        )
        return _Parts(sorted(rows, key=lambda r: r.pid) + [bogus])

    monkeypatch.setattr(gpkg, "_sink_parts_df", sabotaged)
    with pytest.raises(Exception):
        gpkg.write_gpkg(df, p, "t", srid=27700, if_exists="append", sink_mode="merge")
    monkeypatch.undo()
    assert _dump(p, "t") == before
    # and the sequence was restored: a clean append still works
    gpkg.write_gpkg(df, p, "t", srid=27700, if_exists="append")
    rows, _ = _dump(p, "t")
    assert len(rows) == 80 and rows[-1][0] == 80  # contiguous fids


def test_merge_throughput_and_flat_rss(spark):
    """Verdict r4 'done' bar: >=4x write throughput at 1M+ rows vs
    the per-row stream sink, with flat driver RSS.  The stream's
    driver-side insert loop is single-threaded and O(n), so its rate
    is measured on a 200k slice (rates are directly comparable)."""
    from geospark.functions import st_point

    n = 1_000_000
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            st_point(F.col("id") * 1.0, F.col("id") * 2.0).alias("geom"),
            (F.col("id") % 7).cast("string").alias("v"),
        )
        .repartition(8)
        .persist()
    )
    df.count()
    small = df.where(F.col("id") < 200_000).persist()
    nsmall = small.count()
    try:
        p1 = tempfile.mktemp(suffix=".gpkg")
        p2 = tempfile.mktemp(suffix=".gpkg")
        rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        t0 = time.time()
        gpkg.write_gpkg(df, p1, "t", srid=27700, sink_mode="merge")
        merge_rate = n / (time.time() - t0)
        rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        t0 = time.time()
        gpkg.write_gpkg(small, p2, "t", srid=27700, sink_mode="stream")
        stream_rate = nsmall / (time.time() - t0)
        # flat driver RSS: the 1M-row merge write must not grow the
        # python driver by more than 300MB (it only sees part paths)
        assert (rss1 - rss0) < 300 * 1024, f"driver RSS grew {(rss1 - rss0) / 1024:.0f}MB"
        assert merge_rate >= 4 * stream_rate, (
            f"merge {merge_rate / 1e3:.0f}k rows/s < 4x stream {stream_rate / 1e3:.0f}k rows/s"
        )
        con = sqlite3.connect(p1)
        assert con.execute('SELECT count(*), min(fid), max(fid) FROM "t"').fetchone() == (n, 1, n)
        con.close()
    finally:
        df.unpersist()
        small.unpersist()
        for p in (p1, p2):
            if os.path.exists(p):
                os.unlink(p)


def test_sink_bigint_beyond_2_53_with_nulls_exact(spark, tmp_path):
    """Code-review r5: Spark's Arrow→pandas conversion turns an int64
    batch containing a null into float64, silently rounding values
    beyond 2^53.  Nullable integral columns must survive the sink
    exactly in every mode (they ship as digit strings; SQLite INTEGER
    affinity converts back)."""
    big1, big2 = 2**60 + 1, 2**53 + 1
    rows = [
        (gc.to_wkb(gc.from_wkt("POINT (1 2)")), big1),
        (gc.to_wkb(gc.from_wkt("POINT (3 4)")), None),
        (gc.to_wkb(gc.from_wkt("POINT (5 6)")), big2),
        (None, -(2**60) - 7),
    ]
    df = spark.createDataFrame(rows, "geom binary, v long").coalesce(2)
    for mode in ("merge", "stream"):
        p = str(tmp_path / f"big_{mode}.gpkg")
        gpkg.write_gpkg(df, p, "t", srid=27700, sink_mode=mode)
        con = sqlite3.connect(p)
        vals = [r[0] for r in con.execute('SELECT v FROM "t" ORDER BY fid')]
        types = {r[0] for r in con.execute('SELECT typeof(v) FROM "t" WHERE v IS NOT NULL')}
        con.close()
        assert vals == [big1, None, big2, -(2**60) - 7], mode
        assert types == {"integer"}, mode
    # and an attribute-only table through the merge part files
    attrs = spark.createDataFrame([(big1,), (None,)], "v long")
    p = str(tmp_path / "big_attr.gpkg")
    gpkg.write_gpkg(attrs, p, "at", geom_col=None, sink_mode="merge")
    con = sqlite3.connect(p)
    assert [r[0] for r in con.execute('SELECT v FROM "at" ORDER BY fid')] == [big1, None]
    con.close()


def test_merge_failure_restore_foreign_table_without_autoincrement(spark, tmp_path, monkeypatch):
    """Code-review r5: a GPKG written by another tool can lack
    sqlite_sequence entirely (plain INTEGER PRIMARY KEY); the merge
    failure restore must not die on UPDATE sqlite_sequence and must
    leave the pre-merge rows intact."""
    p = str(tmp_path / "foreign.gpkg")
    con = sqlite3.connect(p)
    gpkg._bootstrap(con)
    con.execute("CREATE TABLE t (fid INTEGER PRIMARY KEY, v INTEGER)")
    con.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, identifier) VALUES ('t','attributes','t')"
    )
    con.executemany("INSERT INTO t (fid, v) VALUES (?, ?)", [(1, 10), (2, 20)])
    con.commit()
    con.close()

    df = spark.createDataFrame([(30,), (40,)], "v long").coalesce(1)
    real = gpkg._sink_parts_df

    def sabotaged(df_, geom_col, srid, fields, tmpdir, with_envelope=False):
        rows = real(df_, geom_col, srid, fields, tmpdir, with_envelope).collect()
        bogus = types.SimpleNamespace(
            pid=10_000, path=os.path.join(tmpdir, "missing.db"), nrows=1,
            xmin=None, ymin=None, xmax=None, ymax=None,
        )
        return types.SimpleNamespace(collect=lambda: list(rows) + [bogus])

    monkeypatch.setattr(gpkg, "_sink_parts_df", sabotaged)
    with pytest.raises(Exception) as ei:
        gpkg.write_gpkg(df, p, "t", geom_col=None, if_exists="append", sink_mode="merge")
    assert "sqlite_sequence" not in str(ei.value)
    monkeypatch.undo()
    con = sqlite3.connect(p)
    assert con.execute('SELECT fid, v FROM "t" ORDER BY fid').fetchall() == [(1, 10), (2, 20)]
    con.close()


def test_merge_failure_restore_preserves_autoincrement_highwater(spark, tmp_path, monkeypatch):
    """Code-review r5: the restore must reset the AUTOINCREMENT seq to
    its PRE-MERGE value, not MAX(rowid) — after deletes those differ,
    and resetting lower would re-issue previously-used fids."""
    from geospark.functions import st_point
    from pyspark.sql import functions as F

    p = str(tmp_path / "seq.gpkg")
    df = (
        spark.range(10)
        .select(st_point(F.col("id") * 1.0, F.col("id") * 1.0).alias("geom"))
        .coalesce(1)
    )
    gpkg.write_gpkg(df, p, "t", srid=27700)
    con = sqlite3.connect(p)
    con.execute('DELETE FROM "t" WHERE fid > 5')  # seq stays 10
    con.commit()
    con.close()

    real = gpkg._sink_parts_df

    def sabotaged(df_, geom_col, srid, fields, tmpdir, with_envelope=False):
        rows = real(df_, geom_col, srid, fields, tmpdir, with_envelope).collect()
        bogus = types.SimpleNamespace(
            pid=10_000, path=os.path.join(tmpdir, "missing.db"), nrows=1,
            xmin=None, ymin=None, xmax=None, ymax=None,
        )
        return types.SimpleNamespace(collect=lambda: list(rows) + [bogus])

    monkeypatch.setattr(gpkg, "_sink_parts_df", sabotaged)
    with pytest.raises(Exception):
        gpkg.write_gpkg(df, p, "t", srid=27700, if_exists="append", sink_mode="merge")
    monkeypatch.undo()
    con = sqlite3.connect(p)
    seq = con.execute("SELECT seq FROM sqlite_sequence WHERE name='t'").fetchone()[0]
    con.close()
    assert seq == 10  # not reset to MAX(rowid)=5
    # a clean append mints fresh fids above the high-water mark
    gpkg.write_gpkg(df.limit(1), p, "t", srid=27700, if_exists="append")
    con = sqlite3.connect(p)
    assert con.execute('SELECT MAX(fid) FROM "t"').fetchone()[0] == 11
    con.close()
