"""GeoPackage source/sink tests — write→read round-trips, if-exists
modes, amend methods, introspection (ported semantics from
gpkg_test.clj:20-267 and the amend suite)."""

import sqlite3

import pandas as pd
import pytest

from geospark.geom import core as C
from geospark.io import gpkg


@pytest.fixture
def spatial_df(spark):
    rows = pd.DataFrame(
        {
            "geom": [
                C.to_wkb(C.point(1, 2)),
                C.to_wkb(C.polygon([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])),
                None,
            ],
            "name": ["a", "b", "c"],
            "score": [1.5, 2.5, 3.5],
            "flag": [True, False, True],
        }
    )
    return spark.createDataFrame(rows)


def test_write_read_roundtrip_spatial(spark, spatial_df, tmp_path):
    path = str(tmp_path / "t.gpkg")
    gpkg.write_gpkg(spatial_df, path, "features", srid=27700)
    assert gpkg.table_names(path) == ["features"]
    assert gpkg.geometry_column(path, "features") == ("geom", "GEOMETRY", 27700)
    back = gpkg.read_gpkg(spark, path, "features").toPandas().sort_values("name")
    assert list(back["name"]) == ["a", "b", "c"]
    assert C.geom_eq(C.from_wkb(back.iloc[0]["geom"]), C.point(1, 2))
    assert back.iloc[2]["geom"] is None
    assert (back["srid"] == 27700).all()
    # booleans round-trip as 0/1 (gpkg.clj:518)
    assert sorted(back["flag"]) == [0, 1, 1]
    # layer extent folded into gpkg_contents (gpkg.clj:1124-1126)
    con = sqlite3.connect(path)
    ext = con.execute(
        "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents WHERE table_name='features'"
    ).fetchone()
    con.close()
    assert ext == (0.0, 0.0, 10.0, 10.0)


def test_write_if_exists_modes(spark, spatial_df, tmp_path):
    path = str(tmp_path / "m.gpkg")
    gpkg.write_gpkg(spatial_df, path, "t", srid=27700)
    with pytest.raises(ValueError):
        gpkg.write_gpkg(spatial_df, path, "t", srid=27700, if_exists="fail")
    gpkg.write_gpkg(spatial_df, path, "t", srid=27700, if_exists="append")
    assert len(gpkg.read_gpkg(spark, path, "t").toPandas()) == 6
    gpkg.write_gpkg(spatial_df, path, "t", srid=27700, if_exists="delete-rows")
    assert len(gpkg.read_gpkg(spark, path, "t").toPandas()) == 3
    gpkg.write_gpkg(spatial_df, path, "t", srid=27700, if_exists="drop-table")
    assert len(gpkg.read_gpkg(spark, path, "t").toPandas()) == 3


def test_write_attribute_table(spark, tmp_path):
    path = str(tmp_path / "a.gpkg")
    df = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["x", "y"]}))
    gpkg.write_gpkg(df, path, "attrs", geom_col=None)
    back = gpkg.read_gpkg(spark, path, "attrs").toPandas()
    assert sorted(back["k"]) == [1, 2]


def test_reprojection_on_read(spark, tmp_path):
    path = str(tmp_path / "r.gpkg")
    df = spark.createDataFrame(
        pd.DataFrame({"geom": [C.to_wkb(C.point(651409.903, 313177.270))], "n": [1]})
    )
    gpkg.write_gpkg(df, path, "pts", srid=27700)
    back = gpkg.read_gpkg(spark, path, "pts", to_srid=4326).toPandas()
    g = C.from_wkb(back.iloc[0]["geom"])
    assert abs(g.parts[0, 0] - 1.7179) < 0.01
    assert abs(g.parts[0, 1] - 52.6576) < 0.01
    assert back.iloc[0]["srid"] == 4326


def test_drop_table(spark, spatial_df, tmp_path):
    path = str(tmp_path / "d.gpkg")
    gpkg.write_gpkg(spatial_df, path, "t1", srid=27700)
    gpkg.write_gpkg(spatial_df, path, "t2", srid=27700)
    gpkg.drop_table(path, "t1")
    assert gpkg.table_names(path) == ["t2"]


class TestAmend:
    def _mk(self, spark, tmp_path, name):
        path = str(tmp_path / f"{name}.gpkg")
        df = spark.createDataFrame(
            pd.DataFrame({"k": [10, 20, 30], "v": ["a", "b", "c"]})
        )
        gpkg.write_gpkg(df, path, "t", geom_col=None)
        return path

    def _rows(self, path):
        con = sqlite3.connect(path)
        rows = con.execute("SELECT k, v FROM t ORDER BY k, v").fetchall()
        con.close()
        return rows

    def test_update_set(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "u")
        gpkg.amend_gpkg(pd.DataFrame({"rowid": [1, 3], "v": ["A", "C"]}), path, "t")
        assert self._rows(path) == [(10, "A"), (20, "b"), (30, "C")]

    def test_update_set_duplicate_errors(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "ud")
        with pytest.raises(ValueError):
            gpkg.amend_gpkg(
                pd.DataFrame({"rowid": [1, 1], "v": ["A", "B"]}), path, "t"
            )

    def test_left_join_multiplies(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "lj")
        gpkg.amend_gpkg(
            pd.DataFrame({"rowid": [1, 1], "v": ["A1", "A2"]}),
            path,
            "t",
            method="left-join",
        )
        assert self._rows(path) == [(10, "A1"), (10, "A2"), (20, "b"), (30, "c")]

    def test_right_join_deletes_unmatched(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rj")
        gpkg.amend_gpkg(
            pd.DataFrame({"rowid": [1], "v": ["A"]}), path, "t", method="right-join"
        )
        assert self._rows(path) == [(10, "A")]

    def test_outer_join_inserts_unmatched_source(self, spark, tmp_path):
        # reference: ':outer-join does :left-join and then inserts
        # unmatched rows' — rowid=99 is absent so the row must be
        # INSERTed, not silently dropped
        path = self._mk(spark, tmp_path, "oj")
        gpkg.amend_gpkg(
            pd.DataFrame({"rowid": [1, 99], "v": ["A", "NEW"]}),
            path,
            "t",
            method="outer-join",
        )
        assert self._rows(path) == [(None, "NEW"), (10, "A"), (20, "b"), (30, "c")]
        con = sqlite3.connect(path)
        fid = con.execute("SELECT fid FROM t WHERE v = 'NEW'").fetchone()[0]
        con.close()
        assert fid == 99  # singular unmatched key becomes the new fid

    def test_right_join_inserts_unmatched_source(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rji")
        gpkg.amend_gpkg(
            pd.DataFrame({"rowid": [1, 99], "v": ["A", "NEW"]}),
            path,
            "t",
            method="right-join",
        )
        # unmatched targets (rowids 2,3) deleted; unmatched source inserted
        assert self._rows(path) == [(None, "NEW"), (10, "A")]

    def test_outer_join_duplicate_unmatched_keys(self, spark, tmp_path):
        # regression: duplicate unmatched keys get autoincrement fids
        # that can equal their own key value; the multiply step must
        # not pick the freshly inserted row up (insert runs last)
        path = self._mk(spark, tmp_path, "ojd")  # fids 1..3
        gpkg.amend_gpkg(
            pd.DataFrame({"rowid": [4, 4], "v": ["X", "Y"]}),
            path,
            "t",
            method="outer-join",
        )
        rows = self._rows(path)
        assert rows == [(None, "X"), (None, "Y"), (10, "a"), (20, "b"), (30, "c")]

    def test_right_join_null_key_still_deletes(self, spark, tmp_path):
        # regression: NOT IN over a set containing NULL is UNKNOWN for
        # every row — unmatched targets must still be deleted
        path = self._mk(spark, tmp_path, "rjn")
        gpkg.amend_gpkg(
            pd.DataFrame({"rowid": [1.0, None], "v": ["A", "NEW"]}),
            path,
            "t",
            method="right-join",
        )
        assert self._rows(path) == [(None, "NEW"), (10, "A")]

    def test_outer_join_multiply_fid_collision(self, spark, tmp_path):
        # regression (round-3 advice): duplicate key 2 multiplied twice
        # mints autoincrement fids 4,5; the unmatched singular key 5
        # must not collide with them (sequence pre-bumped past 5)
        path = self._mk(spark, tmp_path, "ojc")  # fids 1..3
        gpkg.amend_gpkg(
            pd.DataFrame({"rowid": [2, 2, 5], "v": ["B1", "B2", "NEW"]}),
            path,
            "t",
            method="outer-join",
        )
        rows = self._rows(path)
        assert rows == [(None, "NEW"), (10, "a"), (20, "B1"), (20, "B2"), (30, "c")]
        con = sqlite3.connect(path)
        fid = con.execute("SELECT fid FROM t WHERE v = 'NEW'").fetchone()[0]
        con.close()
        assert fid == 5  # the explicit singular key survived

    def test_amend_streams_spark_df(self, spark, tmp_path):
        # the Spark-DataFrame input path (toLocalIterator, no toPandas)
        path = self._mk(spark, tmp_path, "sdf")
        sdf = spark.createDataFrame(pd.DataFrame({"rowid": [2], "v": ["B2"]}))
        gpkg.amend_gpkg(sdf, path, "t")
        assert self._rows(path) == [(10, "a"), (20, "B2"), (30, "c")]


def test_write_if_exists_rejects_unknown_mode(spark, tmp_path):
    path = str(tmp_path / "bad_mode.gpkg")
    df = spark.createDataFrame(pd.DataFrame({"k": [1]}))
    gpkg.write_gpkg(df, path, "t", geom_col=None)
    with pytest.raises(ValueError):
        gpkg.write_gpkg(df, path, "t", geom_col=None, if_exists="replace")


def test_distributed_scan_many_partitions(spark, tmp_path):
    """A file split into >10 rowid ranges returns exactly the same
    rows as a 1-range scan, the physical plan is a distributed
    MapInPandas (executors read their own ranges; nothing driver-
    side), and row→range assignment is balanced even with SPARSE
    rowids (verdict r3 #2)."""
    import numpy as np

    from geospark.geom import core as C

    n = 500
    rows = pd.DataFrame(
        {
            "geom": [C.to_wkb(C.point(float(i), float(i % 7))) for i in range(n)],
            "name": [f"r{i}" for i in range(n)],
            "score": np.arange(n, dtype=np.float64) * 0.5,
        }
    )
    path = str(tmp_path / "big.gpkg")
    gpkg.write_gpkg(spark.createDataFrame(rows), path, "t", srid=27700)
    # sparse rowids: delete every 3rd row so ranges can't assume density
    con = sqlite3.connect(path)
    con.execute("DELETE FROM t WHERE rowid % 3 = 0")
    con.commit()
    con.close()

    wide = gpkg.read_gpkg(spark, path, "t", rows_per_partition=30)
    one = gpkg.read_gpkg(spark, path, "t", rows_per_partition=10**9)
    assert wide.rdd.getNumPartitions() > 10
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Scan ExistingRDD" not in plan.split("MapInPandas")[0]

    a = wide.toPandas().sort_values("name").reset_index(drop=True)
    b = one.toPandas().sort_values("name").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == n - len([i for i in range(1, n + 1) if i % 3 == 0])

    # rowids survive the distributed path too
    withids = (
        gpkg.read_gpkg(spark, path, "t", rowids=True, rows_per_partition=30)
        .toPandas()
        .sort_values("rowid")
    )
    assert (withids["rowid"] % 3 != 0).all()


def test_distributed_scan_types_and_nulls(spark, tmp_path):
    """Declared-type schema mapping under NULLs, booleans, datetimes,
    and a multi-table union: both placements return the same schema
    and the rows sqlite3 itself returns."""
    from geospark.geom import core as C
    from geospark.io import gpb

    rows = pd.DataFrame(
        {
            "geom": [C.to_wkb(C.point(i, i)) if i % 3 else None for i in range(40)],
            "name": [None if i % 5 == 0 else f"n{i}" for i in range(40)],
            "score": [None if i % 7 == 0 else i * 1.5 for i in range(40)],
            "flag": [bool(i % 2) for i in range(40)],
            "stamp": [f"2026-01-{(i % 28) + 1:02d}T00:00:00" for i in range(40)],
        }
    )
    path = str(tmp_path / "typed.gpkg")
    gpkg.write_gpkg(spark.createDataFrame(rows), path, "t1", srid=27700)
    # second table, different schema, for the union path
    rows2 = pd.DataFrame({"label": [f"x{i}" for i in range(7)], "k": list(range(7))})
    gpkg.write_gpkg(spark.createDataFrame(rows2), path, "t2", srid=27700)

    con = sqlite3.connect(path)
    want = [
        (fid, None if g is None else g[gpb.payload_offset(g):], name, score, flag, stamp, 27700, "t1")
        for fid, g, name, score, flag, stamp in con.execute(
            "SELECT fid, geom, name, score, flag, stamp FROM t1 ORDER BY fid"
        )
    ]
    con.close()
    assert len(want) == 40
    for distributed in (True, False):
        df = gpkg.read_gpkg(spark, path, "t1", rowids=True, rows_per_partition=9,
                            distributed=distributed)
        assert df.dtypes == [
            ("rowid", "bigint"), ("geom", "binary"), ("name", "string"), ("score", "double"),
            ("flag", "bigint"), ("stamp", "string"), ("srid", "bigint"), ("table", "string"),
        ]
        got = sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
            for r in df.collect()
        )
        assert got == want, distributed

    # multi-table union (table=None): all rows, missing cols null
    for distributed in (True, False):
        pdf = gpkg.read_gpkg(spark, path, rows_per_partition=9, distributed=distributed).toPandas()
        assert set(pdf["table"]) == {"t1", "t2"}
        assert len(pdf) == 47
        t2rows = pdf[pdf["table"] == "t2"]
        assert t2rows["name"].isna().all()
        assert sorted(t2rows["label"]) == [f"x{i}" for i in range(7)]


def test_distributed_scan_column_projection(spark, tmp_path):
    """columns= prunes the SQLite select list (scale posture: dropped
    blobs are never deserialized) and keeps geom/srid/rowid."""
    from geospark.geom import core as C

    rows = pd.DataFrame(
        {
            "geom": [C.to_wkb(C.point(i, i)) for i in range(20)],
            "keep": [f"k{i}" for i in range(20)],
            "drop_me": [f"d{i}" for i in range(20)],
            "big_blob": [b"x" * 1000 for _ in range(20)],
        }
    )
    path = str(tmp_path / "proj.gpkg")
    gpkg.write_gpkg(spark.createDataFrame(rows), path, "t", srid=27700)
    df = gpkg.read_gpkg(spark, path, "t", columns=["keep"], rowids=True, rows_per_partition=7)
    got = df.toPandas()
    assert set(got.columns) == {"rowid", "keep", "geom", "srid", "table"}
    assert sorted(got["keep"]) == sorted(f"k{i}" for i in range(20))
    assert got["geom"].notna().all()


def test_rowid_ranges_guards():
    import pytest as _pytest

    from geospark.io.gpkg import _rowid_ranges

    with _pytest.raises(ValueError):
        _rowid_ranges("/nonexistent", "t", 0)


def test_gpb_payload_offset_rejects_extended_and_garbage():
    import pytest as _pytest

    from geospark.io import gpb
    from geospark.geom import core as C

    blob = gpb.encode(C.point(1, 2), 27700)
    off = gpb.payload_offset(blob)
    assert blob[off] in (0, 1)
    # extended bit set → rejected
    ext = bytearray(blob)
    ext[3] |= 0x20
    with _pytest.raises(gpb.GpbError):
        gpb.payload_offset(bytes(ext))
    with _pytest.raises(gpb.GpbError):
        gpb.payload_offset(b"XXXXXXXXXX")


def test_driver_fallback_bigint_with_nulls_exact(spark, tmp_path):
    """Review r5 pass 3: the driver-side placement (the default on a
    non-local master) must not round >2^53 ints when the column has
    NULLs."""
    import sqlite3

    big = 2**53 + 1
    p = str(tmp_path / "dfb.gpkg")
    con = sqlite3.connect(p)
    gpkg._bootstrap(con)
    con.execute("CREATE TABLE t (fid INTEGER PRIMARY KEY, v INTEGER)")
    con.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, identifier) VALUES ('t','attributes','t')"
    )
    con.executemany("INSERT INTO t (v) VALUES (?)", [(big,), (None,)])
    con.commit()
    con.close()
    got = sorted(
        r["v"] for r in gpkg.read_gpkg(spark, p, "t", distributed=False).collect()
        if r["v"] is not None
    )
    assert got == [big]


def test_append_folds_layer_extent(spark, tmp_path):
    """Review r5 pass 3: appending must FOLD the recorded extent with
    the new batch, not shrink it to the batch."""
    import sqlite3

    from geospark.geom import core as gc

    def pts(coords):
        rows = [(gc.to_wkb(gc.from_wkt(f"POINT ({x} {y})")),) for x, y in coords]
        return spark.createDataFrame(rows, "geom binary").coalesce(1)

    p = str(tmp_path / "ext.gpkg")
    gpkg.write_gpkg(pts([(0, 0), (100, 100)]), p, "t", srid=27700)
    gpkg.write_gpkg(pts([(5, 5)]), p, "t", srid=27700, if_exists="append")
    con = sqlite3.connect(p)
    ext = con.execute(
        "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents WHERE table_name='t'"
    ).fetchone()
    con.close()
    assert ext == (0.0, 0.0, 100.0, 100.0)
    # delete-rows resets the extent to the new batch only
    gpkg.write_gpkg(pts([(5, 5), (7, 9)]), p, "t", srid=27700, if_exists="delete-rows")
    con = sqlite3.connect(p)
    ext = con.execute(
        "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents WHERE table_name='t'"
    ).fetchone()
    con.close()
    assert ext == (5.0, 5.0, 7.0, 9.0)


def test_amend_outer_join_without_sqlite_sequence(tmp_path):
    """Review r5 pass 3: outer-join amend on a foreign GPKG whose
    table has no AUTOINCREMENT (so no sqlite_sequence at all) must not
    crash on the seq pre-bump."""
    import sqlite3

    p = str(tmp_path / "noseq.gpkg")
    con = sqlite3.connect(p)
    gpkg._bootstrap(con)
    con.execute("CREATE TABLE t (fid INTEGER PRIMARY KEY, v TEXT)")
    con.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, identifier) VALUES ('t','attributes','t')"
    )
    con.executemany("INSERT INTO t (fid, v) VALUES (?, ?)", [(1, "a"), (2, "b")])
    con.commit()
    con.close()
    gpkg.amend_gpkg(
        pd.DataFrame({"rowid": [2, 9], "v": ["B", "NEW"]}), p, "t", method="outer-join"
    )
    con = sqlite3.connect(p)
    rows = con.execute("SELECT fid, v FROM t ORDER BY fid").fetchall()
    con.close()
    assert rows == [(1, "a"), (2, "B"), (9, "NEW")]


def test_empty_and_foreign_file_edges(spark, tmp_path):
    """Review r5 pass 3: spatial_only listing on a plain SQLite file
    returns [] (not a gpkg_contents crash); reading a table-less
    GeoPackage raises a CLEAR error instead of IndexError; a write
    keeps a user column named 'srid' on attribute-only tables."""
    import sqlite3

    import pytest

    plain = str(tmp_path / "plain.db")
    con = sqlite3.connect(plain)
    con.execute("CREATE TABLE x (a INTEGER)")
    con.commit()
    con.close()
    assert gpkg.table_names(plain, spatial_only=True) == []
    assert gpkg.table_names(plain) == ["x"]

    empty = str(tmp_path / "empty.gpkg")
    con = sqlite3.connect(empty)
    gpkg._bootstrap(con)
    con.commit()
    con.close()
    with pytest.raises(ValueError, match="no tables"):
        gpkg.read_gpkg(spark, empty)

    p = str(tmp_path / "srid.gpkg")
    df = spark.createDataFrame([(27700, "bng")], "srid bigint, name string").coalesce(1)
    gpkg.write_gpkg(df, p, "srs_lut", geom_col=None)
    back = gpkg.read_gpkg(spark, p, "srs_lut").collect()
    assert back[0]["srid"] == 27700 and back[0]["name"] == "bng"


def test_driver_fallback_geom_name_collision(spark, tmp_path):
    """Review r5 pass 3: geometry column named 'shape' plus a real
    attribute named 'geom' — no duplicate columns on either placement;
    the geometry wins deterministically."""
    import sqlite3

    from geospark.io import gpb
    from geospark.geom import core as gc

    p = str(tmp_path / "coll.gpkg")
    con = sqlite3.connect(p)
    gpkg._bootstrap(con)
    con.execute("CREATE TABLE t (fid INTEGER PRIMARY KEY, shape GEOMETRY, geom TEXT)")
    con.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id) VALUES ('t','features','t',4326)"
    )
    con.execute(
        "INSERT INTO gpkg_geometry_columns VALUES ('t','shape','GEOMETRY',4326,0,0)"
    )
    blob = gpb.encode(gc.from_wkt("POINT (1 2)"), 4326)
    con.execute("INSERT INTO t (shape, geom) VALUES (?, ?)", (blob, "decoy"))
    con.commit()
    con.close()
    for distributed in (True, False):
        df = gpkg.read_gpkg(spark, p, "t", distributed=distributed)
        assert df.columns == ["geom", "srid", "table"]
        got = df.collect()
        assert len(got) == 1
        g = gc.from_wkb(bytes(got[0]["geom"]))
        assert (g.parts[0][0], g.parts[0][1]) == (1.0, 2.0)


def test_declared_type_policy_both_placements(spark, tmp_path):
    """Every declared type maps to one Spark type: NUMERIC and
    DECIMAL(10,2) to double, MEDIUMINT to bigint, an unregistered
    POINT or GEOMETRY column and an undeclared column to binary.  An
    integer converts to double only when exact (|v| <= 2^53); beyond
    that the read raises.  Empty tables and empty bbox windows keep
    the same schema.  Both placements agree throughout."""
    from geospark.geom import core as gc
    from geospark.io import gpb

    blob = gpb.encode(gc.from_wkt("POINT (1 2)"), 4326)
    p = str(tmp_path / "decl.gpkg")
    con = sqlite3.connect(p)
    gpkg._bootstrap(con)
    for t in ("t", "e"):
        con.execute(
            f"CREATE TABLE {t} (fid INTEGER PRIMARY KEY, n NUMERIC, d DECIMAL(10,2), "
            "m MEDIUMINT, pt POINT, gg GEOMETRY, u)"
        )
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier) VALUES (?,'attributes',?)",
            (t, t),
        )
    con.executemany(
        "INSERT INTO t (n, d, m, pt, gg, u) VALUES (?, ?, ?, ?, ?, ?)",
        [
            (1, 12.00, 7, blob, None, b"\x01\x02"),  # 12.00 is stored as INTEGER 12
            (2.5, 3.25, None, None, blob, None),
            (None, None, -(2**40), blob, blob, b""),
            (2**53, -(2**53), 0, None, None, None),
        ],
    )
    con.commit()
    con.close()
    schema = [
        ("n", "double"), ("d", "double"), ("m", "bigint"), ("pt", "binary"),
        ("gg", "binary"), ("u", "binary"), ("table", "string"),
    ]
    want = [
        (1.0, 12.0, 7, blob, None, b"\x01\x02", "t"),
        (2.5, 3.25, None, None, blob, None, "t"),
        (None, None, -(2**40), blob, blob, b"", "t"),
        (float(2**53), float(-(2**53)), 0, None, None, None, "t"),
    ]

    def rows(df):
        return [tuple(bytes(v) if isinstance(v, bytearray) else v for v in r) for r in df.collect()]

    for distributed in (True, False):
        df = gpkg.read_gpkg(spark, p, "t", distributed=distributed)
        assert df.dtypes == schema, distributed
        assert rows(df) == want, distributed
        empty = gpkg.read_gpkg(spark, p, "e", distributed=distributed)
        assert empty.dtypes == schema
        assert empty.count() == 0

    # one integer beyond 2^53 in a NUMERIC column has no exact double
    con = sqlite3.connect(p)
    con.execute("INSERT INTO t (n) VALUES (?)", (2**53 + 1,))
    con.commit()
    con.close()
    for distributed in (True, False):
        with pytest.raises(Exception, match="no exact double"):
            gpkg.read_gpkg(spark, p, "t", distributed=distributed).collect()

    # an empty bbox window has the full read's schema on both placements
    sp = str(tmp_path / "spatial.gpkg")
    gpkg.write_gpkg(
        spark.createDataFrame([(gc.to_wkb(gc.from_wkt("POINT (1 2)")), 1.5, 3)],
                              "geom binary, x double, k bigint"),
        sp, "s", srid=27700, add_spatial_index=True,
    )
    full = gpkg.read_gpkg(spark, sp, "s").dtypes
    assert full == [("geom", "binary"), ("x", "double"), ("k", "bigint"),
                    ("srid", "bigint"), ("table", "string")]
    for distributed in (True, False):
        win = gpkg.read_gpkg(spark, sp, "s", bbox=(1e6, 1e6, 2e6, 2e6), distributed=distributed)
        assert win.dtypes == full
        assert win.count() == 0
