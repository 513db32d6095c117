"""Resumable pipeline + GeoJSON + multimodal plumbing tests."""

import json
import os

import pandas as pd
import pytest

from geospark.geom import core as C


def test_pipeline_resume(spark, tmp_path):
    from geospark.run.pipeline import Pipeline, SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    calls = {"a": 0, "b": 0, "c": 0}

    def mk(name, fail=False):
        def fn(s, outputs):
            calls[name] += 1
            if fail:
                raise RuntimeError("boom")
            if name == "a":
                return s.range(100)
            prev = outputs["a" if name == "b" else "b"]
            return prev.withColumnRenamed(prev.columns[0], name)

        return fn

    p = Pipeline(spark, cat, "run1").stage("a", mk("a")).stage("b", mk("b")).stage("c", mk("c", fail=True))
    with pytest.raises(RuntimeError):
        p.run(verbose=False)
    assert calls == {"a": 1, "b": 1, "c": 1}

    # resume: a and b are committed snapshots, only c re-runs
    p2 = Pipeline(spark, cat, "run1").stage("a", mk("a")).stage("b", mk("b")).stage("c", mk("c"))
    out = p2.run(verbose=False)
    assert calls == {"a": 1, "b": 1, "c": 2}
    assert out["c"].count() == 100

    # lineage has per-partition rows for all committed stages
    lin = cat.lineage(spark).toPandas()
    assert set(lin["stage"]) == {"a", "b", "c"}
    assert (lin["rows_out"] > 0).any()
    assert (lin["run_id"] == "run1").all()


def test_snapshot_catalog_commit_visibility(spark, tmp_path):
    from geospark.run.pipeline import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat2"))
    assert cat.latest("t") is None
    m1 = cat.write(spark.range(10), "t")
    m2 = cat.write(spark.range(20), "t")
    assert cat.latest("t")["snapshot_id"] == m2["snapshot_id"]
    # time travel to first snapshot
    assert cat.read(spark, "t", m1["snapshot_id"]).count() == 10
    assert cat.read(spark, "t").count() == 20


def test_geojson_reader(tmp_path):
    from geospark.io.geojson import read_geojson

    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "sq", "pop": 7},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
                },
            },
            {
                "type": "Feature",
                "properties": {"name": "pt"},
                "geometry": {"type": "Point", "coordinates": [5, 6]},
            },
        ],
    }
    rows = read_geojson(json.dumps(fc))
    assert len(rows) == 2
    g0 = C.from_wkb(rows[0]["geometry"])
    assert g0.gtype == C.POLYGON and rows[0]["name"] == "sq" and rows[0]["pop"] == 7
    assert C.geom_eq(C.from_wkb(rows[1]["geometry"]), C.point(5, 6))
    # bare geometry accepted
    bare = read_geojson('{"type": "Point", "coordinates": [1, 2]}')
    assert C.geom_eq(C.from_wkb(bare[0]["geometry"]), C.point(1, 2))
    # garbage rejected
    with pytest.raises(ValueError):
        read_geojson('{"type": "Nope"}')


def test_catalog_selection_falls_back_without_iceberg(spark, tmp_path):
    # this sandbox has no Iceberg runtime jar: detection must return
    # False and catalog_for must hand back the parquet+manifest catalog
    from geospark.run.pipeline import SnapshotCatalog, catalog_for, iceberg_available

    assert iceberg_available(spark) is False
    cat = catalog_for(spark, str(tmp_path / "cat"))
    assert isinstance(cat, SnapshotCatalog)


def test_geojson_distributed_matches_driver(spark, tmp_path):
    """read_geojson_spark (stream-split → ndjson parts → executor
    parse) returns the same rows as the driver parser, across
    FeatureCollection, ndjson, and awkward content (strings containing
    '"features"', escapes, nested properties, null geometry)."""
    import json

    import pandas as pd

    from geospark.geom import core as C
    from geospark.io.geojson import geojson_df, read_geojson_spark

    n = 137
    feats = []
    for i in range(n):
        feats.append(
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [float(i), float(i % 5)]},
                "properties": {
                    "k": i,
                    "name": f'say "features" {i}\n{{brace}}',
                    "frac": i * 0.25,
                },
            }
        )
    feats.append(
        {
            "type": "Feature",
            "geometry": None,
            "properties": {"k": n, "name": "nogeom", "frac": None},
        }
    )
    fc = {"type": "FeatureCollection", "features": feats}
    p = tmp_path / "fc.json"
    p.write_text(json.dumps(fc, indent=1))

    dist = read_geojson_spark(spark, str(p), features_per_part=25)
    drv = geojson_df(spark, str(p))
    a = dist.toPandas().sort_values("k").reset_index(drop=True)
    b = drv.toPandas().sort_values("k").reset_index(drop=True)
    assert list(a["k"]) == list(b["k"])
    assert list(a["name"]) == list(b["name"])
    ga = [None if g is None else C.to_wkt(C.from_wkb(bytes(g))) for g in a["geometry"]]
    gb = [None if g is None else C.to_wkt(C.from_wkb(bytes(g))) for g in b["geometry"]]
    assert ga == gb
    # >1 task: FileScan packs tiny parts by bytes (openCost), so the
    # exact count is byte-driven; multi-GB inputs split further
    assert dist.rdd.getNumPartitions() >= 2

    # ndjson form parses directly (no staging)
    nd = tmp_path / "f.ndjson"
    nd.write_text("\n".join(json.dumps(f) for f in feats))
    c = (
        read_geojson_spark(spark, str(nd))
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert list(c["k"]) == list(a["k"])


def test_geojson_splitter_root_anchored_and_bounded(spark, tmp_path):
    """The stream splitter must take the ROOT object's features array,
    not a nested 'features' key inside a foreign member (RFC 7946
    allows foreign members), and the ndjson sniff must not parse a
    single-line collection on the driver."""
    import json

    from geospark.io.geojson import _iter_feature_strings, read_geojson_spark

    fc = {
        "type": "FeatureCollection",
        "metadata": {"features": [{"a": 1}, {"b": 2}], "note": 'say "features" '},
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [float(i), 2.0]},
                "properties": {"k": i},
            }
            for i in range(30)
        ],
    }
    p = tmp_path / "decoy.json"
    p.write_text(json.dumps(fc))  # single line — json.dump default shape

    with open(p) as fh:
        feats = [json.loads(s) for s in _iter_feature_strings(fh, chunk_size=64)]
    assert len(feats) == 30
    assert [f["properties"]["k"] for f in feats] == list(range(30))

    got = read_geojson_spark(spark, str(p), features_per_part=7).toPandas()
    assert sorted(got["k"]) == list(range(30))

    # empty features array → driver fallback path, no crash
    p2 = tmp_path / "empty.json"
    p2.write_text(json.dumps({"type": "FeatureCollection", "features": []}))
    assert read_geojson_spark(spark, str(p2)).toPandas().shape[0] == 0


def test_geojson_escaped_key_decoy():
    """A root key that normalizes to 'features' via an escape (e.g.
    "features\\n") must NOT hijack the split."""
    import io
    import json

    from geospark.io.geojson import _iter_feature_strings

    doc = (
        '{"type": "FeatureCollection", "features\\n": [{"fake": 1}], '
        '"features": [{"type": "Feature", "geometry": null, '
        '"properties": {"k": 7}}]}'
    )
    for cs in (1, 5, 1 << 20):
        feats = [json.loads(s) for s in _iter_feature_strings(io.StringIO(doc), chunk_size=cs)]
        assert len(feats) == 1 and feats[0]["properties"]["k"] == 7, cs


def test_geojson_ndjson_huge_first_line(spark, tmp_path):
    """ndjson whose FIRST line exceeds the sniff cap must still route
    to the distributed line parser (capped sniff → splitter finds no
    root features array → ndjson), never a driver json.loads of the
    whole multi-document file."""
    import json

    # a single Feature with a ~5 MB LineString (sniff cap is 4 MB)
    n_pts = 320_000
    big = {
        "type": "Feature",
        "geometry": {
            "type": "LineString",
            "coordinates": [[float(i % 997), float(i % 991)] for i in range(n_pts)],
        },
        "properties": {"k": 0},
    }
    small = {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
        "properties": {"k": 1},
    }
    p = tmp_path / "huge.ndjson"
    with open(p, "w") as fh:
        fh.write(json.dumps(big) + "\n")
        fh.write(json.dumps(small) + "\n")
    assert p.stat().st_size > (4 << 20)

    from geospark.io.geojson import read_geojson_spark

    got = read_geojson_spark(spark, str(p)).toPandas().sort_values("k")
    assert list(got["k"]) == [0, 1]
    assert got.iloc[0]["geometry"] is not None and len(bytes(got.iloc[0]["geometry"])) > 2_000_000


def test_geojson_nonobject_feature_element_raises(spark, tmp_path):
    """ADVICE r4: a non-object element in the features array (string,
    nested array) must raise instead of a stray ']' inside it silently
    dropping every remaining feature."""
    import json

    import pytest

    feat = {"type": "Feature", "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
            "properties": {"k": 0}}
    for bad_elem in ('"str]ing"', "[1, 2]"):
        doc = '{"type": "FeatureCollection", "features": [%s, %s]}' % (
            bad_elem, json.dumps(feat))
        p = tmp_path / "bad.json"
        p.write_text(doc)
        from geospark.io.geojson import read_geojson_spark

        with pytest.raises(ValueError, match="non-object element"):
            read_geojson_spark(spark, str(p))


def test_geojson_staged_dir_cache_and_bound(spark, tmp_path):
    """ADVICE r4 + r5: staged ndjson dirs are reused per (path, mtime)
    and the LRU bounds REUSE only — eviction past the cap must NOT
    delete the directory (previously-returned DataFrames lazily
    re-read their part files on every action; eager rmtree made a 5th
    distinct FeatureCollection break earlier DataFrames with
    FileNotFound).  Deletion belongs to the atexit hook."""
    import json
    import os

    from geospark.io import geojson as gj

    gj._STAGED_DIRS.clear()

    def fc(path, k):
        doc = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "geometry": {"type": "Point", "coordinates": [float(k), 2.0]},
             "properties": {"k": k}}]}
        path.write_text(json.dumps(doc))

    p0 = tmp_path / "a.json"
    fc(p0, 0)
    read_geojson_spark = gj.read_geojson_spark
    df0 = read_geojson_spark(spark, str(p0))
    df0.count()
    assert len(gj._STAGED_DIRS) == 1
    d0 = next(iter(gj._STAGED_DIRS.values()))[0]
    read_geojson_spark(spark, str(p0)).count()  # reuse, no new dir
    assert len(gj._STAGED_DIRS) == 1
    assert next(iter(gj._STAGED_DIRS.values()))[0] == d0
    # exceed the cap: oldest entry forgotten, but the dir SURVIVES and
    # the DataFrame staged from it still re-executes
    for i in range(1, gj._STAGED_DIRS_MAX + 1):
        p = tmp_path / f"m{i}.json"
        fc(p, i)
        read_geojson_spark(spark, str(p)).count()
    assert len(gj._STAGED_DIRS) == gj._STAGED_DIRS_MAX
    assert os.path.isdir(d0)
    assert df0.count() == 1


def test_gpkg_scan_column_name_collision_falls_back(spark, tmp_path):
    """ADVICE r4: a source column named table/srid (or a non-geometry
    geom) collides with the scan's synthesized columns — the
    synthesized column wins, on both placements."""
    import sqlite3

    from geospark.io import gpkg

    p = str(tmp_path / "c.gpkg")
    con = sqlite3.connect(p)
    gpkg._bootstrap(con)
    con.execute('CREATE TABLE t (fid INTEGER PRIMARY KEY, "table" TEXT, v INTEGER)')
    con.execute("INSERT INTO gpkg_contents (table_name, data_type, identifier) VALUES ('t','attributes','t')")
    con.executemany('INSERT INTO t ("table", v) VALUES (?, ?)', [("x", 1), ("y", 2)])
    con.commit()
    con.close()
    for distributed in (True, False):
        got = gpkg.read_gpkg(spark, p, "t", distributed=distributed).toPandas()
        assert list(got.columns) == ["v", "table"]
        assert sorted(got["v"]) == [1, 2]
        assert set(got["table"]) == {"t"}


def test_gpkg_scan_affinity_mismatch(spark, tmp_path):
    """ADVICE r4: SQLite allows REAL/TEXT values in INTEGER-declared
    columns; the distributed scan must coerce losslessly (5.0 → 5) and
    raise on lossy values (2.5) instead of silently truncating through
    Arrow with safecheck off."""
    import sqlite3

    import pytest

    from geospark.io import gpkg
    from geospark.io.gpb import GpbError

    p = str(tmp_path / "aff.gpkg")
    con = sqlite3.connect(p)
    gpkg._bootstrap(con)
    con.execute("CREATE TABLE t (fid INTEGER PRIMARY KEY, v INTEGER)")
    con.execute("INSERT INTO gpkg_contents (table_name, data_type, identifier) VALUES ('t','attributes','t')")
    con.executemany("INSERT INTO t (v) VALUES (?)", [(1,), (5.0,), (None,)])
    con.commit()
    con.close()
    got = gpkg.read_gpkg(spark, p, "t").toPandas()
    assert sorted(x for x in got["v"] if x == x and x is not None) == [1, 5]

    con = sqlite3.connect(p)
    con.execute("INSERT INTO t (v) VALUES (2.5)")
    con.commit()
    con.close()
    with pytest.raises(Exception, match="INTEGER-declared"):
        gpkg.read_gpkg(spark, p, "t").toPandas()


def test_gpkg_scan_bigint_beyond_2_53_with_nulls(spark, tmp_path):
    """Code-review r5: int64+NULL in one range promoted the pandas
    column to float64 BEFORE the storage-class coercion, silently
    rounding values beyond 2^53.  The distributed scan must return
    them exactly."""
    import sqlite3

    from geospark.io import gpkg

    big = 2**53 + 1
    p = str(tmp_path / "big.gpkg")
    con = sqlite3.connect(p)
    gpkg._bootstrap(con)
    con.execute("CREATE TABLE t (fid INTEGER PRIMARY KEY, v INTEGER)")
    con.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, identifier) VALUES ('t','attributes','t')"
    )
    con.executemany("INSERT INTO t (v) VALUES (?)", [(big,), (None,), (2**60 + 3,)])
    con.commit()
    con.close()
    got = sorted(
        r["v"] for r in gpkg.read_gpkg(spark, p, "t").collect() if r["v"] is not None
    )
    assert got == [big, 2**60 + 3]
