"""GeoPackage source & sink over the stdlib sqlite3 driver.

Reference surface (gpkg.clj): open (per-table iterator + optional
reprojection + column projection + rowids), write (metadata bootstrap,
SRS rows, batched inserts, extent tracking, if-exists modes), amend
(join-update by rowid with 4 methods), table-names / column-names /
geometry-column introspection, drop-table.

Spark mapping: the GeoPackage file is a *boundary* format — read
lands in a DataFrame (geometry re-encoded as plain WKB + srid), write
encodes rows on executors and inserts them from the driver (SQLite is
single-writer).  One decode per direction: the read's _range_pdf and
the write's _convert_batch run in executor tasks when those share the
driver's filesystem (_shares_driver_fs).  Otherwise the driver runs
the read's decode itself, and the write's encoded rows stream to the
driver through `toLocalIterator()` (reference batch size 4000,
gpkg.clj:1074).
Engine-internal storage stays parquet/snapshot tables (SURVEY.md
§2.A).
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import sqlite3
import tempfile
from typing import Dict, List, NamedTuple, Optional, Tuple

import numpy as np
import pandas as pd

from ..geom import core as gc
from . import gpb
from .gpkg_validate import _GEOM_TYPE_NAMES as _GEOMETRY_DECLS

APPLICATION_ID = 0x47504B47  # "GPKG"
USER_VERSION = 10300

WGS84_DEF = (
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]'
)
BNG_DEF = (
    'PROJCS["OSGB 1936 / British National Grid",GEOGCS["OSGB 1936",'
    'DATUM["OSGB_1936",SPHEROID["Airy 1830",6377563.396,299.3249646]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Transverse_Mercator"]]'
)


def _bootstrap(con: sqlite3.Connection):
    """Create the GeoPackage core metadata (spec tables + PRAGMAs +
    default SRS rows; reference gpkg.clj:221-244)."""
    con.execute(f"PRAGMA application_id = {APPLICATION_ID}")
    con.execute(f"PRAGMA user_version = {USER_VERSION}")
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
             srs_name TEXT NOT NULL, srs_id INTEGER NOT NULL PRIMARY KEY,
             organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
             definition TEXT NOT NULL, description TEXT)"""
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_contents (
             table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,
             identifier TEXT UNIQUE, description TEXT DEFAULT '',
             last_change DATETIME NOT NULL DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),
             min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
             srs_id INTEGER,
             CONSTRAINT fk_gc_r_srs_id FOREIGN KEY (srs_id) REFERENCES gpkg_spatial_ref_sys(srs_id))"""
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
             table_name TEXT NOT NULL, column_name TEXT NOT NULL,
             geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
             z TINYINT NOT NULL, m TINYINT NOT NULL,
             CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name),
             CONSTRAINT fk_gc_tn FOREIGN KEY (table_name)
               REFERENCES gpkg_contents(table_name),
             CONSTRAINT fk_gc_srs FOREIGN KEY (srs_id)
               REFERENCES gpkg_spatial_ref_sys(srs_id))"""
    )
    for srs_id, name, org_id, definition in [
        (-1, "undefined cartesian", -1, "undefined"),
        (0, "undefined geographic", 0, "undefined"),
        (4326, "WGS 84", 4326, WGS84_DEF),
    ]:
        con.execute(
            "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,NULL)",
            (name, srs_id, "EPSG" if srs_id > 0 else "NONE", org_id, definition),
        )


def _ensure_srs(con: sqlite3.Connection, srid: int):
    if srid == 27700:
        con.execute(
            "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,NULL)",
            ("OSGB 1936 / British National Grid", 27700, "EPSG", 27700, BNG_DEF),
        )
    elif srid not in (0, -1, 4326):
        con.execute(
            "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,NULL)",
            (f"EPSG:{srid}", srid, "EPSG", srid, "undefined"),
        )


def table_names(path: str, spatial_only: bool = False) -> List[str]:
    """User tables (gpkg.clj:311-328)."""
    con = sqlite3.connect(path)
    try:
        if _has_table(con, "gpkg_contents"):
            rows = con.execute(
                "SELECT table_name FROM gpkg_contents"
                + (" WHERE data_type='features'" if spatial_only else "")
            ).fetchall()
            return [r[0] for r in rows]
        if spatial_only:
            # no gpkg_contents → provably no registered spatial tables
            return []
        rows = con.execute(
            "SELECT name FROM sqlite_master WHERE type='table' AND name NOT LIKE 'gpkg_%' AND name NOT LIKE 'sqlite_%' AND name NOT LIKE 'rtree_%'"
        ).fetchall()
        return [r[0] for r in rows]
    finally:
        con.close()


def _has_table(con, name) -> bool:
    return (
        con.execute(
            "SELECT 1 FROM sqlite_master WHERE type='table' AND name=?", (name,)
        ).fetchone()
        is not None
    )


def geometry_column(path: str, table: str) -> Optional[Tuple[str, str, int]]:
    """(column, type name, srid) for a spatial table (gpkg.clj:330-362)."""
    con = sqlite3.connect(path)
    try:
        if not _has_table(con, "gpkg_geometry_columns"):
            return None
        row = con.execute(
            "SELECT column_name, geometry_type_name, srs_id FROM gpkg_geometry_columns WHERE table_name=?",
            (table,),
        ).fetchone()
        return tuple(row) if row else None
    finally:
        con.close()


def column_names(path: str, table: str) -> List[str]:
    con = sqlite3.connect(path)
    try:
        return [r[1] for r in con.execute(f'PRAGMA table_info("{table}")')]
    finally:
        con.close()


def _spark_type_for_decl(decl: str) -> str:
    """SQLite declared type → Spark type.  Total: every declaration
    maps, by sqlite3's type affinity rules (sqlite.org/datatype3.html
    §3.1) tested in this order:

      BOOLEAN                              → bigint (sqlite3 returns 0/1)
      a GeoPackage geometry type name (GEOMETRY, POINT, …,
        GEOMETRYCOLLECTION and the non-linear extension's CURVE, …)
                                           → binary (the GP blob);
        tested before the INT rule, since POINT contains "INT"
      DATE…, …TIME…                         → string (ISO text)
      …INT…                                → bigint
      …CHAR…, …CLOB…, …TEXT…               → string
      …BLOB…, or no declared type          → binary
      anything else: REAL, FLOAT, DOUBLE and the other NUMERIC-affinity
        declarations (NUMERIC, DECIMAL(10,2), …) → double

    A value whose storage class differs from its column's mapped type
    is converted when the conversion is exact and refused otherwise
    (_coerce_storage_classes)."""
    d = (decl or "").strip().upper()
    if d == "BOOLEAN":
        return "bigint"
    if d in _GEOMETRY_DECLS:
        return "binary"
    if d.startswith("DATE") or "TIME" in d:
        return "string"
    if "INT" in d:
        return "bigint"
    if any(k in d for k in ("CHAR", "CLOB", "TEXT")):
        return "string"
    if "BLOB" in d or d == "":
        return "binary"
    return "double"


class _ScanPlan(NamedTuple):
    """Everything one decode of a table's rowid range needs."""

    table: str
    fields: List[Tuple[str, str]]  # (output name, Spark type), in order
    src_cols: List[str]  # the SQLite select list
    gcol: Optional[Tuple[str, str, int]]  # geometry_column(), or None
    to_srid: Optional[int]
    rowids: bool
    bbox: Optional[Tuple[float, float, float, float]]
    rtree: Optional[str]  # the rtree index that drives a bbox read

    def schema(self) -> str:
        return ", ".join(f"`{n}` {t}" for n, t in self.fields)


def _table_plan(path: str, table: str, to_srid, columns, rowids, bbox=None) -> _ScanPlan:
    """Driver-side metadata pass over one table: the read's Spark
    schema, the columns to select and the geometry column.

    Output columns: rowid (rowids=True), the table's columns in order
    with `fid` left out and the geometry column renamed `geom`, srid
    (spatial tables), table.  A source column named like a synthesized
    column (srid and geom on a spatial table, rowid with rowids=True,
    table always; compared case-insensitively, as Spark resolves
    names) is not selected, so the synthesized column wins.  Column
    types follow _spark_type_for_decl."""
    gcol = geometry_column(path, table)
    gname = gcol[0] if gcol else None
    if bbox is not None and gcol is None:
        raise ValueError(f"bbox read requested but table {table!r} has no geometry column")
    rtree = f"rtree_{table}_{gname}" if bbox is not None else None
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        info = con.execute(f'PRAGMA table_info("{table}")').fetchall()
        if rtree is not None and not _has_table(con, rtree):
            rtree = None
    finally:
        con.close()
    synthesized = {"table"}
    if gcol is not None:
        synthesized |= {"srid", "geom"}
    if rowids:
        synthesized.add("rowid")
    fields = [("rowid", "bigint")] if rowids else []
    source = {}
    for _cid, name, decl, _nn, _dflt, _pk in info:
        if name == gname:
            fields.append(("geom", "binary"))
            source["geom"] = name
        elif name != "fid" and name.lower() not in synthesized:
            fields.append((name, _spark_type_for_decl(decl)))
            source[name] = name
    if gcol is not None:
        fields.append(("srid", "bigint"))
    if columns:
        keep = set(columns) | {"geom", "srid", "rowid"}
        fields = [f for f in fields if f[0] in keep]
    fields.append(("table", "string"))
    return _ScanPlan(
        table, fields, [source[n] for n, _ in fields if n in source],
        gcol, to_srid, rowids, bbox, rtree,
    )


def _rowid_ranges(path: str, table: str, rows_per_partition: int):
    """Balanced [lo, hi] rowid ranges — even heavily sparse or
    clustered rowids split into ~rows_per_partition-row tasks.

    rows_per_partition must be >= 1 (an OFFSET of 0 would return the
    previous bound itself and loop forever).

    Each boundary probe RESUMES from the previous boundary
    (`WHERE rowid >= prev ... OFFSET rpp`), so every probe walks at
    most rows_per_partition index entries and the whole pass is O(n)
    driver work — an absolute-OFFSET probe (`OFFSET i*rpp`) walks
    i·rpp entries per probe, O(n·k) total, a minutes-long driver
    stall on a 100 M-row table."""
    if rows_per_partition < 1:
        raise ValueError(f"rows_per_partition must be >= 1, got {rows_per_partition}")
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        row = con.execute(f'SELECT min(rowid), max(rowid) FROM "{table}"').fetchone()
        lo, hi = row
        if lo is None:
            return []
        bounds = [int(lo)]
        while True:
            b = con.execute(
                f'SELECT rowid FROM "{table}" WHERE rowid >= ? '
                "ORDER BY rowid LIMIT 1 OFFSET ?",
                (bounds[-1], rows_per_partition),
            ).fetchone()
            if b is None or int(b[0]) <= bounds[-1]:
                break  # defensive: a probe must always advance
            bounds.append(int(b[0]))
        bounds.append(int(hi) + 1)
        return [(bounds[i], bounds[i + 1] - 1) for i in range(len(bounds) - 1)]
    finally:
        con.close()


def _env_intersects(env, bbox) -> bool:
    """Envelope (xmin, ymin, xmax, ymax) intersects bbox — the ONE
    bbox predicate of the indexed and unindexed reads (closed-interval:
    edge touches count)."""
    return (
        env is not None
        and env[0] <= bbox[2]
        and env[2] >= bbox[0]
        and env[1] <= bbox[3]
        and env[3] >= bbox[1]
    )


def _coerce_storage_classes(pdf, fields, table):
    """SQLite permits values whose storage class differs from the
    column's declared affinity (a REAL or TEXT value in an
    INTEGER-declared column); with Arrow's safecheck off (the Spark
    default) a non-integral float would silently TRUNCATE to bigint.
    Exact conversions are applied in place: an integral REAL to
    bigint, an INTEGER of magnitude at most 2^53 to double.  Anything
    else raises with the table and column."""
    from .gpb import GpbError

    for name, t in fields:
        if name in ("geom", "srid", "table", "rowid") or name not in pdf.columns:
            continue
        col = pdf[name]
        if t == "bigint":
            if col.dtype.kind == "i":
                continue

            def fix_int(v):
                if v is None or isinstance(v, int):
                    return v
                if isinstance(v, float):
                    if v != v:
                        return None  # NULL promoted to NaN by pandas float64
                    if v.is_integer():
                        return int(v)
                    raise GpbError(
                        f"GPKG {table}.{name}: non-integral REAL value {v!r} in an "
                        "INTEGER-declared column"
                    )
                raise GpbError(
                    f"GPKG {table}.{name}: {type(v).__name__} value in an "
                    "INTEGER-declared column"
                )

            # explicit object dtype: Series.map would re-infer an
            # int+None result to float64 and round >2^53 values —
            # the very corruption this function exists to stop
            pdf[name] = pd.Series(
                [fix_int(v) for v in col], index=col.index, dtype=object
            )
        elif t == "double":
            if col.dtype.kind == "f":
                continue

            def fix_float(v):
                if v is None or isinstance(v, float):
                    return v
                if isinstance(v, int):
                    if abs(v) <= 2**53:
                        return float(v)
                    raise GpbError(
                        f"GPKG {table}.{name}: integer {v} in a REAL- or NUMERIC-declared "
                        "column has no exact double"
                    )
                raise GpbError(
                    f"GPKG {table}.{name}: {type(v).__name__} value in a "
                    "REAL- or NUMERIC-declared column"
                )

            pdf[name] = col.map(fix_float)
        elif t == "string":
            bad = col.map(lambda v: v is not None and not isinstance(v, str))
            if bad.any():
                v = col[bad].iloc[0]
                raise GpbError(
                    f"GPKG {table}.{name}: {type(v).__name__} value in a "
                    "TEXT-declared column"
                )
        elif t == "binary":
            bad = col.map(lambda v: v is not None and not isinstance(v, (bytes, bytearray, memoryview)))
            if bad.any():
                v = col[bad].iloc[0]
                raise GpbError(
                    f"GPKG {table}.{name}: {type(v).__name__} value in a "
                    "BLOB- or geometry-declared column"
                )


def _range_pdf(con, plan: _ScanPlan, lo: int, hi: int) -> pd.DataFrame:
    """The one decode of read_gpkg: rows with rowid in [lo, hi] of
    plan.table → a pandas frame with plan.fields' columns, geometry
    re-encoded as plain WKB (reprojected when plan.to_srid asks).  A
    scan task runs it on its own connection; a driver-side read runs
    it over every range.

    With plan.bbox, only rows whose geometry envelope intersects it
    (in the FILE's native CRS).  With an rtree index (plan.rtree) the
    candidates come from an index join inside the SQL, so
    non-candidates are never fetched or decoded, followed by an exact
    envelope refine (the rtree stores outward-rounded float32 bounds).
    Without an index every row in the range decodes its envelope."""
    table, gcol, bbox, rowids = plan.table, plan.gcol, plan.bbox, plan.rowids
    # explicit alias: bare `SELECT rowid, ...` would NAME the rowid
    # column after the integer pk it aliases (`fid`), colliding with
    # the pk column read via the select list
    if plan.rtree is not None:
        # rtree candidate join: non-candidates never leave SQLite.
        # CROSS JOIN pins the join ORDER — the rtree virtual table
        # drives (its index takes the id-range + bbox constraints
        # together), then each candidate makes ONE rowid probe into
        # the base table.  The reversed order (base table driving)
        # degenerates to a full rtree scan PER ROW of the range
        # (EXPLAIN QUERY PLAN verified).
        sel = ", ".join(f'"{table}"."{c}"' for c in plan.src_cols) or "NULL"
        if rowids:
            sel = f'"{table}".rowid AS "__gpkg_rowid", ' + sel
        rows = con.execute(
            f'SELECT {sel} FROM "{plan.rtree}" __rt '
            f'CROSS JOIN "{table}" ON "{table}".rowid = __rt.id '
            f"WHERE __rt.id >= ? AND __rt.id <= ? "
            f"AND __rt.maxx >= ? AND __rt.minx <= ? "
            f"AND __rt.maxy >= ? AND __rt.miny <= ?",
            (lo, hi, bbox[0], bbox[2], bbox[1], bbox[3]),
        )
    else:
        sel = ", ".join(f'"{c}"' for c in plan.src_cols) or "NULL"
        if rowids:
            sel = 'rowid AS "__gpkg_rowid", ' + sel
        rows = con.execute(
            f'SELECT {sel} FROM "{table}" WHERE rowid >= ? AND rowid <= ?', (lo, hi)
        )
    names = [d[0] for d in rows.description]
    data = rows.fetchall()
    # numeric columns holding another storage class are built with
    # object dtype: the plain constructor promotes int64+NULL to
    # float64 and an int beyond 2^53 to a rounded float BEFORE the
    # storage-class coercion below could notice
    numeric = {n: t for n, t in plan.fields if t in ("bigint", "double")}
    if data:
        arrays = list(zip(*data))

        def col_for(i, nm):
            vals = arrays[i]
            t = numeric.get(nm)
            if (t == "bigint" and any(v is None or type(v) is float for v in vals)) or (
                t == "double" and any(type(v) is int for v in vals)
            ):
                return pd.Series(vals, dtype=object)
            return pd.Series(vals)

        pdf = pd.DataFrame({nm: col_for(i, nm) for i, nm in enumerate(names)})
    else:
        pdf = pd.DataFrame(columns=names)
    if rowids:
        pdf = pdf.rename(columns={"__gpkg_rowid": "rowid"})
    if gcol is not None and gcol[0] in pdf.columns:
        col, _tname, srid = gcol
        to_srid = plan.to_srid
        geoms = []
        keep = [] if bbox is not None else None
        if to_srid is None:
            # no reprojection → the blob's payload IS the WKB the
            # engine wants: strip the GP header instead of the
            # decode→re-encode round trip (measured 10× on the
            # per-task decode cost; the embedded WKB passes through
            # verbatim, exactly what the writer stored).
            # payload_offset validates magic/envelope/extended-bit so
            # corrupt or ExtendedGeoPackageBinary blobs still fail AT
            # THE SCAN with context, and the first payload byte is
            # checked to be a WKB byte-order marker
            from .gpb import GpbError, payload_offset

            for b in pdf[col]:
                if b is None:
                    geoms.append(None)
                    if keep is not None:
                        keep.append(False)
                    continue
                b = bytes(b)
                off = payload_offset(b)
                if len(b) <= off or b[off] not in (0, 1):
                    raise GpbError(
                        f"GP blob payload is not WKB (first byte "
                        f"{b[off:off + 1]!r})"
                    )
                payload = b[off:]
                if keep is not None:
                    # exact refine (the rtree candidates carry
                    # outward-rounded float32 bounds)
                    keep.append(_env_intersects(gc.from_wkb(payload).envelope(), bbox))
                geoms.append(payload)
        else:
            for b in pdf[col]:
                if b is None:
                    geoms.append(None)
                    if keep is not None:
                        keep.append(False)
                    continue
                g, g_srid = gpb.decode(bytes(b))
                if keep is not None:
                    # bbox is in the FILE's native CRS: test the
                    # envelope BEFORE reprojection, and skip the
                    # transform for dropped rows
                    hit = _env_intersects(g.envelope(), bbox)
                    keep.append(hit)
                    if not hit:
                        geoms.append(None)
                        continue
                if g_srid != to_srid:
                    from ..crs.osgb import reproject

                    g = reproject(g, g_srid, to_srid)
                geoms.append(gc.to_wkb(g))
        pdf[col] = pd.Series(geoms, index=pdf.index, dtype=object)
        pdf = pdf.rename(columns={col: "geom"})
        pdf["srid"] = to_srid if to_srid is not None else srid
        if keep is not None:
            pdf = pdf.loc[np.asarray(keep, dtype=bool)]
    pdf["table"] = table
    _coerce_storage_classes(pdf, plan.fields, table)
    return pdf.reindex(columns=[n for n, _ in plan.fields])


def _scan_table(spark, path: str, plan: _ScanPlan, rows_per_partition: int, distributed: bool):
    """One table → DataFrame with plan.schema(), by _range_pdf over
    balanced rowid ranges.

    distributed=True: one scan task per range; each opens the file
    read-only+immutable (the reference's concurrent-reader discipline,
    gpkg.clj:144-147), so driver memory is O(#ranges), never the
    table.  distributed=False: executors cannot open `path`, so the
    driver decodes every range itself and hands Spark the rows."""
    schema = plan.schema()
    ranges = _rowid_ranges(path, plan.table, rows_per_partition)
    if not distributed:
        con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        try:
            pdfs = [_range_pdf(con, plan, lo, hi) for lo, hi in ranges]
        finally:
            con.close()
        pdf = pd.concat(pdfs, ignore_index=True) if pdfs else None
        if pdf is None or pdf.empty:
            return spark.createDataFrame([], schema)
        # NaN → None: a NULL stays NULL whether or not Spark converts
        # the frame through Arrow (which does this itself)
        return spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None), schema)
    if not ranges:
        return spark.createDataFrame([], schema)
    # exactly ONE range per partition: repartition(n) hash-shuffles a
    # small local relation UNEVENLY (measured 5 ranges landing in one
    # partition → a 5× critical path); parallelize with n slices is
    # deterministic 1:1
    rng_df = spark.createDataFrame(
        spark.sparkContext.parallelize(ranges, len(ranges)), "lo bigint, hi bigint"
    )

    def scan(batches):
        con = sqlite3.connect(f"file:{path}?mode=ro&immutable=1", uri=True)
        try:
            for pdf in batches:
                for lo, hi in zip(pdf["lo"], pdf["hi"]):
                    yield _range_pdf(con, plan, int(lo), int(hi))
        finally:
            con.close()

    return rng_df.mapInPandas(scan, schema=schema)


def _shares_driver_fs(spark) -> bool:
    """Do executor tasks see the driver's filesystem, so a task can
    open a path the driver names?  Guaranteed only on a local[*]
    master, whose executors run in the driver's machine; a cluster
    whose executors mount the path at the same place must say so
    (read_gpkg(distributed=True), write_gpkg(sink_mode="merge"))."""
    from ..session import local_master

    try:
        return local_master(spark.sparkContext.master)
    except Exception:
        return False


def read_gpkg(
    spark,
    path: str,
    table: Optional[str] = None,
    to_srid: Optional[int] = None,
    columns: Optional[List[str]] = None,
    rowids: bool = False,
    rows_per_partition: int = 250_000,
    distributed: Optional[bool] = None,
    bbox: Optional[Tuple[float, float, float, float]] = None,
):
    """GeoPackage → DataFrame.  Geometry column becomes plain WKB
    `geom` + `srid` int; multiple tables chain (UNION) like the
    reference's chained iterators when table is None.

    bbox = (xmin, ymin, xmax, ymax) in the file's native CRS
    (engine-added windowed read; the reference's open always scans
    whole tables): only rows whose geometry envelope intersects the
    box.  A gpkg_rtree_index on the table turns this into an index
    candidate join inside each range's SQL (+ exact envelope refine);
    without one, every row in range decodes its envelope.

    The driver reads only per-table schema metadata and
    ~n/rows_per_partition rowid range boundaries; one decode
    (_range_pdf: blob→WKB + optional reprojection) turns each range
    into rows.  Column types come from the declared types
    (_spark_type_for_decl), so every table reads with an explicit
    schema, empty ones included; a value that does not fit its
    column's type exactly raises.  Source columns named like the
    synthesized geom/srid/table/rowid columns are not read.

    Where the ranges decode is a filesystem fact, not a second
    implementation: with distributed=True each range is a scan task
    that opens `path` itself, so a multi-GB GeoPackage never
    materializes on the driver — on a multi-machine cluster the file
    must then live on a filesystem all executors mount at the same
    path (NFS, fuse-mounted object store, ...).  With
    distributed=False the driver decodes the ranges.  None (default)
    picks distributed only when the master is local[*]."""
    if distributed is None:
        distributed = _shares_driver_fs(spark)
    if table:
        tables = [table]
    else:
        # a windowed read of a whole file applies to its SPATIAL
        # tables; attribute tables have nothing to window
        tables = table_names(path, spatial_only=bbox is not None)
    if not tables:
        raise ValueError(
            f"no {'spatial ' if bbox is not None else ''}tables to read in {path!r}"
        )
    dfs = [
        _scan_table(
            spark, path, _table_plan(path, t, to_srid, columns, rowids, bbox),
            rows_per_partition, distributed,
        )
        for t in tables
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


RTREE_EXT_URL = "http://www.geopackage.org/spec120/#extension_rtree"


def _register_st_functions(con: sqlite3.Connection):
    """Register the GeoPackage ST_* helper functions on `con` so the
    spec's rtree-maintenance triggers can fire on this connection
    (reference register-gpkg-functions!, gpkg.clj:116-129: the
    triggers call ST_MinX/MaxX/MinY/MaxY/ST_IsEmpty on geometry
    blobs, which plain SQLite lacks).  NULL blob → NULL envelope /
    IsEmpty 1, matching the reference."""

    def _env(blob):
        g, _srid = gpb.decode(bytes(blob))
        return g.envelope()  # None when empty

    def st_is_empty(b):
        if b is None:
            return 1
        g, _srid = gpb.decode(bytes(b))
        return 1 if g.is_empty() else 0

    def mk(i):
        def f(b):
            if b is None:
                return None
            e = _env(b)
            return None if e is None else float(e[i])

        return f

    con.create_function("ST_IsEmpty", 1, st_is_empty, deterministic=True)
    for name, i in (("ST_MinX", 0), ("ST_MinY", 1), ("ST_MaxX", 2), ("ST_MaxY", 3)):
        con.create_function(name, 1, mk(i), deterministic=True)


def _rtree_trigger_sqls(table: str, geom_col: str, rtree: str, pk: str = "fid"):
    """The six rtree-maintenance triggers from the GeoPackage spec
    (reference rtree-trigger-sqls, gpkg.clj:831-861)."""
    t, g, r, k = (f'"{x}"' for x in (table, geom_col, rtree, pk))
    tn = lambda suf: f'"{rtree}{suf}"'
    ins = (
        f"NEW.{k}, ST_MinX(NEW.{g}), ST_MaxX(NEW.{g}), "
        f"ST_MinY(NEW.{g}), ST_MaxY(NEW.{g})"
    )
    return [
        f"CREATE TRIGGER IF NOT EXISTS {tn('_insert')} AFTER INSERT ON {t} "
        f"WHEN (NEW.{g} NOT NULL AND NOT ST_IsEmpty(NEW.{g})) "
        f"BEGIN INSERT OR REPLACE INTO {r} VALUES ({ins}); END",
        f"CREATE TRIGGER IF NOT EXISTS {tn('_update1')} AFTER UPDATE OF {g} ON {t} "
        f"WHEN OLD.{k} = NEW.{k} AND (NEW.{g} NOTNULL AND NOT ST_IsEmpty(NEW.{g})) "
        f"BEGIN INSERT OR REPLACE INTO {r} VALUES ({ins}); END",
        f"CREATE TRIGGER IF NOT EXISTS {tn('_update2')} AFTER UPDATE OF {g} ON {t} "
        f"WHEN OLD.{k} = NEW.{k} AND (NEW.{g} ISNULL OR ST_IsEmpty(NEW.{g})) "
        f"BEGIN DELETE FROM {r} WHERE id = OLD.{k}; END",
        f"CREATE TRIGGER IF NOT EXISTS {tn('_update3')} AFTER UPDATE ON {t} "
        f"WHEN OLD.{k} != NEW.{k} AND (NEW.{g} NOTNULL AND NOT ST_IsEmpty(NEW.{g})) "
        f"BEGIN DELETE FROM {r} WHERE id = OLD.{k}; "
        f"INSERT OR REPLACE INTO {r} VALUES ({ins}); END",
        f"CREATE TRIGGER IF NOT EXISTS {tn('_update4')} AFTER UPDATE ON {t} "
        f"WHEN OLD.{k} != NEW.{k} AND (NEW.{g} ISNULL OR ST_IsEmpty(NEW.{g})) "
        f"BEGIN DELETE FROM {r} WHERE id IN (OLD.{k}, NEW.{k}); END",
        f"CREATE TRIGGER IF NOT EXISTS {tn('_delete')} AFTER DELETE ON {t} "
        f"WHEN OLD.{g} NOT NULL BEGIN DELETE FROM {r} WHERE id = OLD.{k}; END",
    ]


def _ensure_extensions_table(con: sqlite3.Connection):
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_extensions (
             table_name TEXT, column_name TEXT, extension_name TEXT NOT NULL,
             definition TEXT NOT NULL, scope TEXT NOT NULL,
             CONSTRAINT ge_tce UNIQUE (table_name, column_name, extension_name))"""
    )


def _create_spatial_index_structures(con: sqlite3.Connection, table: str, geom_col: str):
    """rtree virtual table + gpkg_extensions row + the six spec
    triggers (reference create-spatial-index!, gpkg.clj:863-876).
    Bulk POPULATION is the caller's job — the sink fills the rtree
    from envelopes already computed on executors instead of letting
    the triggers decode every blob through the python ST functions."""
    rtree = f"rtree_{table}_{geom_col}"
    con.execute(
        f'CREATE VIRTUAL TABLE IF NOT EXISTS "{rtree}" '
        'USING rtree("id", "minx", "maxx", "miny", "maxy")'
    )
    _ensure_extensions_table(con)
    con.execute(
        "INSERT OR IGNORE INTO gpkg_extensions VALUES (?,?,?,?,?)",
        (table, geom_col, "gpkg_rtree_index", RTREE_EXT_URL, "write-only"),
    )
    for sql in _rtree_trigger_sqls(table, geom_col, rtree):
        con.execute(sql)


def _backfill_rtree(con: sqlite3.Connection, table: str, geom_col: str, rtree: str, max_fid: int):
    """Index rows that were ALREADY in `table` before this write
    (advice r5, high): appending with add_spatial_index to a
    pre-existing unindexed table bulk-loads only the new rows'
    envelopes, and read_gpkg(bbox=...) trusts the rtree as the
    candidate set — pre-existing rows would silently vanish from
    windowed reads.  Decodes through the registered ST_* functions
    (slow python-per-row, but only the pre-existing rows pay it)."""
    if max_fid:
        con.execute(
            f'INSERT OR REPLACE INTO "{rtree}" '
            f'SELECT rowid, ST_MinX("{geom_col}"), ST_MaxX("{geom_col}"), '
            f'ST_MinY("{geom_col}"), ST_MaxY("{geom_col}") FROM "{table}" '
            f'WHERE rowid <= ? AND "{geom_col}" IS NOT NULL '
            f'AND NOT ST_IsEmpty("{geom_col}")',
            (max_fid,),
        )


def _next_fid_base(con: sqlite3.Connection, table: str) -> int:
    """The fid the NEXT inserted row will follow: the AUTOINCREMENT
    sequence when present (deletes can leave seq > max(rowid)), else
    max(rowid)."""
    seq = con.execute(
        "SELECT seq FROM sqlite_sequence WHERE name = ?", (table,)
    ).fetchone() if _has_table(con, "sqlite_sequence") else None
    mx = con.execute(f'SELECT COALESCE(MAX(rowid), 0) FROM "{table}"').fetchone()[0]
    return max(seq[0] if seq else 0, mx)


def _sink_conversions(fields):
    """Column groups needing value conversion before a SQLite bind
    (ISO strings for timestamps/dates, 0/1 for booleans;
    gpkg.clj:518), done batch-at-a-time on executors."""
    ts = {f.name for f in fields if f.dataType.typeName() in ("timestamp", "timestamp_ntz")}
    dt = {f.name for f in fields if f.dataType.typeName() == "date"}
    bl = {f.name for f in fields if f.dataType.typeName() == "boolean"}
    return ts, dt, bl


def _nullable_int_names(fields):
    return {
        f.name
        for f in fields
        if f.nullable and f.dataType.typeName() in ("long", "integer", "short", "byte")
    }


def _sink_select_exprs(spatial, geom_col, fields):
    """Input projection for the executor-side sink kernels.  NULLABLE
    INTEGRAL columns ship as digit STRINGS through the Arrow boundary:
    Spark's Arrow→pandas conversion turns an int64 batch that contains
    a null into float64, silently rounding values beyond 2^53 — the
    digit string survives exactly, and SQLite's INTEGER column
    affinity converts it back to the exact integer on insert."""
    from pyspark.sql import functions as F

    exprs = [F.col(geom_col)] if spatial else []
    nn = _nullable_int_names(fields)
    for f in fields:
        if f.name in nn:
            exprs.append(F.col(f.name).cast("string").alias(f.name))
        else:
            exprs.append(F.col(f.name))
    return exprs


def _fold_extent(ext: list, xmin, ymin, xmax, ymax):
    """Widen ext [xmin, ymin, xmax, ymax] in place to cover an envelope
    (xmin None: no geometry, ext unchanged)."""
    if xmin is not None:
        ext[0] = min(ext[0], xmin)
        ext[1] = min(ext[1], ymin)
        ext[2] = max(ext[2], xmax)
        ext[3] = max(ext[3], ymax)


def _convert_batch(pdf, spatial, geom_col, srid, attr_names, ts_names, date_names, bool_names):
    """One Arrow batch → (columns in INSERT order, batch extent).

    Geometry: WKB → (GP blob, envelope fold).  The extent is
    (inf, inf, -inf, -inf) when the batch has no non-empty geometry."""
    cols = []
    ext = (math.inf, math.inf, -math.inf, -math.inf)
    env_rows = []
    if spatial:
        blobs = []
        x0 = y0 = math.inf
        x1 = y1 = -math.inf
        for wkb in pdf[geom_col]:
            if wkb is None:
                blobs.append(None)
                env_rows.append((None, None, None, None))
                continue
            g = gc.from_wkb(bytes(wkb))
            env = g.envelope()
            env_rows.append(env if env else (None, None, None, None))
            if env:
                if env[0] < x0:
                    x0 = env[0]
                if env[1] < y0:
                    y0 = env[1]
                if env[2] > x1:
                    x1 = env[2]
                if env[3] > y1:
                    y1 = env[3]
            blobs.append(gpb.encode(g, srid))
        cols.append(blobs)
        ext = (x0, y0, x1, y1)
    for n in attr_names:
        col = pdf[n]
        if n in ts_names or n in date_names:
            col = [None if pd.isna(v) else v.isoformat() for v in col]
        elif n in bool_names:
            col = [None if pd.isna(v) else int(v) for v in col]
        cols.append(col)
    return cols, ext, env_rows


def _sink_parts_df(df, geom_col: Optional[str], srid: int, fields, tmpdir: str, with_envelope: bool = False):
    """Distributed GeoPackage sink, stage 1: every task encodes its
    partition into its OWN temp SQLite part file (plain rowid table,
    insertion order preserved, one executemany per Arrow batch) and
    reports (pid, path, nrows, extent).

    Requires driver and executors to share a filesystem (local[N], or
    a shared mount) — the caller gates on that.  The driver then
    ATTACH-merges the parts in partition order at C speed (measured
    3.3M rows/s vs 30k rows/s for the per-row toLocalIterator
    stream), which is the write-side mirror of the rowid-range
    distributed scan (this file, _scan_table)."""
    spatial = geom_col is not None and geom_col in df.columns
    with_envelope = with_envelope and spatial
    ts_names, date_names, bool_names = _sink_conversions(fields)
    attr_names = [f.name for f in fields]
    in_cols = ([geom_col] if spatial else []) + attr_names
    n_cols = len(in_cols)
    env_names = ["e0", "e1", "e2", "e3"] if with_envelope else []
    all_names = [f"c{i}" for i in range(n_cols)] + env_names
    part_cols = ", ".join(f'"{c}"' for c in all_names)
    part_ddl = ", ".join(
        ('"c0" BLOB' if spatial and c == "c0" else f'"{c}"') for c in all_names
    )
    ins = f"INSERT INTO data ({part_cols}) VALUES ({','.join('?' * len(all_names))})"

    def kernel(batches):
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(tmpdir, f"gpkg_part_{pid}_{uuid.uuid4().hex}.db")
        con = None
        n = 0
        ext = [math.inf, math.inf, -math.inf, -math.inf]
        try:
            for pdf in batches:
                if con is None:
                    con = sqlite3.connect(path)
                    con.execute("PRAGMA journal_mode = OFF")
                    con.execute("PRAGMA synchronous = OFF")
                    con.execute(f"CREATE TABLE data ({part_ddl})")
                cols, batch_ext, env_rows = _convert_batch(
                    pdf, spatial, geom_col, srid, attr_names,
                    ts_names, date_names, bool_names,
                )
                if with_envelope:
                    # envelope ride-along so the driver can bulk-load
                    # the rtree spatial index without re-decoding
                    cols = cols + [[e[i] for e in env_rows] for i in range(4)]
                con.executemany(ins, zip(*cols))
                n += len(pdf)
                _fold_extent(ext, *batch_ext)
            if con is not None:
                con.commit()
        finally:
            if con is not None:
                con.close()
        if n:
            yield pd.DataFrame(
                {
                    "pid": [pid], "path": [path], "nrows": [n],
                    **{k: [None if math.isinf(v) else v]
                       for k, v in zip(("xmin", "ymin", "xmax", "ymax"), ext)},
                }
            )

    return df.select(*_sink_select_exprs(spatial, geom_col, fields)).mapInPandas(
        kernel,
        schema="pid int, path string, nrows bigint, "
        "xmin double, ymin double, xmax double, ymax double",
    )


def _sink_encode_plan(df, geom_col: Optional[str], srid: int, fields):
    """Executor-side pre-encode stage for the `stream` sink mode (the
    no-shared-filesystem fallback: any cluster, rows return to the
    driver through toLocalIterator).

    Emits, per row, the INSERT-ready tuple:

        [gp_blob, xmin, ymin, xmax, ymax,]  attr0, attr1, ...

    with the same values the merge sink's part files hold
    (_convert_batch: timestamps/dates ISO-formatted, booleans 0/1).
    The envelope doubles ride along per row (NULL for null/empty
    geometry) and the driver folds them into the layer extent while
    it streams batches into executemany: one pass, O(1) driver state,
    no persist/recompute that a separate extent agg job would need,
    and no accumulator (whose update delivery is asynchronous and
    double-counts on task retry).

    Returns (encoded_df, n_prefix_cols)."""
    spatial = geom_col is not None and geom_col in df.columns
    ts_names, date_names, bool_names = _sink_conversions(fields)
    attr_names = [f.name for f in fields]
    ddl_parts = []
    if spatial:
        ddl_parts += [
            "`__gpb` binary", "`__xmin` double", "`__ymin` double",
            "`__xmax` double", "`__ymax` double",
        ]
    nn = _nullable_int_names(fields)
    for f in fields:
        if f.name in ts_names or f.name in date_names or f.name in nn:
            t = "string"
        elif f.name in bool_names:
            t = "bigint"
        else:
            t = f.dataType.simpleString()
        ddl_parts.append(f"`{f.name}` {t}")
    out_schema = ", ".join(ddl_parts)

    def kernel(batches):
        for pdf in batches:
            cols, _ext, env_rows = _convert_batch(
                pdf, spatial, geom_col, srid, attr_names,
                ts_names, date_names, bool_names,
            )
            out = {}
            if spatial:
                out["__gpb"] = pd.Series(cols.pop(0), dtype=object)
                for i, n in enumerate(("__xmin", "__ymin", "__xmax", "__ymax")):
                    out[n] = pd.Series([e[i] for e in env_rows], dtype="float64")
            for n, col in zip(attr_names, cols):
                out[n] = col if isinstance(col, pd.Series) else pd.Series(col, dtype=object)
            yield pd.DataFrame(out)

    return (
        df.select(*_sink_select_exprs(spatial, geom_col, fields)).mapInPandas(kernel, schema=out_schema),
        (5 if spatial else 0),
    )


def _attach_copy(con: sqlite3.Connection, part_path: str, sql: str, params=()):
    """Run one INSERT … SELECT over the part file at part_path,
    ATTACHed as __gpkg_part, and commit it.  ATTACH cannot run inside
    a transaction, so the caller has none open."""
    con.execute("ATTACH ? AS __gpkg_part", (part_path,))
    try:
        con.execute(sql, params)
        con.commit()
    finally:
        # a failed INSERT leaves an open implicit transaction, in which
        # DETACH raises 'database is locked' and masks the root cause -
        # roll back first (no-op when clean)
        con.rollback()
        con.execute("DETACH __gpkg_part")


@contextlib.contextmanager
def _part_files(df, geom_col: Optional[str], srid: int, fields, with_envelope: bool = False):
    """Encode df into one temp part file per partition
    (_sink_parts_df), yield the parts' rows in partition order, and
    delete the files afterwards."""
    tmpdir = tempfile.mkdtemp(prefix="gpkg_parts_")
    try:
        parts = _sink_parts_df(df, geom_col, srid, fields, tmpdir, with_envelope=with_envelope)
        yield sorted(parts.collect(), key=lambda r: r.pid)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)


def _sink_merge(con, df, table, ins_cols, existed, geom_col, srid, fields, ext, rtree, pre_max_fid):
    """merge sink: part files encoded on executors, ATTACH-merged in
    partition order.  rtree: the name of a NEW spatial index to
    bulk-load from the parts' envelopes, or None.

    Each part merge commits on its own (ATTACH cannot run inside a
    transaction); on failure the pre-merge rows and AUTOINCREMENT
    high-water mark are restored, emulating the single-commit
    atomicity of the stream sink."""
    with _part_files(df, geom_col, srid, fields, with_envelope=rtree is not None) as parts:
        # the part encode ran first: a failure there left the metadata
        # transaction uncommitted, so the table never appears
        con.commit()
        start_max = con.execute(f'SELECT COALESCE(MAX(rowid), 0) FROM "{table}"').fetchone()[0]
        # pre-merge AUTOINCREMENT high-water mark, for the failure
        # restore below: resetting to MAX(rowid) would re-enable fid
        # reuse after deletes, and a foreign GPKG without any
        # AUTOINCREMENT table has no sqlite_sequence at all
        start_seq = None
        if _has_table(con, "sqlite_sequence"):
            row = con.execute(
                "SELECT seq FROM sqlite_sequence WHERE name = ?", (table,)
            ).fetchone()
            start_seq = row[0] if row else None
        sel_cols = ", ".join(f'"c{i}"' for i in range(len(ins_cols)))
        ins = (
            f'INSERT INTO "{table}" ({", ".join(chr(34) + c + chr(34) for c in ins_cols)}) '
            f"SELECT {sel_cols} FROM __gpkg_part.data ORDER BY rowid"
        )
        part_bases = []
        try:
            for r in parts:
                part_bases.append((_next_fid_base(con, table), r.path))
                _attach_copy(con, r.path, ins)
                _fold_extent(ext, r.xmin, r.ymin, r.xmax, r.ymax)
        except Exception:
            con.rollback()
            if existed:
                con.execute(f'DELETE FROM "{table}" WHERE rowid > ?', (start_max,))
                if _has_table(con, "sqlite_sequence"):
                    if start_seq is not None:
                        con.execute(
                            "UPDATE sqlite_sequence SET seq = ? WHERE name = ?",
                            (start_seq, table),
                        )
                    else:
                        con.execute("DELETE FROM sqlite_sequence WHERE name = ?", (table,))
            else:
                drop_table_con(con, table)
            con.commit()
            raise
        if rtree is not None:
            # second pass over the retained part files: bulk-load the
            # rtree from the executor-computed envelopes (fid = part
            # base + part rowid, exact because INSERT..SELECT ORDER BY
            # rowid assigns consecutive autoincrement ids), THEN
            # install the maintenance triggers for future writers.
            _create_spatial_index_structures(con, table, geom_col)
            con.commit()
            # rtree inserts revisit interior pages all over the tree;
            # with the default 2 MB page cache the build is
            # I/O-churn-bound.  A build-scoped 1 GB cache measured 55k
            # -> 83k rows/s at 5M rows (round 6; Morton-ordered inserts
            # gained only 1.37x and nothing on top of the cache —
            # negative result recorded in OPTIMIZATION_r06.md).
            con.execute("PRAGMA cache_size = -1048576")
            _backfill_rtree(con, table, geom_col, rtree, pre_max_fid)
            con.commit()
            for base, ppath in part_bases:
                _attach_copy(
                    con, ppath,
                    f'INSERT OR REPLACE INTO "{rtree}" '
                    f'SELECT ? + rowid, "e0", "e2", "e1", "e3" '
                    f'FROM __gpkg_part.data WHERE "e0" IS NOT NULL',
                    (base,),
                )
            con.execute("PRAGMA cache_size = -2000")


def _sink_stream(con, df, table, ins_cols, geom_col, srid, fields, ext, rtree, pre_max_fid, batch_size):
    """stream sink: rows encoded on executors (_sink_encode_plan)
    return through toLocalIterator; the driver folds the envelope
    prefix into the extent and batches executemany (reference batch
    4000, gpkg.clj:1074).  rtree: the name of a NEW spatial index,
    loaded per batch from the rows' envelopes, or None."""
    enc, n_prefix = _sink_encode_plan(df, geom_col, srid, fields)
    ins = (
        f'INSERT INTO "{table}" ({",".join(chr(34) + c + chr(34) for c in ins_cols)}) '
        f'VALUES ({",".join("?" * len(ins_cols))})'
    )
    if rtree is not None:
        con.execute(
            f'CREATE VIRTUAL TABLE IF NOT EXISTS "{rtree}" '
            'USING rtree("id", "minx", "maxx", "miny", "maxy")'
        )
        # build-scoped big page cache (see _sink_merge), restored below
        con.execute("PRAGMA cache_size = -1048576")
        _backfill_rtree(con, table, geom_col, rtree, pre_max_fid)
    batch: List[tuple] = []
    envs: List = []

    def flush():
        if not batch:
            return
        if rtree is None:
            con.executemany(ins, batch)
        else:
            base = _next_fid_base(con, table)
            con.executemany(ins, batch)
            con.executemany(
                f'INSERT OR REPLACE INTO "{rtree}" VALUES (?,?,?,?,?)',
                [(base + 1 + i, e[0], e[2], e[1], e[3]) for i, e in enumerate(envs) if e[0] is not None],
            )
        batch.clear()
        envs.clear()

    # sqlite3 binds bytearray/bool natively: no per-value conversion
    for row in enc.toLocalIterator():
        t = tuple(row)
        if n_prefix:
            _fold_extent(ext, *t[1:5])
            if rtree is not None:
                envs.append(t[1:5])
            t = t[:1] + t[5:]
        batch.append(t)
        if len(batch) >= batch_size:
            flush()
    flush()
    if rtree is not None:
        # rtree rows are already loaded per batch; install the
        # maintenance triggers + extension row for future writers
        _create_spatial_index_structures(con, table, geom_col)
        con.execute("PRAGMA cache_size = -2000")


def write_gpkg(
    df,
    path: str,
    table: str,
    geom_col: Optional[str] = "geom",
    srid: int = 27700,
    if_exists: str = "fail",  # fail | append | delete-rows | drop-table
    batch_size: int = 4000,
    add_spatial_index: bool = False,
    sink_mode: str = "auto",  # auto | merge | stream
):
    """DataFrame → GeoPackage feature/attribute table.

    The encode (WKB decode → envelope → GP blob, ISO timestamps and
    dates, 0/1 booleans) always runs DISTRIBUTED on executors, in one
    batch converter (_convert_batch); SQLite is single-writer, so only
    the final insert is serial (the reference's writer too,
    gpkg.clj:914-962).  How the encoded rows reach the driver's file
    is a shared-filesystem fact, not a second implementation:

      merge  — every task writes its partition into its own temp
               SQLite part file; the driver ATTACH-merges them in
               partition order at C speed (~3.3M rows/s measured —
               ~100× the per-row stream).  REQUIRES driver and
               executors to share a filesystem (local[N] or a shared
               mount), because the part files are created under the
               driver's temp dir.
      stream — rows return via toLocalIterator and the driver is a
               pure batched executemany of batch_size rows (reference
               batch 4000, gpkg.clj:1074).  Works on any cluster
               topology.
      auto   — merge when the master is local[*] (shared FS is then
               guaranteed), else stream.

    Layer extent folds into gpkg_contents (gpkg.clj:903-912,
    1124-1126) in both modes.  Row order (and therefore fid
    assignment) is the DataFrame's partition order in both.

    Failure atomicity: stream commits once at the end (all-or-nothing,
    like the reference).  merge commits per part (ATTACH cannot run
    inside a transaction) and restores the pre-merge row state on
    failure — except rows removed by if_exists="delete-rows", whose
    deletion is already committed before the merge starts."""
    if if_exists not in ("fail", "append", "delete-rows", "drop-table"):
        raise ValueError(
            f"if_exists must be one of fail/append/delete-rows/drop-table, got {if_exists!r}"
        )
    if sink_mode not in ("auto", "merge", "stream"):
        raise ValueError(f"sink_mode must be auto/merge/stream, got {sink_mode!r}")
    mode = sink_mode
    if mode == "auto":
        mode = "merge" if _shares_driver_fs(df.sparkSession) else "stream"
    spatial = geom_col is not None and geom_col in df.columns
    con = sqlite3.connect(path)
    con.execute("PRAGMA journal_mode = WAL")
    con.execute("PRAGMA synchronous = OFF")
    if spatial:
        # a pre-existing rtree index's triggers need these on THIS
        # connection (reference gpkg.clj:75-129)
        _register_st_functions(con)
    try:
        _bootstrap(con)
        _ensure_srs(con, srid)
        exists = _has_table(con, table)
        if exists:
            if if_exists == "fail":
                raise ValueError(f"table {table} exists")
            if if_exists == "drop-table":
                drop_table_con(con, table)
                exists = False
            elif if_exists == "delete-rows":
                con.execute(f'DELETE FROM "{table}"')
        # `srid` is the synthesized read-side column and is dropped on
        # a SPATIAL round trip; an attribute-only table keeps a user
        # column that happens to be named srid (no synthesis there)
        fields = [
            f
            for f in df.schema.fields
            if f.name != geom_col and (not spatial or f.name != "srid")
        ]
        if not exists:
            cols_ddl = []
            for f in fields:
                # Spark typeName()s: IntegerType is "integer" (a bare
                # "int" key would silently declare int32 columns TEXT)
                t = {"long": "INTEGER", "integer": "INTEGER",
                     "short": "INTEGER", "byte": "INTEGER",
                     "double": "REAL", "float": "REAL", "boolean": "BOOLEAN",
                     "string": "TEXT", "binary": "BLOB",
                     "timestamp": "DATETIME", "timestamp_ntz": "DATETIME",
                     "date": "DATE"}.get(f.dataType.typeName(), "TEXT")
                cols_ddl.append(f'"{f.name}" {t}')
            ddl = f'CREATE TABLE "{table}" (fid INTEGER PRIMARY KEY AUTOINCREMENT'
            if spatial:
                # declared SQL type = geometry_type_name (spec Req 31;
                # SQLite stores it as BLOB affinity regardless)
                ddl += f', "{geom_col}" GEOMETRY'
            if cols_ddl:
                ddl += ", " + ", ".join(cols_ddl)
            ddl += ")"
            con.execute(ddl)
            if spatial:
                con.execute(
                    "INSERT OR REPLACE INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
                    (table, geom_col, "GEOMETRY", srid),
                )
            con.execute(
                "INSERT OR REPLACE INTO gpkg_contents (table_name, data_type, identifier, srs_id) VALUES (?,?,?,?)",
                (table, "features" if spatial else "attributes", table, srid if spatial else None),
            )
        ins_cols = ([geom_col] if spatial else []) + [f.name for f in fields]
        ext = [math.inf, math.inf, -math.inf, -math.inf]
        if exists and if_exists == "append" and spatial:
            # FOLD the appended batch's extent with the recorded layer
            # extent — overwriting with only the new rows would shrink
            # gpkg_contents to the batch (zoom-to-layer etc. would
            # miss the existing features)
            row = con.execute(
                "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents WHERE table_name=?",
                (table,),
            ).fetchone()
            if row and row[0] is not None:
                ext = [row[0], row[1], row[2], row[3]]
        # rtree spatial index (reference create-spatial-index!,
        # gpkg.clj:863-876).  A PRE-EXISTING index on the table means
        # its triggers maintain it through our inserts (the ST_*
        # functions are registered above); a NEW index is bulk-loaded
        # from envelopes already computed during the encode — the
        # triggers (which would decode every blob through the python
        # ST functions) are only created afterwards, for future
        # single-row writers.
        rtree = f"rtree_{table}_{geom_col}" if spatial else None
        if rtree is not None and (not add_spatial_index or _has_table(con, rtree)):
            rtree = None
        # rows already in the table before this write (append onto an
        # unindexed table) must be indexed too — see _backfill_rtree
        pre_max_fid = (
            con.execute(f'SELECT COALESCE(MAX(rowid), 0) FROM "{table}"').fetchone()[0]
            if rtree is not None and exists
            else 0
        )
        sink_geom = geom_col if spatial else None
        if mode == "merge":
            _sink_merge(con, df, table, ins_cols, exists, sink_geom, srid, fields, ext, rtree, pre_max_fid)
        else:
            _sink_stream(con, df, table, ins_cols, sink_geom, srid, fields, ext, rtree, pre_max_fid, batch_size)
        if spatial and ext[0] != math.inf:
            con.execute(
                "UPDATE gpkg_contents SET min_x=?, min_y=?, max_x=?, max_y=? WHERE table_name=?",
                (ext[0], ext[1], ext[2], ext[3], table),
            )
        con.commit()
    finally:
        con.close()


def _ensure_schema_ext(con: sqlite3.Connection):
    """gpkg_schema extension tables (column metadata + constraints;
    reference gpkg.clj:964-1007)."""
    _ensure_extensions_table(con)
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_data_columns (
             table_name TEXT NOT NULL, column_name TEXT NOT NULL,
             name TEXT UNIQUE, title TEXT, description TEXT, mime_type TEXT,
             constraint_name TEXT,
             CONSTRAINT pk_gdc PRIMARY KEY (table_name, column_name))"""
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_data_column_constraints (
             constraint_name TEXT NOT NULL, constraint_type TEXT NOT NULL,
             value TEXT, min NUMERIC, min_is_inclusive BOOLEAN,
             max NUMERIC, max_is_inclusive BOOLEAN, description TEXT,
             CONSTRAINT gdcc_ntv UNIQUE (constraint_name, constraint_type, value))"""
    )
    for t in ("gpkg_data_columns", "gpkg_data_column_constraints"):
        # UNIQUE with NULL column_name doesn't dedupe in SQLite
        exists = con.execute(
            "SELECT 1 FROM gpkg_extensions WHERE table_name=? AND extension_name='gpkg_schema'",
            (t,),
        ).fetchone()
        if not exists:
            con.execute(
                "INSERT INTO gpkg_extensions VALUES (?,NULL,?,?,?)",
                (t, "gpkg_schema", "https://www.geopackage.org/spec/#extension_schema", "read-write"),
            )


def set_column_metadata(path: str, table: str, column: str, meta: dict):
    """Attach gpkg_schema metadata to a column: keys name/title/
    description/mime_type/constraint (reference gpkg.clj:1056-1068)."""
    con = sqlite3.connect(path)
    try:
        _ensure_schema_ext(con)
        con.execute(
            "INSERT OR REPLACE INTO gpkg_data_columns VALUES (?,?,?,?,?,?,?)",
            (
                table, column, meta.get("name"), meta.get("title"),
                meta.get("description"), meta.get("mime_type"),
                meta.get("constraint"),
            ),
        )
        con.commit()
    finally:
        con.close()


def add_constraint(path: str, constraint: dict):
    """Register an enum/range/glob constraint definition
    (gpkg_data_column_constraints)."""
    con = sqlite3.connect(path)
    try:
        _ensure_schema_ext(con)
        con.execute(
            "INSERT OR IGNORE INTO gpkg_data_column_constraints VALUES (?,?,?,?,?,?,?,?)",
            (
                constraint["name"], constraint["type"], constraint.get("value"),
                constraint.get("min"), constraint.get("min_is_inclusive"),
                constraint.get("max"), constraint.get("max_is_inclusive"),
                constraint.get("description"),
            ),
        )
        con.commit()
    finally:
        con.close()


def column_metadata(path: str, table: str) -> Dict[str, dict]:
    """Read gpkg_schema column metadata (gpkg.clj:409-472)."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        if not _has_table(con, "gpkg_data_columns"):
            return {}
        out = {}
        for r in con.execute(
            "SELECT column_name, name, title, description, mime_type, constraint_name "
            "FROM gpkg_data_columns WHERE table_name=?",
            (table,),
        ):
            out[r[0]] = {
                "name": r[1], "title": r[2], "description": r[3],
                "mime_type": r[4], "constraint": r[5],
            }
        return out
    finally:
        con.close()


def column_constraints(path: str, name: str) -> List[dict]:
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        if not _has_table(con, "gpkg_data_column_constraints"):
            return []
        return [
            {
                "name": r[0], "type": r[1], "value": r[2], "min": r[3],
                "min_is_inclusive": r[4], "max": r[5],
                "max_is_inclusive": r[6], "description": r[7],
            }
            for r in con.execute(
                "SELECT * FROM gpkg_data_column_constraints WHERE constraint_name=?",
                (name,),
            )
        ]
    finally:
        con.close()


def extensions(path: str) -> List[dict]:
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        if not _has_table(con, "gpkg_extensions"):
            return []
        return [
            {"table_name": r[0], "column_name": r[1], "extension_name": r[2],
             "definition": r[3], "scope": r[4]}
            for r in con.execute("SELECT * FROM gpkg_extensions")
        ]
    finally:
        con.close()


def drop_table_con(con: sqlite3.Connection, table: str):
    """Drop a table + its metadata rows + any rtree spatial index and
    its six maintenance triggers (gpkg.clj:879-898, drop-table)."""
    if _has_table(con, "gpkg_geometry_columns"):
        for (gname,) in con.execute(
            "SELECT column_name FROM gpkg_geometry_columns WHERE table_name=?", (table,)
        ).fetchall():
            rtree = f"rtree_{table}_{gname}"
            for suf in ("_insert", "_update1", "_update2", "_update3", "_update4", "_delete"):
                con.execute(f'DROP TRIGGER IF EXISTS "{rtree}{suf}"')
            con.execute(f'DROP TABLE IF EXISTS "{rtree}"')
    con.execute(f'DROP TABLE IF EXISTS "{table}"')
    con.execute("DELETE FROM gpkg_contents WHERE table_name=?", (table,))
    con.execute("DELETE FROM gpkg_geometry_columns WHERE table_name=?", (table,))
    if _has_table(con, "gpkg_extensions"):
        con.execute("DELETE FROM gpkg_extensions WHERE table_name=?", (table,))


def drop_table(path: str, table: str):
    con = sqlite3.connect(path)
    try:
        drop_table_con(con, table)
        con.commit()
    finally:
        con.close()


def amend_gpkg(
    df,
    path: str,
    table: str,
    method: str = "update-set",  # update-set | left-join | outer-join | right-join
    key: str = "rowid",
):
    """Join-update existing rows by rowid/PK (gpkg.clj:1148-1374).

    df columns: `key` + columns to set.  Methods:
      update-set — each target row matched ≤1 time (error on dups)
      left-join  — duplicate matches multiply target rows
      outer-join — + insert unmatched source rows
      right-join — + delete unmatched target rows, insert unmatched source
    Implemented as the same set-based temp-table plan: stage the new
    values, mark duplicates, UPDATE singular matches, then per-method
    insert/delete/multiply.  Staging follows write_gpkg's sinks: when
    executors share the driver's filesystem (a local[*] master), Spark
    sources stage DISTRIBUTED (each task writes a temp SQLite part
    file, the driver ATTACH-copies them into the temp table — the merge
    sink's path); otherwise rows stream via toLocalIterator (never
    collected whole to the driver).  Staging lands in a TEMP table, so
    the user table's mutation plan stays a single atomic transaction
    either way.
    """
    is_spark = hasattr(df, "toLocalIterator")
    if is_spark:
        all_cols = [f.name for f in df.schema.fields]
    else:
        pdf = pd.DataFrame(df)
        all_cols = list(pdf.columns)
    if key not in all_cols:
        raise ValueError(f"amend key column {key!r} not in input")
    key_pos = all_cols.index(key)
    set_cols = [c for c in all_cols if c != key]
    set_pos = [all_cols.index(c) for c in set_cols]
    use_merge = is_spark and _shares_driver_fs(df.sparkSession)
    con = sqlite3.connect(path)
    # an rtree-indexed geometry column's maintenance triggers call the
    # ST_* functions on whatever connection mutates the table
    _register_st_functions(con)
    try:
        cols_ddl = ", ".join(f'"{c}"' for c in [key] + set_cols)
        con.execute(
            f"CREATE TEMP TABLE __amend ({key} INTEGER, "
            + ", ".join(f'"{c}"' for c in set_cols)
            + ", __singular INTEGER DEFAULT 1)"
        )
        if use_merge:
            ordered = df.select(key, *set_cols)
            sel = ", ".join(f'"c{i}"' for i in range(1 + len(set_cols)))
            with _part_files(ordered, None, 0, ordered.schema.fields) as parts:
                for r in parts:
                    # temp-table insert: the user table is untouched
                    _attach_copy(
                        con, r.path,
                        f"INSERT INTO __amend ({cols_ddl}) "
                        f"SELECT {sel} FROM __gpkg_part.data ORDER BY rowid",
                    )
        else:
            if is_spark:
                row_iter = (tuple(r) for r in df.select(*all_cols).toLocalIterator())
            else:
                row_iter = iter(pdf.itertuples(index=False, name=None))
            ins_sql = (
                f"INSERT INTO __amend ({cols_ddl}) VALUES ({','.join('?' * (1 + len(set_cols)))})"
            )
            batch: list = []
            for r in row_iter:
                vals = [r[key_pos]] + [r[i] for i in set_pos]
                vals = [bytes(v) if isinstance(v, bytearray) else v for v in vals]
                batch.append(tuple(vals))
                if len(batch) >= 4000:
                    con.executemany(ins_sql, batch)
                    batch.clear()
            if batch:
                con.executemany(ins_sql, batch)
            con.commit()
        con.execute("BEGIN")
        con.execute("CREATE INDEX __amend_idx ON __amend (" + key + ")")
        # keys that matched the ORIGINAL table — recorded before any
        # mutation so the unmatched-source insert below is stable even
        # after the duplicate-multiply step rewrites rowids
        con.execute(
            f'CREATE TEMP TABLE __matched AS SELECT DISTINCT a.{key} AS k '
            f'FROM __amend a JOIN "{table}" t ON t.rowid = a.{key}'
        )
        # mark duplicate-key rows (gpkg.clj:1271-1286)
        con.execute(
            f"UPDATE __amend SET __singular = 0 WHERE {key} IN "
            f"(SELECT {key} FROM __amend GROUP BY {key} HAVING COUNT(*) > 1)"
        )
        ndup = con.execute("SELECT COUNT(*) FROM __amend WHERE __singular = 0").fetchone()[0]
        if method == "update-set" and ndup:
            raise ValueError(f"duplicate matches in update-set amend: {ndup} rows")
        sets = ", ".join(f'"{c}" = (SELECT "{c}" FROM __amend a WHERE a.{key} = "{table}".rowid AND a.__singular = 1)' for c in set_cols)
        con.execute(
            f'UPDATE "{table}" SET {sets} WHERE rowid IN (SELECT {key} FROM __amend WHERE __singular = 1)'
        )
        if method == "right-join":
            # NOT IN over a set containing NULL is UNKNOWN for every
            # row (would silently skip the delete), so filter NULL keys
            con.execute(
                f'DELETE FROM "{table}" WHERE rowid NOT IN '
                f"(SELECT {key} FROM __amend WHERE {key} IS NOT NULL)"
            )
        if method in ("outer-join", "right-join"):
            # pre-bump the autoincrement sequence past the largest
            # unmatched SINGULAR source key: the duplicate-multiply step
            # below (and the NULL-fid rows of the unmatched insert)
            # mint autoincrement fids, and without the bump one of them
            # can equal an explicit unmatched key inserted moments
            # later (fids 1-3 + multiply mints 4,5 + unmatched key 5
            # -> IntegrityError and full rollback)
            maxk = con.execute(
                f"SELECT MAX({key}) FROM __amend a WHERE a.__singular = 1 "
                f"AND a.{key} IS NOT NULL AND a.{key} NOT IN (SELECT k FROM __matched)"
            ).fetchone()[0]
            if maxk is not None and not _has_table(con, "sqlite_sequence"):
                # foreign GPKG with no AUTOINCREMENT table anywhere:
                # there is no sequence to pre-bump (and plain rowid
                # assignment already uses max(rowid)+1, which the
                # unmatched-insert ordering below keeps safe)
                maxk = None
            if maxk is not None:
                cur = con.execute(
                    "SELECT seq FROM sqlite_sequence WHERE name = ?", (table,)
                ).fetchone()
                if cur is None:
                    con.execute(
                        "INSERT INTO sqlite_sequence (name, seq) VALUES (?, ?)",
                        (table, maxk),
                    )
                elif cur[0] < maxk:
                    con.execute(
                        "UPDATE sqlite_sequence SET seq = ? WHERE name = ?", (maxk, table)
                    )
        if method in ("left-join", "outer-join", "right-join") and ndup:
            # multiply: insert copies joined with the duplicate rows,
            # then delete the originals (gpkg.clj:1318-1372)
            tcols = [
                r[1]
                for r in con.execute(f'PRAGMA table_info("{table}")')
                if r[1] != "fid"
            ]
            keep = [c for c in tcols if c not in set_cols]
            sel = ", ".join([f't."{c}"' for c in keep] + [f'a."{c}"' for c in set_cols])
            con.execute(
                f'INSERT INTO "{table}" ({", ".join(chr(34)+c+chr(34) for c in keep + set_cols)}) '
                f'SELECT {sel} FROM "{table}" t JOIN __amend a ON a.{key} = t.rowid WHERE a.__singular = 0'
            )
            con.execute(
                f'DELETE FROM "{table}" WHERE rowid IN (SELECT {key} FROM __amend WHERE __singular = 0)'
            )
        if method in ("outer-join", "right-join"):
            # insert unmatched source rows (reference ':outer-join does
            # :left-join and then inserts unmatched rows',
            # gpkg.clj:1318-1372).  Singular non-null keys become the
            # new fid; duplicates/nulls take autoincrement fids.  Runs
            # AFTER the duplicate-multiply step: an autoincrement fid
            # assigned here may equal a duplicate source key, and the
            # multiply would otherwise pick the fresh row up and
            # multiply/delete it.
            sel_cols = ", ".join(f'a."{c}"' for c in set_cols)
            con.execute(
                f'INSERT INTO "{table}" (fid, {", ".join(chr(34)+c+chr(34) for c in set_cols)}) '
                f"SELECT CASE WHEN a.__singular = 1 THEN a.{key} ELSE NULL END, {sel_cols} "
                f"FROM __amend a "
                f"WHERE a.{key} IS NULL OR a.{key} NOT IN (SELECT k FROM __matched)"
            )
        con.execute("DROP TABLE __amend")
        con.commit()
    except Exception:
        con.rollback()
        raise
    finally:
        con.close()
