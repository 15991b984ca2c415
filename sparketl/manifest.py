"""Versioned parquet tables: the one on-disk format DML writes.

A table is a root directory that holds data directories and one small
JSON manifest naming the live ones and the schema::

    root/_manifest              {"n": N, "schema": ..., "part_col": ...,
                                 "dirs": [...], "retired": [...]}
    root/_v<N>/                 the data of an unpartitioned table
    root/<col>=<value>/_v<N>/   the data of one partition

A statement never overwrites or deletes a file a published version
lists: it writes under ``root/_stage-<id>/``, moves the new directories
to ``_v<N+1>`` names, and publishes version N+1 with one ``os.replace``
of the manifest.  A process that dies before the replace leaves version
N whole, one that dies after it N+1, and every reader resolves the
table through the manifest (:func:`read`).  Names starting with ``_``
are hidden from Spark's listings, so neither the manifest, nor staging,
nor a ``_v`` directory nested in an adopted partition directory reaches
a scan.

- :func:`replace` writes the complete new contents of some partitions
  (or the whole table); a partition left with no rows drops out.
- :func:`append` (INSERT) rewrites no row: a partition the table has
  gets a new directory of hard links to its live files plus the new
  files, so a catalog partition keeps one location and the insert shows
  only at the publish.
- :func:`set_schema` republishes the same directories (metadata ALTER).

The directories version N+1 replaced are deleted at the publish of N+2:
a query planned on version N may still be scanning them when N+1 is
published.  :func:`adopt` makes a plain Spark-written directory version
1 in place (its root, or its ``<col>=<value>`` directories, are the
live ones); on a table that has a manifest it only reads, so a process
that merely opens a table never touches another's files.  A writer
that dies mid-statement may leave a hidden ``_stage-*`` or unpublished
``_v`` directory behind; no version lists it, and a later statement
that reuses the ``_v`` name replaces it.  Durability covers a process
crash (nothing is fsynced).  A writer holds an exclusive ``flock`` on
``root/_lock`` from its version check through its publish, so writers
of one table, in one process or several, take turns; a write from a
handle older than the published version raises instead of publishing
over it.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from sparketl.tables import data_files, read_parquet

MANIFEST = "_manifest"


@dataclass(frozen=True)
class Version:
    """One published version of the table at ``root``.  ``dirs`` are
    the live data directories relative to ``root`` (``"."`` is an
    adopted root); ``retired`` are the ones this version replaced."""

    root: str
    n: int
    schema: StructType
    part_col: str | None
    dirs: tuple[str, ...]
    retired: tuple[str, ...] = ()


def _path(v: "Version", d: str) -> str:
    return v.root if d == "." else os.path.join(v.root, d)


def _pkey(d: str) -> tuple[str, str]:
    """The partition a live directory belongs to, as (column, escaped
    value) — column names compare case-insensitively, like Spark's."""
    col, _, val = d.split("/", 1)[0].partition("=")
    return col.lower(), val


def load(root: str) -> Version | None:
    """The published version at ``root``, or None without a manifest."""
    try:
        with open(os.path.join(root, MANIFEST)) as f:
            m = json.load(f)
    except FileNotFoundError:
        return None
    return Version(
        root, m["n"], StructType.fromJson(m["schema"]), m["part_col"],
        tuple(m["dirs"]), tuple(m["retired"]),
    )


def publish(v: Version) -> Version:
    """Make ``v`` the table's current version: one ``os.replace`` of
    the manifest, then delete what the previous version replaced."""
    prev = load(v.root)
    m = {**v.__dict__, "schema": v.schema.jsonValue()}
    del m["root"]
    tmp = os.path.join(v.root, f"{MANIFEST}.{v.n}.tmp")
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, os.path.join(v.root, MANIFEST))
    for d in prev.retired if prev else ():
        try:
            _remove(v.root, d)
        except OSError:
            pass  # the version is published; a leftover file is only space
    return v


@contextlib.contextmanager
def _writing(v: Version):
    """Hold the table's write lock and refuse to write from a stale
    version: publishing over a newer one would lose its update and
    delete directories it lists.  The lock file is opened per call —
    flock excludes separate opens, threads of one process included."""
    fd = os.open(os.path.join(v.root, "_lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        cur = load(v.root)
        if cur is None or cur.n != v.n:
            raise RuntimeError(
                f"table at {v.root} is at version {cur.n if cur else None}, "
                f"not {v.n}: another writer (name, thread or process) "
                "published first; retry the statement, registering the "
                "table again first if it was written under another name"
            )
        yield
    finally:
        os.close(fd)


def _next(v: Version, dirs, retired, schema: StructType | None = None) -> Version:
    return publish(
        Version(
            v.root, v.n + 1, schema or v.schema, v.part_col,
            tuple(sorted(dirs)), tuple(sorted(retired)),
        )
    )


def _remove(root: str, d: str) -> None:
    """Delete a retired directory.  An adopted one (the root, or a
    plain partition directory) loses its files outside ``_`` names
    only: live ``_v`` directories and the manifest may sit inside it.
    A partition directory left empty goes too."""
    p = os.path.join(root, d)
    if os.path.basename(d).startswith("_v"):
        shutil.rmtree(p, ignore_errors=True)
    for dirpath, subdirs, names in os.walk(p):
        subdirs[:] = [s for s in subdirs if not s.startswith("_")]
        for f in names:
            if not f.startswith("_"):
                os.remove(os.path.join(dirpath, f))
    if d != ".":
        try:
            os.rmdir(os.path.join(root, d.split("/", 1)[0]))
        except OSError:
            pass  # not empty


def adopt(spark: SparkSession, root: str, part_col: str | None = None) -> Version:
    """The table at ``root``: its published version when it has a
    manifest (``part_col`` is then ignored), else a plain Spark-written
    parquet directory published as version 1 without copying it."""
    v = load(root)
    if v is not None:
        return v
    schema = read_parquet(spark, root).schema  # raises on an unreadable dir
    if part_col:
        dirs = [
            e.name
            for e in os.scandir(root)
            if e.is_dir() and "=" in e.name and _pkey(e.name)[0] == part_col.lower()
        ]
    else:
        dirs = ["."]
    return publish(Version(root, 1, schema, part_col, tuple(sorted(dirs))))


def read(spark: SparkSession, table: Version | str) -> DataFrame:
    """The table as a DataFrame: Spark is handed the live directories
    (with ``basePath`` for partition discovery) and the pinned schema,
    which fixes both the partition column's type and the column order."""
    v = table if isinstance(table, Version) else load(table)
    if v is None:
        raise FileNotFoundError(f"no table manifest under {table}")
    r = spark.read.schema(v.schema)
    if v.part_col:
        r = r.option("basePath", v.root)
    df = r.parquet(*[_path(v, d) for d in v.dirs])
    return df.select(*[f.name for f in v.schema.fields])


def _catalog_utils(spark: SparkSession):
    """Spark's ``ExternalCatalogUtils``, looked up by its full name in
    one py4j round trip (a package walk makes one per dot)."""
    return getattr(
        spark._jvm,  # noqa: SLF001
        "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils",
    )


def catalog_locations(
    spark: SparkSession, v: Version
) -> tuple[str, list[tuple[str | None, str]]]:
    """Where a catalog table over ``v`` points: its location, and for a
    partitioned table the (value, directory) of every live partition,
    the value unescaped from the directory name (None: NULL).  An empty
    unpartitioned table points at ``_empty``, a name no version writes,
    which reads as no rows."""
    if not v.part_col:
        return os.path.normpath(_path(v, v.dirs[0] if v.dirs else "_empty")), []
    util = _catalog_utils(spark)
    parts = []
    for d in v.dirs:
        val = util.unescapePathName(d.split("/", 1)[0].partition("=")[2])
        parts.append((None if val == util.DEFAULT_PARTITION_NAME() else val, _path(v, d)))
    return v.root, parts


def _stage(spark: SparkSession, v: Version, df: DataFrame) -> str:
    path = os.path.join(v.root, f"_stage-{uuid.uuid4().hex}")
    w = df.write
    if v.part_col:
        w = w.partitionBy(v.part_col)
    w.parquet(path)
    return path


def _install(v: Version, stage: str, n: int) -> list[str]:
    """Move the staged directories to their version-``n`` names.  A
    directory already there was left by a statement that failed before
    its publish, so no version names it."""

    def move(src: str, rel: str) -> str:
        dst = os.path.join(v.root, rel)
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        return rel

    if not v.part_col:
        return [move(stage, f"_v{n}")]
    out = [
        move(e.path, f"{e.name}/_v{n}")
        for e in list(os.scandir(stage))
        if e.is_dir() and "=" in e.name
    ]
    shutil.rmtree(stage)
    return out


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in data_files(path))


def rows(v: Version) -> int:
    """The row count of ``v``, from the footers of its live files."""
    return sum(_footer_rows(_path(v, d)) for d in v.dirs)


def create(
    spark: SparkSession, root: str, df: DataFrame | None,
    part_col: str | None, schema: StructType,
) -> tuple[Version, int]:
    """A new table at ``root`` holding ``df`` (None: empty); returns
    version 1 and its row count, read from the written footers.
    Anything else under ``root`` (a dead session's table, or the plain
    directory the query itself read) is removed once the rows are
    written."""
    os.makedirs(root, exist_ok=True)
    v = Version(root, 0, schema, part_col, ())
    stage = _stage(spark, v, df) if df is not None else None
    for e in list(os.scandir(root)):
        if e.path != stage:
            shutil.rmtree(e.path) if e.is_dir() else os.remove(e.path)
    rows = _footer_rows(stage) if stage else 0
    dirs = _install(v, stage, 1) if stage else []
    return publish(Version(root, 1, v.schema, part_col, tuple(sorted(dirs)))), rows


def _part_keys(spark: SparkSession, v: Version, vals: set) -> set:
    """Directory keys of partition values, spelled by Spark itself:
    its string cast (session time zone included) and its path escaping
    (NULL and '' become the default partition)."""
    f = next(f for f in v.schema.fields if f.name.lower() == v.part_col.lower())
    if all(x is None or isinstance(x, str) or type(x) is int for x in vals):
        strs = [None if x is None else str(x) for x in vals]  # the cast is str()
    else:
        strs = [
            r[0]
            for r in spark.createDataFrame(
                [(x,) for x in vals], StructType([StructField(f.name, f.dataType)])
            )
            .select(F.col(f.name).cast("string"))
            .collect()
        ]
    util = _catalog_utils(spark)
    return {_pkey(util.getPartitionPathString(f.name, s)) for s in strs}


def replace(
    spark: SparkSession, v: Version, df: DataFrame | None,
    parts: set | None = None, schema: StructType | None = None,
) -> Version:
    """Publish ``df`` as the complete new contents of the partitions
    whose values are in ``parts``, and of any partition ``df`` has rows
    for; ``parts=None`` (and every unpartitioned table) means the whole
    table.  ``df=None`` writes no rows."""
    with _writing(v):
        n = v.n + 1
        new = _install(v, _stage(spark, v, df), n) if df is not None else []
        if v.part_col is None or parts is None:
            gone = list(v.dirs)
        else:
            keys = _part_keys(spark, v, parts) if parts else set()
            keys |= {_pkey(d) for d in new}
            gone = [d for d in v.dirs if _pkey(d) in keys]
        return _next(v, [d for d in v.dirs if d not in gone] + new, gone, schema)


def _link_all(src: str, dst: str) -> None:
    for p in data_files(src):
        to = os.path.join(dst, os.path.relpath(p, src))
        os.makedirs(os.path.dirname(to), exist_ok=True)
        os.link(p, to)


def append(spark: SparkSession, v: Version, df: DataFrame) -> tuple[Version, int]:
    """INSERT: add ``df``'s rows without rewriting any.  Returns the new
    version and the row count (from the written footers); zero rows
    publishes nothing."""
    with _writing(v):
        stage = _stage(spark, v, df)
        rows = _footer_rows(stage)
        if rows == 0:
            shutil.rmtree(stage)
            return v, 0
        n = v.n + 1
        new = _install(v, stage, n)
        live = {_pkey(d): d for d in v.dirs} if v.part_col else {}
        gone = []
        for d in new:
            old = live.get(_pkey(d)) if v.part_col else (v.dirs[0] if v.dirs else None)
            if old is not None:
                _link_all(_path(v, old), _path(v, d))
                gone.append(old)
        return _next(v, [d for d in v.dirs if d not in gone] + new, gone), rows


def set_schema(v: Version, schema: StructType) -> Version:
    """Publish the same directories under a new schema."""
    with _writing(v):
        return _next(v, v.dirs, (), schema)


def drop(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)


def files(v: Version) -> dict[str, tuple[int, int]]:
    """``partition/relpath -> (size, mtime_ns)`` of every live data
    file.  A hard link keeps its name, size and mtime, so an INSERT's
    carried-over files compare equal across the two versions."""
    out: dict[str, tuple[int, int]] = {}
    for d in v.dirs:
        base = _path(v, d)
        part = d.split("/", 1)[0] if v.part_col and "=" in d else ""
        for p in data_files(base):
            st = os.stat(p)
            out[os.path.join(part, os.path.relpath(p, base))] = (st.st_size, st.st_mtime_ns)
    return out


def file_columns(v: Version) -> set[str]:
    """Lower-cased column names present in any live data file's footer
    (a column dropped from the schema may still be there)."""
    import pyarrow.parquet as pq

    return {
        c.lower()
        for d in v.dirs
        for p in data_files(_path(v, d))
        for c in pq.read_schema(p).names
    }
