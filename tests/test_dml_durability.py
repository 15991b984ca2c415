"""A DML statement either happened or did not: a process that dies in
the middle of one leaves a table a new process reads as exactly the
old or exactly the new version, and a reader running beside the
statements only ever sees published versions."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import threading
import time

import pytest

from sparketl import dialect, dml

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the watcher's exit code, and the patched publish's
WATCH_EXIT = 41
PUBLISH_EXIT = 42

_ROWS = [(k, 10 * k) for k in range(1, 41)]

_WRITER = textwrap.dedent(
    f"""
    import os, sys, threading, time
    from sparketl import dialect, dml
    from sparketl.session import get_spark

    base, mode = sys.argv[1], sys.argv[2]
    spark = get_spark("sparketl-crash-writer")
    dml.set_base_dir(spark, base)
    dialect.sql(
        spark,
        "create table t as select * from (values "
        + ", ".join("(%d, %d)" % r for r in {_ROWS!r})
        + ") as s(k, v)",
    )
    root = dml.table_path(spark, "t")
    if mode == "watch":
        # die the moment any data file the table has now disappears
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]
        assert files

        def watch():
            while all(os.path.exists(p) for p in files):
                time.sleep(0.0005)
            os._exit({WATCH_EXIT})

        threading.Thread(target=watch, daemon=True).start()
    elif mode == "publish":
        # die after the data write, before the version is published
        from sparketl import manifest

        manifest.publish = lambda v: os._exit({PUBLISH_EXIT})
    else:
        # hold the written, not yet published version until told to go
        from sparketl import manifest

        real = manifest.publish

        def paused(v):
            open(os.path.join(base, "staged"), "w").close()
            for _ in range(6000):
                if os.path.exists(os.path.join(base, "go")):
                    return real(v)
                time.sleep(0.05)
            os._exit(1)

        manifest.publish = paused
    print("updating", flush=True)
    dialect.sql(spark, "update t set v = v + 1").collect()
    print("updated", flush=True)
    """
)

_READER = textwrap.dedent(
    """
    import json, sys
    from sparketl import dialect, dml
    from sparketl.session import get_spark

    spark = get_spark("sparketl-crash-reader")
    dml.register_table(spark, "t", sys.argv[1])
    rows = dialect.sql(spark, "select k, v from t").collect()
    print(json.dumps(sorted([r.k, r.v] for r in rows)))
    """
)


def _run(script: str, *args: str) -> subprocess.CompletedProcess:
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": REPO,
    }
    return subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _read_rows(root: str) -> list[tuple]:
    r = _run(_READER, root)
    assert r.returncode == 0, "the table no longer reads:\n" + r.stderr[-4000:]
    return [tuple(x) for x in json.loads(r.stdout.strip().splitlines()[-1])]


def _crash_then_read(tmp_path, mode: str):
    base = str(tmp_path / "wh")
    w = _run(_WRITER, base, mode)
    assert "updating" in w.stdout, w.stdout[-2000:] + w.stderr[-4000:]
    r = _run(_READER, os.path.join(base, "t"))
    assert r.returncode == 0, (
        f"writer exit {w.returncode}; the table no longer reads:\n"
        + r.stderr[-4000:]
    )
    got = [tuple(x) for x in json.loads(r.stdout.strip().splitlines()[-1])]
    return w, got


def test_crash_while_files_disappear_leaves_one_version(tmp_path):
    """The writer dies as soon as any data file of the table's current
    version disappears during an UPDATE of every row.  An in-place
    overwrite deletes the old files before its write job runs, so the
    kill leaves nothing readable; writing new files and publishing
    deletes nothing the current version lists."""
    _, got = _crash_then_read(tmp_path, "watch")
    old = sorted(_ROWS)
    new = sorted((k, v + 1) for k, v in _ROWS)
    assert got in (old, new), got


def test_crash_before_publish_keeps_old_version(tmp_path):
    w, got = _crash_then_read(tmp_path, "publish")
    assert w.returncode == PUBLISH_EXIT, w.stdout[-2000:] + w.stderr[-4000:]
    assert "updated" not in w.stdout
    assert got == sorted(_ROWS)


def test_failed_publish_keeps_old_version_and_retry_succeeds(
    spark, tmp_path, monkeypatch
):
    """A statement that fails after writing its files but before the
    publish leaves the table at its old version, and the same statement
    run again reuses the unpublished version number."""
    from sparketl import manifest

    dml.set_base_dir(spark, str(tmp_path / "wh"))
    dialect.sql(
        spark,
        "create table t_fp with (partitioned_by = array['g']) as "
        "select * from (values (1, 'a'), (2, 'b')) as s(k, g)",
    )

    def rows():
        return sorted(tuple(r) for r in dialect.sql(spark, "select * from t_fp").collect())

    def fail(v):
        raise OSError("no space left on device")

    stmt = "update t_fp set k = k + 10 where g = 'a'"
    monkeypatch.setattr(manifest, "publish", fail)
    with pytest.raises(OSError, match="no space"):
        dialect.sql(spark, stmt)
    monkeypatch.undo()
    assert rows() == [(1, "a"), (2, "b")]
    dialect.sql(spark, stmt)
    assert rows() == [(2, "b"), (11, "a")]


def test_reader_process_leaves_a_pending_write_alone(tmp_path):
    """A second process opens the table (``register_table``) while a
    writer holds an UPDATE between moving its files into place and the
    publish: the reader sees the old version and deletes nothing, and
    the publish that follows reads back as the new version."""
    base = str(tmp_path / "wh")
    root = os.path.join(base, "t")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g",
           "PYTHONPATH": REPO}
    w = subprocess.Popen(
        [sys.executable, "-c", _WRITER, base, "pause"],
        cwd=REPO, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        deadline = time.monotonic() + 600
        while not os.path.exists(os.path.join(base, "staged")):
            assert w.poll() is None, w.communicate()[1][-4000:]
            assert time.monotonic() < deadline
            time.sleep(0.1)
        assert _read_rows(root) == sorted(_ROWS)
        open(os.path.join(base, "go"), "w").close()
        out, err = w.communicate(timeout=600)
    finally:
        if w.poll() is None:
            w.kill()
    assert w.returncode == 0 and "updated" in out, err[-4000:]
    assert _read_rows(root) == sorted((k, v + 1) for k, v in _ROWS)


def test_stale_handle_refuses_to_write(spark, tmp_path):
    """Two names on one root: after a write through one, a write through
    the other (whose version is now stale) raises instead of publishing
    over the newer version, and the table keeps the first write."""
    from sparketl import manifest

    dml.set_base_dir(spark, str(tmp_path / "wh"))
    dialect.sql(
        spark,
        "create table t_stale with (partitioned_by = array['g']) as "
        "select * from (values (1, 'a'), (2, 'b')) as s(k, g)",
    )
    root = dml.table_path(spark, "t_stale")
    dml.register_table(spark, "t_stale2", root)
    dialect.sql(spark, "update t_stale2 set k = k + 10 where g = 'a'")
    with pytest.raises(RuntimeError, match="not 1"):
        dialect.sql(spark, "delete from t_stale where g = 'a'")
    got = sorted(tuple(r) for r in manifest.read(spark, root).collect())
    assert got == [(2, "b"), (11, "a")]
    dml.register_table(spark, "t_stale", root)  # re-registering resumes
    dialect.sql(spark, "delete from t_stale where g = 'a'")
    assert [tuple(r) for r in manifest.read(spark, root).collect()] == [(2, "b")]


def test_empty_qualified_table_ignores_unpublished_directory(
    spark, tmp_path, monkeypatch
):
    """A failed UPDATE leaves its unpublished directory behind; the
    TRUNCATE after it publishes a version with no directory, and the
    schema-qualified table must read no rows, not the failed ones."""
    from sparketl import manifest

    dml.set_base_dir(spark, str(tmp_path / "wh"))
    dialect.sql(spark, "drop schema if exists nse cascade")
    dialect.sql(spark, "create schema nse")
    dialect.sql(
        spark, "create table nse.t as select * from (values (1, 2)) as s(k, v)"
    )

    def fail(v):
        raise OSError("no space left on device")

    monkeypatch.setattr(manifest, "publish", fail)
    with pytest.raises(OSError, match="no space"):
        dialect.sql(spark, "update nse.t set v = v + 1")
    monkeypatch.undo()
    dialect.sql(spark, "truncate table nse.t")
    assert dialect.sql(spark, "select * from nse.t").collect() == []
    dialect.sql(spark, "drop schema nse cascade")


_CHECKSUM = "select count(*) as n, sum(k) as sk, sum(v) as sv from t_cr"


def test_concurrent_reader_sees_only_published_versions(spark, tmp_path):
    """A thread reads the partitioned table's checksum in a loop, both
    through the engine's view and through the manifest, while INSERT,
    UPDATE, DELETE and MERGE run: every read equals the checksum of a
    published version, and no read raises."""
    from sparketl import manifest

    dml.set_base_dir(spark, str(tmp_path / "wh"))
    rows = ", ".join(f"({k}, 'p{k % 4}', {k}.0)" for k in range(1, 201))
    dialect.sql(
        spark,
        "create table t_cr with (partitioned_by = array['g']) as "
        f"select * from (values {rows}) as s(k, g, v)",
    )
    root = dml.table_path(spark, "t_cr")

    def checksum(df) -> tuple:
        r = df.collect()[0]
        return (r[0], r[1], r[2])

    published = [checksum(dialect.sql(spark, _CHECKSUM))]
    seen: list[tuple] = []
    errors: list[str] = []
    stop = threading.Event()

    def reader() -> None:
        i = 0
        while not stop.is_set():
            try:
                if i % 2:
                    df = manifest.read(spark, root).selectExpr(
                        "count(*)", "sum(k)", "sum(v)"
                    )
                else:
                    df = dialect.sql(spark, _CHECKSUM)
                seen.append(checksum(df))
            except Exception as e:  # noqa: BLE001 - a failed read is the finding
                errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            i += 1

    t = threading.Thread(target=reader)
    t.start()
    try:
        for stmt in (
            "insert into t_cr values (501, 'p1', 1.5), (502, 'p9', 2.5)",
            "update t_cr set v = v + 100 where g = 'p2'",
            "delete from t_cr where g = 'p3' or k = 501",
            "merge into t_cr as x using (select 4 as sk union all "
            "select 777) as s on x.k = s.sk when matched then update set "
            "v = -1.0 when not matched then insert values (s.sk, 'p7', 7.0)",
            "insert into t_cr select k + 1000, g, v from t_cr where g = 'p0'",
            "delete from t_cr where k > 1100",
        ):
            dialect.sql(spark, stmt).collect()
            published.append(checksum(dialect.sql(spark, _CHECKSUM)))
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors[:3]
    assert len(seen) >= 6, len(seen)
    assert len(set(published)) == len(published)  # each statement changed it
    assert set(seen) <= set(published), sorted(set(seen) - set(published))


def test_concurrent_inserts_lose_no_acknowledged_statement(spark, tmp_path):
    """Two threads on one session each run 15 INSERTs into a one-row
    table: the table ends with one row per INSERT that returned, and
    every INSERT that did not return raised the stale-version error."""
    dml.set_base_dir(spark, str(tmp_path / "wh"))
    dialect.sql(spark, "create table t_conc as select * from (values (0, 0)) as s(k, w)")
    done: list[tuple] = []
    errors: list[str] = []

    def writer(w: int) -> None:
        for k in range(1, 16):
            try:
                dialect.sql(spark, f"insert into t_conc values ({k}, {w})").collect()
                done.append((k, w))
            except Exception as e:  # noqa: BLE001 - a failed INSERT is the finding
                errors.append(f"{type(e).__name__}: {str(e)[:300]}")

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    got = sorted(tuple(r) for r in dialect.sql(spark, "select * from t_conc").collect())
    assert got == sorted([(0, 0), *done])
    assert len(done) + len(errors) == 30
    assert all(e.startswith("RuntimeError") and ", not " in e for e in errors), errors[:3]
