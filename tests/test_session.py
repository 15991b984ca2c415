"""The per-session store: one dict per (session, name), shared safely by
threads, and a session restart inside one process that leaves the engine
working on the new session."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import textwrap
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError

from sparketl import cds, session
from sparketl.operators.llm_common import _PIN_KEEP, _pin
from tests.conftest import SF_DIR, SF_SMOKE_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_store_loses_no_update_under_threads():
    class Owner:  # stands in for a session: any weakly referenceable key
        pass

    owners = [Owner() for _ in range(200)]
    n = 16
    start = threading.Barrier(n)

    def put(i: int) -> None:
        # every thread reaches each fresh owner's first lookup together
        for owner in owners:
            start.wait(timeout=30)
            session.state(owner, "d")[i] = i
            session.memo(owner, "m")[i] = i

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            list(pool.map(put, range(n), timeout=120))
    finally:
        sys.setswitchinterval(old)
    for owner in owners:
        assert len(session.state(owner, "d")) == n
        assert len(session.memo(owner, "m")) == n
    session.reset(owners[0])
    assert session.memo(owners[0], "m") == {}
    assert len(session.state(owners[0], "d")) == n


def test_pin_stays_bounded_under_threads(spark):
    frames = [spark.range(i) for i in range(256)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            list(pool.map(_pin, frames, timeout=120))
    finally:
        sys.setswitchinterval(old)
    assert len(session.memo(spark, "pins")) <= _PIN_KEEP


def test_reset_unpersists_what_a_query_cached(spark):
    from sparketl.operators.llm_dedup import llm_dedup_minhash_lsh

    def persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    session.reset(spark)
    before = persistent()
    assert llm_dedup_minhash_lsh(spark, SF_SMOKE_DIR).collect()
    assert persistent() > before
    session.reset(spark)
    assert persistent() == before


_RESTART = textwrap.dedent(
    """
    import sys
    from sparketl import registry
    from sparketl.session import get_spark
    from sparketl.tables import load_tables

    registry.load_all_modules()
    sf_dir = sys.argv[1]
    q = registry.QUERIES

    old = get_spark("sparketl-restart")
    # fill the session's pinned frames to their bound, and memoize CC labels
    for _ in range(4):
        q["ts_rollup_cascade"](old, sf_dir).collect()
    want_cc = sorted(q["llm_dedup_components"](old, sf_dir).collect())
    old.stop()

    new = get_spark("sparketl-restart")
    assert new is not old
    want_ts = sorted(q["ts_rollup_cascade"](new, sf_dir).collect())
    assert want_ts, "ts_rollup_cascade returned no rows"
    load_tables(new, sf_dir)
    assert new.sql("select count(*) from region").collect()[0][0] == 5
    cc = q["llm_dedup_components"](new, sf_dir)
    assert cc.sparkSession is new, "CC labels came from the stopped session"
    assert sorted(cc.collect()) == want_cc
    new.stop()
    print("restart ok")
    """
)


def test_engine_survives_session_restart():
    # a child interpreter, so the suite's shared session is untouched
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": REPO,
    }
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, SF_DIR],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "restart ok" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )


_CDS_CHILD = textwrap.dedent(
    """
    import json
    from sparketl.session import get_spark

    spark = get_spark("sparketl-cds")
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = [a for a in mx.getInputArguments() if "Archive" in a]
    print("ARGS " + json.dumps(args))
    print("CP " + jvm.java.lang.System.getProperty("java.class.path"))
    print("SUM", spark.range(10).selectExpr("sum(id) as s").collect()[0].s)
    print("CONF", spark.conf.get("spark.sparketl.conf_probe", "unset"))
    """
)


def _cds_child(cache: str, **env: str) -> dict[str, str]:
    """Run a fresh engine process on the class-data cache ``cache``; its
    tagged output lines by tag."""
    proc = subprocess.run(
        [sys.executable, "-c", _CDS_CHILD],
        cwd=REPO,
        env={
            **os.environ,
            "XDG_CACHE_HOME": cache,
            "SPARK_GRAFT_CPUS": "2",
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "PYTHONPATH": REPO,
            **env,
        },
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    assert "[cds" not in proc.stdout, proc.stdout[-2000:]
    tagged = (line.split(" ", 1) for line in proc.stdout.splitlines() if " " in line)
    return {tag: rest for tag, rest in tagged if tag in ("ARGS", "CP", "SUM", "CONF")}


def _cds_dir(cache: str) -> str:
    return os.path.join(cache, "sparketl", "cds")


def _stem(cache: str) -> str:
    """The key's path stem that a start on the cache ``cache`` uses."""
    from pyspark.find_spark_home import _find_spark_home

    conf = os.path.join(cache, "sparketl", "conf")
    return os.path.join(_cds_dir(cache), cds._key(cds._java_home(), _find_spark_home(), conf))


def _wait_for_recorder(cache: str) -> None:
    """Wait until the JVM named by the recording lock has exited (it
    writes the archive at exit, after its Python process is gone)."""
    for lock in glob.glob(os.path.join(_cds_dir(cache), "*.lock")):
        with open(lock) as f:
            pid = int(f.readline())
        deadline = time.monotonic() + 300
        while True:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            assert time.monotonic() < deadline, f"recording JVM {pid} still running"
            time.sleep(0.2)


def _dead_pid() -> int:
    proc = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    return int(proc.stdout)


def test_cds_one_recorder_per_key(tmp_path, monkeypatch):
    """Whether a start records, uses or skips the archive, decided from
    the cache alone (no JVM starts here)."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    options, _, stem, records = cds._plan()
    assert records and f"-XX:ArchiveClassesAtExit={stem}.{os.getpid()}.part" in options
    assert cds._plan() is None  # this live process holds the lock
    with open(f"{stem}.lock", "w") as f:  # its JDK refused to record
        f.write(f"{_dead_pid()}\nrefused")
    assert cds._plan() is None  # so the key is not recorded again
    with open(f"{stem}.lock", "w") as f:  # its recorder was killed before it wrote
        f.write(f"{_dead_pid()}\nthe class path")
    options, _, _, records = cds._plan()  # so the key is recorded again
    assert records and f"-XX:ArchiveClassesAtExit={stem}.{os.getpid()}.part" in options
    with open(f"{stem}.lock") as f:
        assert f.read() == str(os.getpid())
    os.unlink(f"{stem}.lock")
    open(f"{stem}.jsa", "w").close()
    options, conf, _, records = cds._plan()
    assert not records and f"-XX:SharedArchiveFile={stem}.jsa" in options
    assert os.listdir(conf) == []
    # another cache launches with another conf dir heading the class path,
    # where this key's archive would not map: it gets a key of its own
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "moved"))
    _, _, other, _ = cds._plan()
    assert os.path.basename(other) != os.path.basename(stem)


def _gateway_exited():
    return PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})


def test_cds_start_without_options(tmp_path, monkeypatch):
    """A launch that fails with the CDS options is tried again without
    them; only when that succeeds is the cache changed (fake launches,
    no JVM starts here)."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)

    def launcher(fails: int):
        calls = []

        def start(options: str):
            calls.append(options)
            if len(calls) <= fails:
                raise _gateway_exited()
            return "session"

        return start, calls

    _, _, stem, _ = cds._plan()  # the key's path; this process holds its lock
    os.unlink(f"{stem}.lock")
    open(f"{stem}.jsa", "w").close()
    start, calls = launcher(fails=2)  # the JVM will not start at all
    with pytest.raises(PySparkRuntimeError):
        cds.start_driver(start)
    assert "SharedArchiveFile" in calls[0] and calls[1] == ""
    assert os.path.exists(f"{stem}.jsa")  # the archive was not the cause
    start, calls = launcher(fails=1)  # the JVM refuses the archive only
    assert cds.start_driver(start) == "session"
    assert not os.path.exists(f"{stem}.jsa")

    start, calls = launcher(fails=2)  # a recording whose JVM will not start
    with pytest.raises(PySparkRuntimeError):
        cds.start_driver(start)
    assert "ArchiveClassesAtExit" in calls[0] and calls[1] == ""
    with open(f"{stem}.lock") as f:  # unmarked: recorded again once this process is gone
        assert f.read() == str(os.getpid())
    os.unlink(f"{stem}.lock")
    start, calls = launcher(fails=1)  # a JDK that refuses to record
    assert cds.start_driver(start) == "session"
    with open(f"{stem}.lock") as f:
        assert f.read() == f"{os.getpid()}\nrefused"


@pytest.fixture(scope="module")
def cds_cache(tmp_path_factory):
    """A cache whose archive was recorded by one process and then
    promoted and used by the next; the two processes' outputs."""
    cache = str(tmp_path_factory.mktemp("xdg"))
    first = _cds_child(cache)
    _wait_for_recorder(cache)
    second = _cds_child(cache)
    return cache, first, second


def test_cds_archive_recorded_then_used(cds_cache):
    cache, first, second = cds_cache
    assert "ArchiveClassesAtExit" in first["ARGS"], first
    assert first["SUM"] == "45"
    (jsa,) = glob.glob(os.path.join(_cds_dir(cache), "*.jsa"))
    assert os.path.getsize(jsa) > 50 << 20
    assert json.loads(second["ARGS"]) == [f"-XX:SharedArchiveFile={jsa}"]
    assert second["SUM"] == "45"
    assert not glob.glob(os.path.join(_cds_dir(cache), "*.part"))
    assert not glob.glob(os.path.join(_cds_dir(cache), "*.lock"))
    # the recording's own log outlives the session that used the archive
    # (which truncated <key>.log when it opened it)
    (record_log,) = glob.glob(os.path.join(_cds_dir(cache), "*.record.log"))
    assert os.path.getsize(record_log) > 0


def test_cds_copied_cache_records_its_own_archive(cds_cache, tmp_path):
    """A copy of the cache under another ``XDG_CACHE_HOME`` launches with
    another conf directory on the class path, where the copied archive
    would not map: the start records an archive under its own key."""
    cache, _, _ = cds_cache
    moved = str(tmp_path / "moved")
    shutil.copytree(os.path.join(cache, "sparketl"), os.path.join(moved, "sparketl"))
    out = _cds_child(moved)
    assert out["SUM"] == "45"
    (arg,) = json.loads(out["ARGS"])
    assert arg.startswith(f"-XX:ArchiveClassesAtExit={_stem(moved)}."), arg
    _wait_for_recorder(moved)


def test_cds_truncated_part_is_not_promoted(cds_cache, tmp_path):
    """A recorder that died mid-dump left a truncated archive: mapping
    it would abort the JVM, so the next start deletes it and starts."""
    good_cache, _, used = cds_cache
    (good,) = glob.glob(os.path.join(_cds_dir(good_cache), "*.jsa"))
    stem = _stem(str(tmp_path))
    os.makedirs(os.path.dirname(stem))
    pid = _dead_pid()
    with open(good, "rb") as src, open(f"{stem}.{pid}.part", "wb") as dst:
        dst.write(src.read(os.path.getsize(good) // 3))
    # the recorder's class path, on this cache's empty conf directory
    class_path = used["CP"].replace(good_cache, str(tmp_path), 1)
    with open(f"{stem}.lock", "w") as f:
        f.write(f"{pid}\n{class_path}")

    out = _cds_child(str(tmp_path))
    assert out["SUM"] == "45"
    assert "SharedArchiveFile" not in out["ARGS"], out
    assert not os.path.exists(f"{stem}.{pid}.part")
    assert not os.path.exists(f"{stem}.jsa")
    _wait_for_recorder(str(tmp_path))  # this start took the lock and recorded


def test_cds_host_that_cannot_record(tmp_path):
    """Without a base CDS archive (``-Xshare:off`` stands in for a JDK
    that has none) the JVM refuses to record: the session starts without
    the archive, and the next one does not try again."""
    cache = str(tmp_path)
    for _ in range(2):
        out = _cds_child(cache, JAVA_TOOL_OPTIONS="-Xshare:off")
        assert json.loads(out["ARGS"]) == []
        assert out["SUM"] == "45"
    (lock,) = glob.glob(os.path.join(_cds_dir(cache), "*.lock"))
    with open(lock) as f:
        assert f.read().endswith("\nrefused")
    assert not glob.glob(os.path.join(_cds_dir(cache), "*.jsa"))


def test_cds_skipped_for_a_real_conf_dir(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sparketl.conf_probe 7\n")
    cache = str(tmp_path / "xdg")
    out = _cds_child(cache, SPARK_CONF_DIR=str(conf))
    assert json.loads(out["ARGS"]) == []
    assert out["CONF"] == "7"
    assert out["SUM"] == "45"
    assert not os.path.exists(cache)
