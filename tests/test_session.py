"""The per-session store: one dict per (session, name), shared safely by
threads, and a session restart inside one process that leaves the engine
working on the new session."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading
from concurrent.futures import ThreadPoolExecutor

from sparketl import session
from sparketl.operators.llm_common import _PIN_KEEP, _pin
from tests.conftest import SF_DIR

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
