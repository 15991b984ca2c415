"""Tests of the benchmark's own logic on tiny inputs (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, stats  # noqa: E402
from perfbench.trace import NoTrace  # noqa: E402
from perfbench.workloads import Op, check_all, dml_stream, execute  # noqa: E402


# -- tail percentile rule ---------------------------------------------------


def test_tail_uses_p90_when_ten_samples_lie_beyond_it():
    values = [float(i) for i in range(100)]
    value, label = stats.tail(values)
    assert label == "p90"
    assert value == pytest.approx(89.5)


def test_tail_falls_back_to_p75_then_max():
    assert stats.tail([float(i) for i in range(99)])[1] == "p75"  # 9.9 beyond p90
    assert stats.tail([float(i) for i in range(40)]) == (pytest.approx(29.5), "p75")
    assert stats.tail([float(i) for i in range(39)]) == (38.0, "max")


def test_percentile_weighs_every_sample_and_steadies_across_a_gap():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == pytest.approx(2.0)
    assert stats.percentile([5.0], 50) == 5.0
    # the one middle sample jumps across the gap; the estimate moves a little
    low = [1.0] * 20 + [2.0] * 21
    high = [1.0] * 21 + [2.0] * 20
    assert stats.percentile(low, 50) - stats.percentile(high, 50) < 0.3
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_summary_reports_the_sample_count_and_percentile_used():
    s = stats.summary([3.0, 1.0, 2.0])
    assert s == {"p50": pytest.approx(2.0), "tail": 3.0, "tail_pct": "max", "n": 3}


# -- failed operations --------------------------------------------------------


class _FakeWorkload:
    """Three operations: one raises, one returns a wrong frame, one is right."""

    want = inputs.fingerprint(pd.DataFrame({"k": [1, 2]}))

    def ops(self):
        yield from (Op("raises", "query"), Op("wrong", "query"), Op("right", "query"))

    def run_op(self, spark, tracer, op):
        if op.name == "raises":
            raise RuntimeError("boom\nstack")
        op.latency_s = 0.01
        op.frame = pd.DataFrame({"k": [2, 1] if op.name == "right" else [1, 3]})
        op.want = self.want


def test_an_operation_that_raises_or_mismatches_counts_as_failed():
    ops = execute(_FakeWorkload(), None, NoTrace(), seconds=60)
    assert [op.name for op in ops] == ["raises", "wrong", "right"]
    assert ops[0].error == "RuntimeError: boom"
    assert ops[1].error is None  # not checked yet
    check_all(ops)
    assert ops[0].error == "RuntimeError: boom"
    assert ops[1].error.startswith("sha:")
    assert ops[2].error is None
    assert all(op.frame is None for op in ops)


def test_rows_only_check_fails_only_on_uncanonicalisable_cells():
    ok = Op("ok", "query", frame=pd.DataFrame({"k": [1]}))
    bad = Op("bad", "query", frame=pd.DataFrame({"k": [[1, 2]]}))
    check_all([ok, bad])
    assert ok.error is None
    assert bad.error.startswith("uncanonicalisable")


def test_fingerprint_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert inputs.fingerprint(a) == inputs.fingerprint(b)
    assert inputs.mismatch(inputs.fingerprint(a), inputs.fingerprint(a.head(1))).startswith("rows")
    bad_oracle = inputs.fingerprint(pd.DataFrame({"x": [[1]]}))
    assert inputs.mismatch(inputs.fingerprint(a), bad_oracle).startswith("oracle uncanonicalisable")


def test_loop_stops_starting_operations_at_the_deadline():
    assert execute(_FakeWorkload(), None, NoTrace(), seconds=0) == []


def test_times_scale_to_the_nominal_host_speed():
    assert stats.at_nominal_speed(3.0, stats.REF_NOMINAL_S) == pytest.approx(3.0)
    assert stats.at_nominal_speed(3.0, 2 * stats.REF_NOMINAL_S) == pytest.approx(1.5)
    assert stats.host_ref_s(10_000) > 0
    calls = []

    def map_(f, args):
        calls.append(list(args))
        return [0.01, 0.03]

    assert stats.host_ref_all_cores(map_, 2) == pytest.approx(0.02)
    assert calls == [[stats.REF_KEYS] * 2]


# -- peak memory --------------------------------------------------------------


def test_peak_rss_sums_vmhwm_of_each_process():
    child = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"], stdin=subprocess.PIPE)
    try:
        parts = [stats.vm_hwm_kb("self"), stats.vm_hwm_kb(child.pid)]
        assert all(p > 0 for p in parts)
        total = stats.peak_rss_mb(["self", child.pid])
        assert total == pytest.approx(sum(parts) / 1024.0, rel=0.05)
    finally:
        child.stdin.close()
        child.wait(timeout=30)


# -- directory diff behind files_written / mb_written -------------------------


def test_diff_counts_new_and_rewritten_data_files_only(tmp_path):
    for part in ("p=a", "p=b", "p=c"):
        (tmp_path / part).mkdir()
    (tmp_path / "p=a" / "old.parquet").write_bytes(b"x" * 1000)
    (tmp_path / "p=b" / "kept.parquet").write_bytes(b"y" * 10)
    before = stats.snapshot(str(tmp_path))
    (tmp_path / "p=a" / "old.parquet").write_bytes(b"z" * 2_000_000)  # rewritten
    (tmp_path / "p=c" / "new.parquet").write_bytes(b"w" * 500_000)  # added
    (tmp_path / "p=c" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "p=c" / ".new.parquet.crc").write_bytes(b"c" * 8)
    os.remove(tmp_path / "p=b" / "kept.parquet")  # deleted: nothing written
    d = stats.diff(before, stats.snapshot(str(tmp_path)))
    assert d == {"files_written": 2, "mb_written": 2.5, "partitions_written": 2}
    assert stats.dir_mb(str(tmp_path)) == pytest.approx(2.500008)


# -- the dml_rw stream ----------------------------------------------------------


def test_dml_stream_is_seeded_with_three_reads_per_single_partition_write():
    ops = dml_stream(7, n=40)
    assert [(o.text, o.duck) for o in ops] == [(o.text, o.duck) for o in dml_stream(7, n=40)]
    assert [o.text for o in ops] != [o.text for o in dml_stream(8, n=40)]
    writes = [o for o in ops if o.kind == "write"]
    assert len(writes) == 10
    assert {o.name.split("_")[1] for o in writes} == {"insert", "update", "delete", "merge"}
    for o in writes:
        # every priority literal a write names is the same one partition
        assert len(set(re.findall(r"'(\d-[A-Z ]+)'", o.text))) == 1
        assert o.duck and "merge" not in " ".join(o.duck)
