"""Pure helpers behind the benchmark's numbers: percentiles, the tail
rule, process memory and the on-disk directory diff.

Nothing here touches Spark, so the tests exercise it on tiny inputs.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np


def percentile(values: list[float], q: float) -> float:
    """The Harrell-Davis estimate of percentile ``q`` (in (0, 100)): a
    mean of every order statistic, weighted by the Beta(q(n+1),
    (1-q)(n+1)) mass over its slot.  It moves less from run to run than
    the one or two samples nearest the percentile, because a run of a
    few dozen operations has gaps between neighbouring latencies."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    n = len(xs)
    a, b = q / 100.0 * (n + 1), (1 - q / 100.0) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 64  # midpoints per slot; the weights are renormalised below
    weights = []
    for i in range(n):
        w = 0.0
        for j in range(steps):
            x = (i + (j + 0.5) / steps) / n
            w += math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
        weights.append(w)
    total = sum(weights)
    return sum(w * x for w, x in zip(weights, xs)) / total


#: Tail percentiles tried from the highest down.  A tail is reported
#: only where at least ten samples lie beyond it, so one slow
#: operation cannot set it alone.
TAIL_PERCENTILES = (90, 75)
MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[float, str]:
    """``(value, label)`` for the highest of p90/p75 that leaves at
    least ten samples beyond it.  With too few samples for either, the
    maximum is reported and labelled ``max`` so the report never claims
    a percentile the run could not support."""
    n = len(values)
    for q in TAIL_PERCENTILES:
        if n * (100 - q) / 100.0 >= MIN_BEYOND:
            return percentile(values, q), f"p{q}"
    return max(values), "max"


def summary(values: list[float]) -> dict:
    """Median, tail (with the percentile used) and sample count."""
    value, label = tail(values)
    return {"p50": percentile(values, 50), "tail": value, "tail_pct": label, "n": len(values)}


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of one process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")


def peak_rss_mb(pids: list[int | str]) -> float:
    """Sum of VmHWM over ``pids`` (the Python driver and its JVM)."""
    return sum(vm_hwm_kb(p) for p in pids) / 1024.0


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """``relative path -> (size, mtime_ns)`` for every file under root."""
    out: dict[str, tuple[int, int]] = {}
    for d, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _is_data(rel: str) -> bool:
    """Spark's ``_SUCCESS`` markers and ``.crc`` checksums are not data."""
    base = os.path.basename(rel)
    return not (base.startswith(("_", ".")) or base.endswith(".crc"))


def diff(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> dict:
    """Data files a statement wrote (new, or rewritten in place), their
    size, and the partition directories they landed in."""
    written = [r for r, sig in after.items() if _is_data(r) and before.get(r) != sig]
    return {
        "files_written": len(written),
        "mb_written": sum(after[r][0] for r in written) / 1e6,
        "partitions_written": len({os.path.dirname(r) for r in written}),
    }


def dir_mb(root: str) -> float:
    """Bytes on disk under ``root``, in MB."""
    return sum(size for size, _ in snapshot(root).values()) / 1e6


#: Keys sorted by the reference, and a typical reading of
#: ``host_ref_all_cores`` on the 4-core host the bounds were set on;
#: times are reported at this host speed.
REF_KEYS = 1_000_000
REF_NOMINAL_S = 0.02


def host_ref_s(keys: int = REF_KEYS) -> float:
    """Seconds one core takes to sort a fixed permutation of ``keys``
    int64 keys (8 MB): a reading of the host's speed at that moment, for
    work that streams memory as the engine's does."""
    perm = np.arange(keys, dtype=np.int64) * 2654435761 % keys
    t0 = time.perf_counter()
    np.sort(perm)
    return time.perf_counter() - t0


def host_ref_all_cores(map_, cores: int) -> float:
    """Mean ``host_ref_s`` of ``cores`` sorts run at once through
    ``map_`` (a process pool's).  Other tenants of a shared host slow
    work spread over every core, as the engine's is, more than work on
    one core."""
    return statistics.mean(map_(host_ref_s, [REF_KEYS] * cores))


def at_nominal_speed(seconds: float, ref_s: float) -> float:
    """``seconds`` measured while the reference took ``ref_s``, scaled
    to the time it would take at REF_NOMINAL_S.  A shared host's speed
    drifts by up to 1.7x over minutes, and engine times drift with it;
    scaling by a reading taken in the same run removes most of that
    drift from run-to-run comparisons."""
    return seconds * REF_NOMINAL_S / ref_s
