#!/usr/bin/env python3
"""Run one benchmark workload in this fresh process and print its metrics.

    python3 perfbench/run.py --workload core_sf0.1 --seed 1 --seconds 60 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` the
per-layer ones.  Lines before it start with ``#`` and give the host
sizing, the tail percentile used, the read/write split and any failed
operation by name.  The full report (every operation, every metric) is
written under ``.scale/perfbench/reports/``, and a traced run's spans
under ``.scale/perfbench/traces/`` as JSONL.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context, resource_tracker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, stats  # noqa: E402
from perfbench.trace import COUNTERS, NoTrace, Tracer, instrument_translate  # noqa: E402
from perfbench.workloads import WORKLOADS, check_all, execute  # noqa: E402

#: ``load_tables`` runs this many times in set-up; ``setup_s`` takes
#: the median so one slow load does not set it.
SETUP_LOADS = 3


def size_to_host(run_dir: str) -> dict:
    """Spark sizing from this host, passed through the engine's own
    environment knobs before the JVM starts.  The benchmark sets no
    Spark conf of its own, so engine conf changes show in its numbers.
    Scratch and temporary files stay under ``run_dir``."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap = f"{mem_kb // 4 // 1024}m"  # a quarter of RAM: the host has no swap
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers unpickle engine functions by module path
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    tempfile.tempdir = tmp
    return {"cpus": cores, "heap": heap}


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while we looked
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """Running, as opposed to gone or a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop(spark) -> None:
    """Stop the session and wait until the JVM and every process it
    started (Python workers) have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    started = [proc.pid, *_descendants(proc.pid)]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            for p in filter(_alive, started):
                os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans: list[dict], ops, cores: int) -> tuple[dict, float]:
    """Per-layer metrics from the traced spans, and the lowest share of
    an operation's wall its direct child spans account for.

    Times of a layer (``*_s`` except executor/GC time) are medians over
    the operations that entered that layer; counts, executor time and
    megabytes are run totals."""
    by_op: dict[str, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    durs: dict[str, list[float]] = {k: [] for k in ("build", "plan", "exec", "stmt", "translate")}
    totals = dict.fromkeys(["jobs", "stages", "build_jobs", "stmt_jobs", *COUNTERS], 0.0)
    busy: list[float] = []
    coverage = 1.0
    for op_spans in by_op.values():
        root = next(s for s in op_spans if s["name"] == "op")
        children = [s for s in op_spans if s["parent"] == root["id"]]
        wall = root["end"] - root["start"]
        covered = sum(c["end"] - c["start"] + c.get("trace_s", 0.0) for c in children)
        coverage = min(coverage, covered / wall if wall > 0 else 1.0)
        for s in op_spans:
            if s["name"] in durs and s["name"] != "translate":
                durs[s["name"]].append(s["end"] - s["start"])
            if "jobs" in s:
                for key in ("jobs", "stages", *COUNTERS):
                    totals[key] += s[key]
                if s["name"] in ("build", "stmt"):
                    totals[f"{s['name']}_jobs"] += s["jobs"]
            if s["name"] == "exec" and s["end"] > s["start"]:
                busy.append(s["executor_run_s"] / ((s["end"] - s["start"]) * cores))
        tr = [s["end"] - s["start"] for s in op_spans if s["name"] == "translate"]
        if tr:
            durs["translate"].append(sum(tr))
    out = {f"{k}_s": _median(v) for k, v in durs.items()}
    out.update(totals)
    out["core_busy_frac"] = _median(busy)
    written = [op.written for op in ops if op.written]
    for key in ("files_written", "mb_written", "partitions_written"):
        out[key] = sum(w[key] for w in written)
    return out, coverage


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(inputs.STATE, exist_ok=True)
    run_dir = os.path.join(inputs.STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        # The spawn pool started multiprocessing's resource tracker, which
        # would otherwise exit only after this process; end it and wait.
        resource_tracker._resource_tracker._stop()


def _run(args, run_dir: str) -> int:
    host = size_to_host(run_dir)
    info = {
        **host,
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "commit": git_commit(),
        "clients": 1,
        "loop": "closed",
    }
    # The pool's workers start before the engine.  They fingerprint
    # DuckDB's answers, read the host's speed between operations and,
    # once the engine has stopped, fingerprint the engine's outputs; they
    # sit idle while anything is timed.
    t_start = time.perf_counter()
    cores = host["cpus"]
    with ProcessPoolExecutor(cores, mp_context=get_context("spawn")) as pool:
        list(pool.map(stats.host_ref_s, [1] * cores))  # start every worker now
        # untimed: inputs and the oracle's answers (cached per seed)
        workload = WORKLOADS[args.workload](args.workload, args.seed, pool)
        sf_dir = workload.sf_dir
        info["prepare_s"] = time.perf_counter() - t_start

        from sparketl import tables
        from sparketl.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        try:
            loads = []
            for _ in range(SETUP_LOADS):
                tables.clear_cache()  # each load does the full work
                t0 = time.perf_counter()
                tables.load_tables(spark, sf_dir)
                loads.append(time.perf_counter() - t0)
            ctas_s = workload.setup(spark, run_dir)
            setup = {
                "session_s": session_s,
                "load_tables_s": statistics.median(loads),
                "ctas_s": ctas_s,
            }

            tracer = Tracer(spark) if args.trace else NoTrace()
            with instrument_translate(tracer) if args.trace else contextlib.nullcontext():
                ops = execute(
                    workload,
                    spark,
                    tracer,
                    args.seconds,
                    functools.partial(stats.host_ref_all_cores, pool.map, cores),
                )
            extra, final_error = workload.finish(spark)
            peak = stats.peak_rss_mb(["self", spark.sparkContext._gateway.proc.pid])
            t0 = time.perf_counter()
        finally:
            stop(spark)
        info["stop_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        check_all(ops, pool.map)
        info["check_s"] = time.perf_counter() - t0
    info["process_s"] = time.perf_counter() - t_start

    return report(args, info, setup, ops, extra, final_error, peak, tracer)


def report(args, info, setup, ops, extra, final_error, peak, tracer) -> int:
    done = [op for op in ops if op.error is None]
    failed = [op for op in ops if op.error is not None]
    lat = [op.latency_s for op in done]
    if not lat:
        print(f"# every operation failed: {[(op.name, op.error) for op in failed]}", file=sys.stderr)
        return 1
    # every time below is scaled to the nominal host speed by this run's
    # median reading (stats.at_nominal_speed); the report keeps raw times
    info["host_ref_s"] = ref = statistics.median(op.host_ref_s for op in ops)
    summary = stats.summary([stats.at_nominal_speed(t, ref) for t in lat])
    end_to_end = {
        "setup_s": stats.at_nominal_speed(
            setup["session_s"] + setup["load_tables_s"] + setup["ctas_s"], ref
        ),
        "wall_s": stats.at_nominal_speed(sum(lat), ref),
        "op_p50_s": summary["p50"],
        "op_tail_s": summary["tail"],
    }
    details = {
        "op": summary,
        "failed_frac": len(failed) / len(ops),
        "failed_ops": {op.name: op.error for op in failed},
        "peak_rss_mb": peak,
        **extra,
    }
    for kind in ("read", "write"):
        kl = [stats.at_nominal_speed(op.latency_s, ref) for op in done if op.kind == kind]
        if kl:
            details[kind] = stats.summary(kl)
    if final_error:
        details["failed_ops"]["final_table"] = final_error
    declared = _declared_metrics()
    metrics = {m["name"]: {"value": end_to_end[m["name"]], "unit": m["unit"]} for m in declared["end_to_end"]}
    layers = None
    if args.trace:
        layers, coverage = layer_metrics(tracer.spans, ops, info["cpus"])
        layers.update(setup)
        layers["traced_wall_s"] = end_to_end["wall_s"]
        layers["peak_rss_mb"] = peak
        details["span_coverage_min"] = coverage
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in declared["per_layer"]}
        os.makedirs(os.path.join(inputs.STATE, "traces"), exist_ok=True)
        tracer.write_jsonl(
            os.path.join(inputs.STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        )

    os.makedirs(os.path.join(inputs.STATE, "reports"), exist_ok=True)
    path = os.path.join(
        inputs.STATE, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(
            {
                "run": info,
                "setup": setup,
                "end_to_end": end_to_end,
                "layers": layers,
                "details": details,
                "ops": [vars(op) for op in ops],
            },
            f,
            indent=1,
        )

    print(f"# run: {json.dumps(info)}")
    print(
        f"# op latency: p50 {summary['p50']:.4f} s, tail {summary['tail_pct']} "
        f"{summary['tail']:.4f} s over n={summary['n']}"
    )
    for kind in ("read", "write"):
        if kind in details:
            d = details[kind]
            print(
                f"# {kind}_p50_s {d['p50']:.4f}, {kind}_tail_s {d['tail']:.4f} "
                f"({d['tail_pct']}, n={d['n']})"
            )
    print(f"# peak_rss_mb {peak:.1f}")
    if "space_mb" in extra:
        print(f"# space_mb {extra['space_mb']:.3f}")
    print(f"# failed_frac {details['failed_frac']:.4f} {sorted(details['failed_ops'])}")
    if args.trace:
        print(f"# span_coverage_min {details['span_coverage_min']:.4f}")
    print(f"# report: {os.path.relpath(path, ROOT)}")
    n_failed = len(details["failed_ops"])
    print(
        json.dumps(
            {
                "correct": n_failed == 0,
                "attempted": len(ops),
                "failed": min(n_failed, len(ops)),
                "metrics": metrics,
            }
        )
    )
    return 0


def _declared_metrics() -> dict:
    """Metric names and units, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
