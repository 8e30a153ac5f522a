"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout of the repository. Generates (or reuses)
the seeded inputs and their DuckDB oracle answers, starts a fresh Spark
session on local[<cpus>], sets up, measures closed-loop passes for about
``--seconds``, checks every output, and prints one JSON object as the last
line of standard output. Lines before it, starting with ``#``, give the
same figures for people, with sample counts.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload in a session that writes Spark's event log and tags jobs with the
benchmark's job groups, prints the per-layer metrics and writes the span
file to perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, "out")

# Bounded metrics. Wall-clock figures of the timed pass (query_total_s,
# step_p50_ms, the tails) are printed on the "#" lines but not bounded:
# on a shared host they move with CPU steal far more than CPU time does.
# query_cpu_s leaves out the JIT compiler threads, whose share of a pass
# moves by several seconds with when compile thresholds are crossed.
END_TO_END = {
    "setup_s": "s",
    "query_cpu_s": "s",
}


def _env(work_dir: str) -> None:
    """Pin the session's environment: every core, the engine importable
    by Python workers, temporary space inside the run's work dir, and no
    engine knob inherited from the caller's shell."""
    for key in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_STREAM_STATE_PARTITIONS",
                "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(key, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    for d in ("local", "tmp", "checkpoints", "eventlog"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _fmt_tail(t) -> str:
    if t is None:
        return "n/a (fewer than 11 samples)"
    value, pct, n = t
    return f"{value:.4f} (p{pct:.1f} of {n} samples)"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import semantic_cpp_spark  # noqa: F401  (the program under test)
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}",
              file=sys.stderr)
        return 2
    from perfbench import gen, oracle, workloads
    from perfbench.trace import Recorder, reduce_event_log
    from semantic_cpp_spark import registry

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = workloads.WORKLOADS[a.workload]

    t = time.time()
    data_dir = gen.ensure_inputs(
        os.path.join(CACHE, "inputs"), workloads.SF, a.seed,
        workloads.STREAM_FILES, workloads.STREAM_WARMUP_FILES,
    )
    in_hash = gen.input_hash(data_dir)
    prep_s = time.time() - t
    t = time.time()
    sql = registry.oracle_sql()
    answers = oracle.answers(
        data_dir, in_hash, {o: sql[o] for o in spec["oracles"].values()},
        os.path.join(CACHE, "oracle"),
    )
    oracle_s = time.time() - t
    print(f"# {a.workload} seed {a.seed} inputs {in_hash} "
          f"prep_s {prep_s:.2f} oracle_s {oracle_s:.2f}", flush=True)

    steal0 = _cpu_ticks()
    work_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    _env(work_dir)
    events = int(1_000_000 * workloads.SF)
    try:
        if a.trace:
            log_dir = os.path.join(work_dir, "eventlog")
            rec = Recorder()
            res = workloads.run(a.workload, data_dir, answers, a.seconds,
                                work_dir, rec, event_log_dir=log_dir)
            (log_name,) = os.listdir(log_dir)
            with open(os.path.join(log_dir, log_name)) as f:
                red = reduce_event_log(f, rec.spans)
            layers = red["layers"]
            layers["jvm.peak_rss_mb"] = res.peak_rss_mb
            layers["jvm.jit_cpu_s"] = res.jit_s
            layers["trace.query_total_s"] = res.query_total_s()
            # The event log's cost is the CPU of the listener thread that
            # writes it. Comparing against an untraced run instead would
            # measure mostly host noise: the wall time of one pass moves by
            # 20% between runs on a shared host.
            layers["trace.overhead_ratio"] = res.cpu_s / (res.cpu_s - res.event_log_cpu_s)
            os.makedirs(OUT, exist_ok=True)
            span_file = os.path.join(OUT, f"trace-{a.workload}-seed{a.seed}.json")
            with open(span_file, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "inputs": in_hash, **red}, f)
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
        else:
            res = workloads.run(a.workload, data_dir, answers, a.seconds,
                                work_dir, Recorder())
            s = workloads.summary(res, events)
            metrics = {k: {"value": s[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        _stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)

    steal = [y - x for x, y in zip(steal0, _cpu_ticks())]
    attempted, failed = res.attempted, res.failed
    for msg in res.failures:
        print(f"# FAILED {msg}", flush=True)
    if a.trace:
        print(f"# span file {os.path.relpath(span_file, ROOT)} "
              f"({len(red['spans'])} spans, {red['unattributed_jobs']} jobs "
              "outside any benchmark span)")
        print("# query                       build_s build_jobs build_exec_s "
              "build_driver_s  exec_s exec_jobs")
        for q, row in red["queries"].items():
            print(f"# {q:<28}{row.get('build_s', 0):8.3f}{row.get('build_jobs', 0):11.1f}"
                  f"{row.get('build_executor_s', 0):13.3f}{row.get('build_driver_s', 0):15.3f}"
                  f"{row.get('exec_s', 0):8.3f}{row.get('exec_jobs', 0):10.1f}")
        for k, m in metrics.items():
            print(f"# {k} = {m['value']:.6g} {m['unit']}")
    else:
        print(f"# setup_s = {s['setup_s']:.3f} s")
        print(f"# query_total_s = {s['query_total_s']:.3f} s ({s['passes']} timed passes)")
        print(f"# query_cpu_s = {s['query_cpu_s']:.3f} s (JIT compiler threads, "
              f"not included: {s['jit_cpu_s']:.3f} s)")
        print(f"# query_tail_s = {_fmt_tail(s['query_tail_s'])} s")
        print(f"# step_p50_ms = {s['step_p50_ms']:.1f} ms (of {len(res.steps_ms())} steps)")
        print(f"# step_tail_ms = {_fmt_tail(s['step_tail_ms'])} ms")
        if "events_per_s" in s:
            print(f"# events_per_s = {s['events_per_s']:.1f} events/s")
        print(f"# peak_rss_mb = {s['peak_rss_mb']:.1f} MB")
        print(f"# failed_share = {failed}/{attempted} = {s['failed_share']:.4f} ratio")
    # time the hypervisor ran other guests on this machine's CPUs; a
    # large share means a noisy host, not a slow engine
    print(f"# cpu steal share during the run: {steal[7] / max(1, sum(steal)):.3f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio") or name == "spark.task_skew":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
