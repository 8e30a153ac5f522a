"""Profile the streaming-gate machinery cost (VERDICT r15 #5).

The streaming tier (~17 gates, ~45 s of sweep at sf0.1) was left alone in
r15 with the unmeasured claim "cost is the micro-batch machinery, not
plans". This script produces the measured breakdown: per gate, wall-clock
split into query construction, start→first-progress, processAllAvailable,
and stop, plus the per-micro-batch durationMs breakdown Spark itself
reports (addBatch / getBatch / latestOffset / queryPlanning /
triggerExecution / walCommit / commitOffsets) and the state-operator
commit times, and the CPU seconds the gate cost in each process: this
driver, the JVM, and the JVM's Python worker daemon and workers (read
from /proc, so reaped workers count through the daemon).

Usage: python scripts/stream_profile.py <sf_dir> [gate ...]
       SPARK_GRAFT_STREAM_CONF='k=v,k=v' to A/B session confs.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GATES = [
    "stream_stream_join",
    "stream_tumble_hour",
    "stream_running_stats",
    "stream_distinct_keys",
]


def cpu_ticks(root: int) -> dict[str, int]:
    """CPU clock ticks (user + system, including reaped children) used so
    far by ``root`` (``driver``), the JVM it launched (``jvm``) and the
    Python processes under that JVM (``python_workers``)."""
    parent, comm, ticks = {}, {}, {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        parent[int(d)] = int(rest[1])
        comm[int(d)] = stat[stat.find("(") + 1:stat.rfind(")")]
        ticks[int(d)] = sum(int(x) for x in rest[11:15])
    out = {"driver": 0, "jvm": 0, "python_workers": 0}
    for pid, t in ticks.items():
        depth, p = 0, pid
        while p and p != root:
            depth, p = depth + 1, parent.get(p, 0)
        if p != root:
            continue
        if depth == 0:
            out["driver"] += t
        elif depth > 1 and comm[pid].startswith("python"):
            out["python_workers"] += t
        else:
            out["jvm"] += t
    return out


def main() -> None:
    sf_dir = sys.argv[1]
    gates = sys.argv[2:] or GATES

    from pyspark.sql import DataFrame

    from semantic_cpp_spark import registry
    from semantic_cpp_spark.session import get_spark
    from semantic_cpp_spark.streaming import ops

    extra = {}
    for kv in filter(None, os.environ.get("SPARK_GRAFT_STREAM_CONF", "").split(",")):
        k, v = kv.split("=", 1)
        extra[k] = v
    spark = get_spark(
        "stream_profile",
        extra_conf={"spark.ui.showConsoleProgress": "false", **extra},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    # Intercept run_to_memory to time the phases and read progress.
    import uuid as _uuid

    def profiled_run(
        stream_df: DataFrame,
        output_mode: str,
        skip_no_data_batch: bool = False,
    ) -> DataFrame:
        spark_ = stream_df.sparkSession
        ck = "spark.sql.streaming.noDataMicroBatches.enabled"
        spark_.conf.set(ck, "false" if skip_no_data_batch else "true")
        name = f"sem_stream_{_uuid.uuid4().hex[:12]}"
        t0 = time.time()
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        t_start = time.time()
        try:
            q.processAllAvailable()
            t_paa = time.time()
            prog = [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()
        t_stop = time.time()
        batches = []
        for p in prog:
            d = p.get("durationMs", {})
            so = p.get("stateOperators", [])
            batches.append(
                {
                    "batchId": p.get("batchId"),
                    "numInputRows": p.get("numInputRows"),
                    "durationMs": d,
                    "stateCommitMs": [
                        s.get("commitTimeMs") for s in so
                    ],
                    "stateRows": [s.get("numRowsTotal") for s in so],
                    "stateShufflePartitions": [
                        s.get("numShufflePartitions") for s in so
                    ],
                }
            )
        profiled_run.last = {  # type: ignore[attr-defined]
            "start_s": round(t_start - t0, 3),
            "paa_s": round(t_paa - t_start, 3),
            "stop_s": round(t_stop - t_paa, 3),
            "batches": batches,
        }
        return stream_df.sparkSession.table(name)

    real = ops.run_to_memory
    ops.run_to_memory = profiled_run
    hz = os.sysconf("SC_CLK_TCK")
    try:
        for g in gates:
            cpu0 = cpu_ticks(os.getpid())
            t0 = time.time()
            df = qs[g](spark, sf_dir)
            t_build = time.time()
            n = df.count()
            t_collect = time.time()
            cpu1 = cpu_ticks(os.getpid())
            info = getattr(profiled_run, "last", {})
            print(
                json.dumps(
                    {
                        "gate": g,
                        "total_s": round(t_collect - t0, 3),
                        "construct_and_run_s": round(t_build - t0, 3),
                        "result_count_s": round(t_collect - t_build, 3),
                        "rows": n,
                        "cpu_s": {k: round((cpu1[k] - cpu0[k]) / hz, 2) for k in cpu1},
                        **info,
                    }
                ),
                flush=True,
            )
    finally:
        ops.run_to_memory = real


if __name__ == "__main__":
    main()
