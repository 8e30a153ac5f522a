"""Capture .explain('formatted') output for registry queries.

The optimization-round deliverable (plans/r16/<query>_{before,after}.txt):
the judge cannot run Spark, so every plan claim in OPTIMIZATION_r16.md is
checked against these files.

FEEDER PLANS (VERDICT r15 #6/#9): heavy localCheckpoint adoption means
many consumer plans start at `Scan ExistingRDD`, hiding the construction
stage from the pins. This script therefore intercepts
DataFrame.localCheckpoint during each query's construction and dumps the
PRE-checkpoint plan of every feeder to
<out_dir>/<name>_feeder<i>_<suffix>.txt, so the checkpointed table's
shape (scans, exchanges, kernels) stays auditable next to the consumer
plan.

Usage:
    python scripts/capture_plans.py <sf_dir> <out_dir> <suffix> [name ...]

Writes <out_dir>/<name>_<suffix>.txt for each query (all registry queries
when no names are given).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    sf_dir, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    only = sys.argv[4:]

    import __spark_entry__ as e
    # Spark 4: pyspark.sql.DataFrame is the abstract facade; query code
    # resolves localCheckpoint on the CONCRETE classic class, so the
    # interception must land there.
    from pyspark.sql.classic.dataframe import DataFrame
    from semantic_cpp_spark.session import get_spark

    qs = e.queries()
    names = only or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        "capture_plans",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    real_lcp = DataFrame.localCheckpoint
    feeders: list[str] = []

    def capturing_lcp(self, *args, **kwargs):  # noqa: ANN001
        try:
            feeders.append(_explain(self))
        except Exception as exc:  # noqa: BLE001
            feeders.append(f"ERROR capturing feeder plan: {exc}")
        return real_lcp(self, *args, **kwargs)

    DataFrame.localCheckpoint = capturing_lcp
    try:
        for i, name in enumerate(names):
            feeders.clear()
            try:
                df = qs[name](spark, sf_dir)
                plan = _explain(df)
            except Exception as exc:  # noqa: BLE001 — capture must finish
                plan = f"ERROR capturing plan: {exc}"
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
            for j, fplan in enumerate(feeders):
                fpath = os.path.join(
                    out_dir, f"{name}_feeder{j}_{suffix}.txt"
                )
                with open(fpath, "w") as f:
                    f.write(fplan)
            print(
                f"[{i + 1}/{len(names)}] {name}"
                + (f" (+{len(feeders)} feeders)" if feeders else ""),
                flush=True,
            )
    finally:
        DataFrame.localCheckpoint = real_lcp


if __name__ == "__main__":
    main()
