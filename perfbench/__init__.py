"""Benchmark of the engine: seeded inputs, closed-loop workloads, oracle checks
and an event-log layer trace. Entry point: perfbench/run.py."""
