"""Benchmark for the kgc pipeline: closed-loop workloads over kgc's public
entry points, with untraced end-to-end metrics and a separate traced run
that folds Spark's event log into per-layer counters (see run.py)."""
