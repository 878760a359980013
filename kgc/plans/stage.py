"""The stage runner shared by run_pipeline and run_curation (SURVEY.md §3.2).

A stage resumes from ``<workdir>/<name>/`` when its manifest still matches
the input fingerprint (op-03). Otherwise it builds its table, writes and
re-reads it, and a finalize job records the per-partition lineage metrics
(op-05) and then the manifest. The finalize runs on a driver thread so its
scan back-fills executors while the next stage's build ramps up (guide
§2.6 overlap rule). Durability does not depend on it: the data is fully
written before the finalize is queued, and a run that dies before a
manifest lands only recomputes that stage on resume, never reads bad data.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import Future, ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from kgc.plans.metrics import partition_metrics
from kgc.sources import catalog as cat

# Separate single-worker pools so a concurrently running STAGE (which itself
# queues a finalize) can never starve the finalize queue: §2.6's "2-3 jobs in
# flight is plenty". Shared by every runner in the process.
_META_POOL = ThreadPoolExecutor(max_workers=1, thread_name_prefix="kgc-stage-meta")
_RUN_POOL = ThreadPoolExecutor(max_workers=1, thread_name_prefix="kgc-stage-run")


def _write_metrics_parquet(mdir: str, rows: list) -> None:
    """Overwrite <mdir> with the collected op-05 metric rows as one parquet
    file (stage string, partition_id int32, rows_out int64, fingerprint
    int64)."""
    shutil.rmtree(mdir, ignore_errors=True)
    os.makedirs(mdir, exist_ok=True)
    table = pa.table(
        {
            "stage": pa.array([r["stage"] for r in rows], pa.string()),
            "partition_id": pa.array([r["partition_id"] for r in rows], pa.int32()),
            "rows_out": pa.array([r["rows_out"] for r in rows], pa.int64()),
            "fingerprint": pa.array([r["fingerprint"] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(mdir, "part-00000.parquet"))


class StageRunner:
    """Runs the stages of one DAG run into `workdir`.

    `run` builds a stage on the caller's thread; `start` runs it beside the
    caller and returns its future. Each computed stage's wall seconds (0.0
    when resumed) land in `timings[name]`. Leaving the ``with`` block waits
    for every started stage and every queued finalize, on success and on
    error alike, so no Spark job of this run outlives the call that saw it
    end. Waiting instead of cancelling is safe: each queued finalize belongs
    to a stage whose data is already written, and letting it finish saves a
    recompute on resume. The caller's own exception wins; otherwise the
    first failed future's exception is raised."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        input_fp: str,
        force: bool,
        timings: dict[str, float],
    ) -> None:
        self.spark = spark
        self.workdir = workdir
        self.input_fp = input_fp
        self.force = force
        self.timings = timings
        # started stages and queued finalizes, in submission order; a stage
        # started here queues its finalize before its own future resolves
        self._pending: list[Future] = []

    def __enter__(self) -> StageRunner:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        first = None
        for f in self._pending:  # may grow while earlier futures are awaited
            try:
                f.result()
            except Exception as e:  # noqa: BLE001 — raised below unless the caller failed
                first = first or e
        if exc is None and first is not None:
            raise first

    def start(self, name: str, build, bucket_by: str | None = None) -> Future:
        fut = _RUN_POOL.submit(self.run, name, build, bucket_by)
        self._pending.append(fut)
        return fut

    def run(self, name: str, build, bucket_by: str | None = None) -> DataFrame:
        spark, path = self.spark, os.path.join(self.workdir, name)
        if not self.force:
            cached = cat.resume(spark, path, name, self.input_fp)
            if cached is not None:
                print(f"[kgc] stage {name}: resumed from checkpoint")
                self.timings[name] = 0.0
                return cached
        t0 = time.time()
        df = build()
        cat.write_table(df, path, bucket_by=bucket_by)
        out = cat.read_table(spark, path)

        # ONE post-write scan serves both the lineage metrics (op-05) and the
        # manifest row count (op-03). The metric rows are partition-count-sized
        # (one per scan task, never data-sized), so they are collected once and
        # written driver-side with pyarrow.
        def finalize() -> None:
            spark.sparkContext.setJobDescription(f"stage {name}: op-05 metrics")
            rows = partition_metrics(out, name).collect()
            _write_metrics_parquet(os.path.join(self.workdir, "stage_metrics", name), rows)
            n_rows = sum(r["rows_out"] for r in rows)
            cat.write_manifest(path, name, self.input_fp, int(n_rows), df.schema.simpleString())

        self._pending.append(_META_POOL.submit(finalize))
        wall = time.time() - t0
        self.timings[name] = round(wall, 3)
        print(f"[kgc] stage {name}: computed in {wall:.1f}s")
        return out
