"""kgc benchmark: one workload per invocation, from the checkout root.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 25 --trace 0

--trace 0 measures the end-to-end metrics on untraced iterations in a
fresh process: session start and input generation are the set-up, and the
first iteration is measured cold, as one spark-submit of kgc's CLI runs it.
--trace 1 is a separate run: set-up and a small warm-up iteration, one
untraced reference iteration, then one traced iteration whose spans and
Spark event log give the per-layer metrics. The last stdout line is the result object:
{"correct", "attempted", "failed", "metrics"}; the line before it holds
the host facts and run details.

Each run is hermetic: Spark's local dirs, the warehouse, workdirs and the
event log live in one temp root inside the checkout, deleted at exit after
the JVM and the Python worker daemon have exited.
"""

from __future__ import annotations

import time

T_START = time.time()  # before the heavy imports: set-up starts at process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
# local[N]: one JVM heap serves the whole cluster. It is committed and
# touched at JVM start, so peak memory does not depend on when G1 grows
# the heap; heap pressure shows as GC time instead.
HEAP = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measuring time; sets a fixed iteration count per workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _hermetic_env(tmp: str) -> None:
    for d in ("local", "warehouse", "pytmp", "jtmp", "eventlog"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )  # Python workers import kgc from this checkout
    os.environ["TMPDIR"] = os.path.join(tmp, "pytmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["KGC_WAREHOUSE_DIR"] = os.path.join(tmp, "warehouse")
    os.environ["KGC_DRIVER_MEM"] = HEAP
    os.environ.pop("KGC_CONF", None)  # the session under test is kgc's own


def _session(name: str, tmp: str, trace: bool):
    from kgc.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.defaultJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
        })
    return get_spark(app_name=f"kgbench-{name}", cpus=CPUS, extra_conf=conf)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process the session started has ended."""
    from pyspark import SparkContext

    from kgbench.procfs import tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


class Run:
    def __init__(self, wl, tmp: str):
        self.wl, self.tmp = wl, tmp
        self.errors: list[str] = []
        self.n_dirs = 0

    def workdir(self) -> str:
        self.n_dirs += 1
        return os.path.join(self.tmp, f"wd{self.n_dirs}")

    def iteration(self, tag: str, warm: bool = False):
        """One timed iteration plus its check; returns (wall_s, cpu_s, units,
        passed), or None when it raised."""
        from kgbench.procfs import tree_cpu_s

        wd = self.workdir()
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            units = self.wl.iterate(wd, tag, warm=warm)
        except Exception as e:  # noqa: BLE001 — a failed iteration is counted, not fatal
            traceback.print_exc()
            self.errors.append(f"{tag}: {type(e).__name__}: {e}")
            return None
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(os.getpid()) - c0
        errs = self.wl.check(wd, tag, warm=warm)
        shutil.rmtree(wd, ignore_errors=True)
        self.errors += [f"{tag}: {e}" for e in errs]
        return wall, cpu, units, not errs


def _measured(run: Run, n_iter: int) -> tuple[dict, int, dict]:
    from kgbench.procfs import PeakMemory

    results, passed = {}, set()
    with PeakMemory(os.getpid()) as mem:
        for i in range(n_iter):
            r = run.iteration(f"it{i}")
            if r is not None:
                results[f"it{i}"] = r[:3]
                if r[3]:
                    passed.add(f"it{i}")
    late = run.wl.finish()
    run.errors += [f"{tag}: {e}" for tag, e in late.items()]
    passed -= set(late)
    if not results:
        raise RuntimeError("every measured iteration raised: " + "; ".join(run.errors))
    # failed iterations are timed too, but only when none passed; the
    # result then says correct: false
    done = [r for tag, r in results.items() if tag in passed] or list(results.values())
    walls = [w for w, _, _ in done]
    metrics = {
        "docs_per_s": (run.wl.N_DOCS / statistics.median(walls), "1/s"),
        "cpu_s": (statistics.median([c for _, c, _ in done]), "s"),
        "peak_rss_mb": (mem.peak_mb, "MB"),
    }
    info = {
        "iteration_walls_s": [round(w, 4) for w in walls],
        f"{run.wl.units}_per_iteration": [u for _, _, u in done],
        f"{run.wl.units}_per_s": statistics.median([u / w for w, _, u in done]),
    }
    return metrics, n_iter - len(passed), info


def _traced(run: Run, spark, timing: dict) -> tuple[dict, int]:
    """Reference iteration, traced iteration (and for kg_build the
    streaming twin), then the event-log fold. Returns per-layer metrics."""
    from pyspark.sql.streaming import StreamingQueryListener

    from kgbench.tracing import Tracer

    t_ref = time.time()
    ref = run.iteration("reference")
    ref_window = (t_ref, time.time())
    if ref is None:
        raise RuntimeError("reference iteration failed: " + "; ".join(run.errors))
    tracer = Tracer(spark.sparkContext)
    wd = run.workdir()
    t_tr = time.time()
    found = run.wl.traced(tracer, wd)
    tr_window = (t_tr, time.time())
    errs = run.wl.check(wd, "traced")
    run.errors += [f"traced: {e}" for e in errs]
    late = run.wl.finish()
    run.errors += [f"{tag}: {e}" for tag, e in late.items()]
    bad = set(late) | ({"reference"} if not ref[3] else set()) | ({"traced"} if errs else set())
    files = [f for _, _, fs in os.walk(wd) for f in fs if not f.startswith(("_", "."))]
    stream = {}
    if hasattr(run.wl, "streaming"):
        class Progress(StreamingQueryListener):
            def __init__(self):
                self.progress = []

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                self.progress.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        stream = run.wl.streaming(Progress)
    timing.update(ref_wall=ref[0], traced_wall=tr_window[1] - tr_window[0])
    return {
        "tracer": tracer, "found": found, "ref_window": ref_window,
        "tr_window": tr_window, "files_written": len(files), "streaming": stream,
    }, len(bad)


def _layers(t: dict, log, timing: dict) -> dict:
    from kgbench.tracing import cpu_self_check, group_totals, self_times, window_counts

    spans = t["tracer"].spans
    selft = self_times(spans)
    found = t["found"]

    def self_s(name):
        return sum(selft[s.id] for s in spans if s.name == name)

    def tot(name):
        return group_totals(log, {s.group for s in spans if s.name == name})

    check = cpu_self_check(log, {s.group for s in spans}, *t["tr_window"])
    eng = window_counts(log, *t["ref_window"])
    every = group_totals(log, {s.group for s in spans})
    g = {n: tot(n) for n in ("extract", "link", "canon", "triples", "attribution",
                             "similarity", "recommend", "dedup", "pack", "finalize")}
    top = sum(s.end - s.start for s in spans if s.parent is None)
    ref_wall = timing["ref_wall"]
    m = {
        "extract.self_s": self_s("extract"), "extract.cpu_s": g["extract"]["cpu_s"],
        "extract.py_worker_s": g["extract"]["py_worker_s"],
        "extract.py_bytes_sent": g["extract"]["py_bytes_sent"],
        "extract.rows_out": g["extract"]["output_records"],
        "link.self_s": self_s("link"), "link.cpu_s": g["link"]["cpu_s"],
        "link.py_worker_s": g["link"]["py_worker_s"],
        "link.py_bytes_sent": g["link"]["py_bytes_sent"],
        "link.rows_out": g["link"]["output_records"],
        "canon.self_s": self_s("canon"), "canon.cpu_s": g["canon"]["cpu_s"],
        "canon.shuffle_bytes": g["canon"]["shuffle_write_bytes"],
        "canon.cc_iterations": found.get("cc_iterations", 0),
        "triples.self_s": self_s("triples"),
        "triples.shuffle_bytes": g["triples"]["shuffle_write_bytes"],
        "triples.exchanges": g["triples"]["shuffle_stages"],
        "attribution.self_s": self_s("attribution"), "attribution.cpu_s": g["attribution"]["cpu_s"],
        "similarity.self_s": self_s("similarity"), "similarity.cpu_s": g["similarity"]["cpu_s"],
        "similarity.shuffle_bytes": g["similarity"]["shuffle_write_bytes"],
        "similarity.pairs_predicted": found.get("pairs_predicted", 0),
        "similarity.pairs_out": g["similarity"]["output_records"],
        "similarity.task_skew": g["similarity"]["task_skew"] if "pairs_predicted" in found else 0,
        "recommend.self_s": self_s("recommend"), "recommend.cpu_s": g["recommend"]["cpu_s"],
        "recommend.pairs_in": found.get("pairs_in", 0),
        "recommend.task_skew": g["recommend"]["task_skew"] if "pairs_in" in found else 0,
        "quality.self_s": self_s("quality"),
        "dedup.self_s": self_s("dedup"), "dedup.pairs_emitted": found.get("pairs_emitted", 0),
        "dedup.shuffle_bytes": g["dedup"]["shuffle_write_bytes"],
        "decontam.self_s": self_s("decontam"), "decontam.pairs": found.get("decontam_pairs", 0),
        "pack.self_s": self_s("pack"), "pack.py_worker_s": g["pack"]["py_worker_s"],
        "catalog.write_s": every["commit_s"] + sum(s.end - s.start for s in spans if s.name == "catalog"),
        "catalog.bytes_written": every["output_bytes"],
        "catalog.files_written": t["files_written"],
        "finalize.self_s": self_s("finalize"), "finalize.cpu_s": g["finalize"]["cpu_s"],
        "runner.overlap_s": top - ref_wall,
        "engine.jobs": eng["jobs"], "engine.stages": eng["stages"], "engine.tasks": eng["tasks"],
        "engine.gc_s": eng["gc_s"], "engine.spill_bytes": eng["spill_bytes"],
        "session.start_s": timing["session_s"], "session.cold_iteration_s": timing["warm_s"],
        "trace.overhead_s": timing["traced_wall"] - ref_wall,
        "trace.unattributed_cpu_s": check["unattributed_cpu_s"],
    }
    for k in ("planning_s", "add_batch_s", "wal_commit_s", "trigger_s", "drain_s"):
        m[f"streaming.{k}"] = t["streaming"].get(f"streaming.{k}", 0.0)
    return m


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "kgc", "session.py")):
        print(f"kgbench: no kgc package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from kgbench.procfs import HostFacts
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    host = HostFacts(ROOT)
    tmp = os.path.join(ROOT, ".kgbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    _hermetic_env(tmp)
    spark = None
    timing: dict = {}
    try:
        try:
            spark = _session(args.workload, tmp, bool(args.trace))
            timing["session_s"] = time.time() - T_START
            run = Run(WORKLOADS[args.workload](spark, tmp, args.seed), tmp)
            t0 = time.time()
            run.wl.prepare()
            timing["prep_s"] = time.time() - t0
            if args.trace:
                warm = run.iteration("warm", warm=True)
                if warm is None:
                    raise RuntimeError("warm-up iteration failed: " + "; ".join(run.errors))
                timing["warm_s"] = warm[0]
                traced, failed = _traced(run, spark, timing)
                attempted = 2
            else:
                setup_s = time.time() - T_START
                n_iter = max(1, round(args.seconds / run.wl.nominal_iter_s))
                metrics, failed, info = _measured(run, n_iter)
                metrics["setup_s"] = (setup_s, "s")
                attempted = n_iter
                timing.update(info)
        finally:
            if spark is not None:
                _shutdown(spark)
        timing["stopped_at_s"] = time.time() - T_START
        if args.trace:
            from kgbench.tracing import read_event_log

            (log_file,) = os.listdir(os.path.join(tmp, "eventlog"))
            log = read_event_log(os.path.join(tmp, "eventlog", log_file))
            units = _declared("per_layer")
            metrics = {k: (v, units[k]) for k, v in _layers(traced, log, timing).items()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run's temp root is still there
    declared = _declared("per_layer" if args.trace else "end_to_end")
    if {k: u for k, (_, u) in metrics.items()} != declared:
        raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(declared)}")
    facts = host.finish()
    print(json.dumps({"host": facts, "run": {"workload": args.workload, "seed": args.seed,
                                              "trace": args.trace, **timing},
                      "errors": run.errors[:20]}, default=str))
    print(json.dumps({
        "correct": not run.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
