"""perfbench: the repository benchmark (end-to-end and per-layer).

Usage, from the repository root (``BENCHMARK.json`` holds the run length)::

    python3 perfbench/run.py --workload crawl_filter --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 5 --trace 1
    python3 perfbench/run.py --workload contract_battery --sf-dir <dir> --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --sf-dir <dir> --seconds 5 --trace 0

The last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; progress and per-run details go to
standard error and to ``.perfbench/last-run.json``.  Inputs are built from
``--seed`` out of page blocks cached under ``.perfbench/inputs``.  See
``perfbench/README.md`` for the workloads, the metrics and which layer
metric should move which end-to-end metric.

One run: build inputs; set up once, timed from process start (imports, JVM
launch and SparkSession start, model-artifact load, the workload's untimed
warm-up run; input building excluded); then timed runs of the workload,
each from a collected JVM heap, until ``--seconds`` of run time have
accumulated, each followed by its output check.  Every process started on
the way (the JVM, its Python workers, the input builder's pool) has ended
before the process exits.  ``--trace 1`` instead runs once untraced, restarts the
session with Spark's event log on, runs once under the span ``full``,
materializes each layer boundary as its own span, and derives the
per-layer metrics from the event log.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
PACKAGE = "data_quality_monitoring_spark"


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_PROCESS:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ process tree

def _stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, by pid."""
    out = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                out[int(entry.name)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def _tree(root_pid: int, stats: dict[int, list[str]]) -> list[int]:
    """``root_pid`` and all its descendants (the driver, the JVM it
    launched and the Python workers the JVM forks)."""
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def _tree_rss_bytes(root_pid: int) -> int:
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in _tree(root_pid, _stats()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used by the process tree, ended children included:
    utime + stime + cutime + cstime of each process."""
    stats = _stats()
    ticks = sum(sum(int(x) for x in stats[pid][11:15])
                for pid in _tree(root_pid, stats) if pid in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


class RssMonitor:
    """Samples the process tree's summed RSS while ``active`` is set."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self.active, self._stop = threading.Event(), threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------- session

def start_session(cores: int, event_dir: Path | None = None):
    from data_quality_monitoring_spark.session import get_spark

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir.as_uri(),
                # Spark 4 defaults to rolling zstd logs; keep one plain file
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


# ----------------------------------------------------------- child processes

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the reaper of orphaned descendants: the Python workers the
    JVM forks outlive it for a moment and are then reparented here, where
    ``reap_children`` waits for them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me = str(os.getpid())
    return [pid for pid, fields in _stats().items() if fields[1] == me]


def reap_children(grace: float = 15.0) -> None:
    """Stop multiprocessing's resource tracker (the input builder's process
    pool starts it and it would outlive this process), then wait until every
    child and adopted orphan has ended: ``grace`` seconds, then SIGTERM,
    then SIGKILL."""
    import signal
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline, sig = time.time() + grace, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        if time.time() > deadline:
            log(f"sending {sig.name} to leftover processes {kids}")
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.time() + 5, signal.SIGKILL
        time.sleep(0.05)


def set_up(w, cores: int, gen_s: float) -> tuple[object, dict]:
    """Session start, artifact load and warm-up run, timed from process
    start minus the input build."""
    from data_quality_monitoring_spark import artifacts

    t0 = time.time()
    spark = start_session(cores)
    t1 = time.time()
    artifacts.get_langid_model()
    artifacts.get_bigram_models()
    t2 = time.time()
    w.warm_up(spark)
    t3 = time.time()
    start = T_PROCESS + gen_s
    times = {"setup_s": t3 - start, "session_s": t1 - start, "jvm_s": t1 - t0,
             "artifacts_s": t2 - t1, "warmup_s": t3 - t2}
    log("set-up: " + ", ".join(f"{k}={v:.2f}" for k, v in times.items()))
    return spark, times


# ---------------------------------------------------------------- timed runs

def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    ds, dt = after[0] - before[0], after[1] - before[1]
    return 100.0 * ds / dt if dt > 0 else 0.0


def timed_runs(w, spark, seconds: float, rss: RssMonitor) -> dict:
    from bench import _steal_ticks

    walls, cpu, steal, problems_per_run = [], [], [], []
    spent = 0.0
    i = 0
    while True:
        out = WORK / "out" / f"run-{i}"
        spark.sparkContext._jvm.System.gc()  # every job starts from a collected heap
        s0, c0 = _steal_ticks(), _tree_cpu_s(os.getpid())
        rss.active.set()
        t = time.perf_counter()
        summary = w.run_once(spark, out)
        dt = time.perf_counter() - t
        rss.active.clear()
        cpu.append(_tree_cpu_s(os.getpid()) - c0)
        steal.append(_steal_pct(s0, _steal_ticks()))
        problems = w.check(spark, out, summary)
        shutil.rmtree(out, ignore_errors=True)
        walls.append(dt)
        problems_per_run.append(problems)
        log(f"run {i}: {dt:.3f} s, cpu {cpu[-1]:.2f} s, steal {steal[-1]:.1f}%, "
            + ("ok" if not problems else "FAILED: " + "; ".join(problems)))
        spent += dt
        i += 1
        if spent >= seconds:
            return {"walls": walls, "cpu_s": cpu, "steal_pct": steal,
                    "problems": problems_per_run}


# ------------------------------------------------------------------- tracing

class Tracer:
    """``span(name, fn)``: run ``fn`` under job group ``name``, keep its wall."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}

    def __call__(self, name: str, fn):
        self.sc.setJobGroup(name, name)
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.walls[name] = time.perf_counter() - t
            self.sc.setJobGroup("untraced", "untraced")


def traced_run(w, spark, cores: int, setup: dict,
               rss: RssMonitor) -> tuple[dict, list[list[str]]]:
    import eventlog

    out = WORK / "out" / "trace"
    spark.sparkContext._jvm.System.gc()  # as in timed_runs
    rss.active.set()
    t = time.perf_counter()
    summary = w.run_once(spark, out)
    untraced_s = time.perf_counter() - t
    rss.active.clear()
    problems = [w.check(spark, out, summary)]
    spark.stop()

    event_dir = WORK / "eventlog"
    shutil.rmtree(event_dir, ignore_errors=True)
    spark = start_session(cores, event_dir)
    span = Tracer(spark)
    if w.name == "contract_battery":
        summary = w.run_once(spark, out, span)
        span.walls["full"] = sum(v for k, v in span.walls.items() if k.startswith("battery."))
    else:
        summary = span("full", lambda: w.run_once(spark, out))
    problems.append(w.check(spark, out, summary))
    counts = w.trace(spark, span, out)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    spans = eventlog.parse(str(event_dir / app_id))
    m = layer_metrics(w, cores, setup, span.walls, spans, counts, summary, out, untraced_s)
    m["peak_rss_mb"] = rss.peak / 2**20
    log("span walls: " + ", ".join(f"{k}={v:.2f}" for k, v in span.walls.items()))
    log(f"untraced run {untraced_s:.2f} s")
    return m, problems


def layer_metrics(w, cores, setup, walls, spans, counts, summary, out, untraced_s) -> dict:
    from eventlog import PYTHON_RECV, PYTHON_SENT, PYTHON_TIME, Span

    def self_s(name: str, parent: str) -> float:
        return walls[name] - walls[parent] if name in walls and parent in walls else 0.0

    if w.name == "contract_battery":
        full = Span.merged([s for k, s in spans.items() if k.startswith("battery.")])
    else:
        full = spans.get("full", Span())
    scrub = spans.get("scrub", Span())
    python_s = scrub.sql.get(PYTHON_TIME, 0) / 1000.0
    m = {
        "session.start_s": setup["session_s"],
        "artifacts.load_s": setup["artifacts_s"],
        "setup.warmup_s": setup["warmup_s"],
        "sources.scan_s": walls.get("scan", 0.0),
        "sources.bytes_read": full.bytes_read,
        "sources.read_amplification": full.bytes_read / max(w.input_bytes, 1),
        "extract.self_s": self_s("extract", "scan"),
        "rules.self_s": self_s("rules", "extract"),
        "langid.self_s": self_s("langid", "rules"),
        "perplexity.self_s": self_s("perplexity", "langid"),
        "scrub.self_s": self_s("scrub", "perplexity"),
        "arrow.python_s": python_s,
        "arrow.bytes_to_python": scrub.sql.get(PYTHON_SENT, 0),
        "arrow.bytes_from_python": scrub.sql.get(PYTHON_RECV, 0),
        "arrow.us_per_doc": python_s * 1e6 / w.docs if w.docs else 0.0,
        "spark.jobs": full.jobs,
        "spark.stages": full.stages,
        "spark.shuffle_write_bytes": full.shuffle_write_bytes,
        "spark.spill_bytes": full.spill_bytes,
        "spark.gc_s": full.gc_ms / 1000.0,
        "spark.task_skew": full.task_skew(min_tasks=cores),
        "spark.core_util": full.task_ms / 1000.0 / (walls["full"] * cores),
        "trace.overhead_s": walls["full"] - untraced_s,
    }
    if w.name != "contract_battery":
        # executions inserting into the data path; crawl_filter's also run
        # the filter, whose noop-sink wall is the scrub span
        write_s = sum(ms for path, ms in full.inserts if path == w.data_path(out)) / 1000.0
        m["sink.write_s"] = write_s - (walls["scrub"] if w.name == "crawl_filter" else 0.0)
        m["sink.post_write_s"] = walls["full"] - write_s
        m["sink.jobs_per_chunk"] = full.jobs / summary.get("chunks_run", 1)
        m["sink.bytes_written"] = full.bytes_written
    cand, ver = counts.get("candidate_pairs", 0), counts.get("verified_pairs", 0)
    m.update(
        {
            "dedup.filter_s": walls.get("dedup.filter", 0.0),
            "dedup.exact_s": walls.get("dedup.exact", 0.0),
            "dedup.minhash_s": walls.get("dedup.minhash", 0.0),
            "dedup.lsh_s": walls.get("dedup.lsh", 0.0),
            "dedup.candidate_pairs": cand,
            "dedup.verify_s": walls.get("dedup.verify", 0.0),
            "dedup.verified_pairs": ver,
            "dedup.pair_yield": ver / cand if cand else 0.0,
            "dedup.components_s": walls.get("dedup.components", 0.0),
            "dedup.cc_jobs": spans.get("dedup.components", Span()).jobs,
        }
    )
    if w.name == "contract_battery":
        m.update({k + "_s": v for k, v in walls.items() if k.startswith("battery.")})
    return m


# ---------------------------------------------------------------------- main

UNITS = {"_s": "s", "_bytes": "B", "bytes_read": "B", "bytes_written": "B",
         "bytes_to_python": "B", "bytes_from_python": "B"}


def _unit(name: str) -> str:
    if name == "docs_per_s":
        return "docs/s"
    if name == "peak_rss_mb":
        return "MB"
    if name == "arrow.us_per_doc":
        return "us/doc"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    if name.endswith(("amplification", "skew", "util", "yield")):
        return "ratio"
    return "count"


def _emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }), flush=True)


def run_workload(args) -> int:
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    extra = (args.sf_dir,) if args.workload == "contract_battery" else ()
    w = cls(WORK, args.seed, args.plant_fault, *extra)
    cores = os.cpu_count() or 1
    t = time.time()
    w.prepare()
    gen_s = time.time() - t
    log(f"{w.name}: inputs ready in {gen_s:.2f} s ({w.docs} docs, {w.input_bytes} B)")

    rss = RssMonitor()
    try:
        spark, setup = set_up(w, cores, gen_s)
        problems: list[list[str]] = []
        if args.workload == "contract_battery":
            problems.append(w.oracle_check(spark))
        if args.trace:
            metrics, more = traced_run(w, spark, cores, setup, rss)
            problems += more
            record = {"setup": setup, "layers": metrics}
        else:
            runs = timed_runs(w, spark, args.seconds, rss)
            spark.stop()
            problems += runs["problems"]
            metrics = {"setup_s": setup["setup_s"]}
            if args.workload == "contract_battery":
                metrics["battery_wall_s"] = _median(runs["walls"])
            else:
                metrics["docs_per_s"] = w.docs / _median(runs["walls"])
            record = {"setup": setup, "runs": runs, "peak_rss_mb": rss.peak / 2**20}
    finally:
        rss.close()
        stop_jvm()

    if args.workload == "contract_battery":  # failures are per query
        attempted = len(w.queries)
        failed = len({p.split(":", 1)[0] for ps in problems for p in ps})
    else:
        attempted, failed = len(problems), sum(1 for p in problems if p)
    record.update({"workload": w.name, "seed": args.seed, "trace": args.trace,
                   "problems": problems, "failed_frac": failed / attempted,
                   "metrics": metrics})
    (WORK / "last-run.json").write_text(json.dumps(record, indent=1, default=str))
    log(f"failed_frac {failed}/{attempted}; done in {time.time() - T_PROCESS:.1f} s")
    _emit(failed == 0, attempted, failed, metrics)
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload in its own process; the last line merges them."""
    names = ["crawl_filter", "corpus_dedup", "contract_battery"]
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in names:
        cmd = [sys.executable, str(Path(__file__)), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--sf-dir", args.sf_dir]
        if args.plant_fault:
            cmd.append("--plant-fault")
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if not lines:
            return proc.returncode or 1
        res = json.loads(lines[-1])
        print(json.dumps({"workload": name, **res}), flush=True)
        code = code or proc.returncode
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged), flush=True)
    return code


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl_filter", "corpus_dedup", "contract_battery", "all"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, required=True,
                   help="run time to measure, in whole runs (BENCHMARK.json run_seconds)")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                   help="contract_battery input (default $SPARK_GRAFT_SF_DIR)")
    p.add_argument("--plant-fault", action="store_true",
                   help="corrupt one observed output to show the checks fail")
    args = p.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir():
        log(f"{PACKAGE} not found next to perfbench/: run from a full checkout")
        return 2
    # Python workers inherit PYTHONPATH from the JVM this process launches,
    # so they import the package whatever the caller's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["TMPDIR"] = str(WORK / "tmp")
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    sys.path[:0] = [str(ROOT), str(HERE)]
    if args.workload in ("all", "contract_battery") and not (
        args.sf_dir and Path(args.sf_dir, "documents.parquet").exists()
    ):
        log("contract_battery reads an sf dir: pass --sf-dir or set SPARK_GRAFT_SF_DIR")
        return 2
    adopt_orphans()
    try:
        return run_all(args) if args.workload == "all" else run_workload(args)
    finally:
        reap_children()


if __name__ == "__main__":
    sys.exit(main())
