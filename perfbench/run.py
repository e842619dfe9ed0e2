"""Frontier benchmark: one workload, one closed-loop client, local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 20 --trace 0

Set-up starts the Spark session, builds the workload's inputs and expected
outputs from ``--seed``, and runs one small warm-up unit through the same
code, which pays the session's first-use costs (Python workers, imports,
first codegen and JIT).  Measured units then run back to back until another
would overrun ``--seconds`` (at least one); each unit's output is checked
outside the timed region.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same units with span wrappers and the Spark event log
on, then one untraced unit, and prints the per-layer metrics.  Metric
names and units come from ``BENCHMARK.json``.  The last stdout line is the
result JSON, the line before it the run's stamp.

The run writes under ``.perfbench_work/`` in the repository root (removed
on exit) and appends its stamp to ``.perfbench_runs/<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROBE_ROWS_PER_CORE = 25_000_000


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _resident_bytes(pid: int) -> int:
    """RSS of the driver JVM; PSS of every other process, so the pages the
    forked Python workers share with their daemon count once, not once per
    worker (reading PSS walks the page tables, too slow for the JVM)."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            if fh.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as st:
                    return int(st.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Samples the resident memory of this process plus all its descendants
    (driver JVM, Python workers); ``peak`` is the highest sum since the last
    reset.  A sample costs a few milliseconds of mostly kernel time."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(self.interval):
            total = sum(_resident_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)

    def reset(self) -> None:
        self.peak = 0

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _stat(pid: int) -> tuple[str, str] | None:
    """(state, start time) of a process, or None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return fields[0], fields[19]
    except (OSError, IndexError):
        return None


def stop_all(spark) -> None:
    """Stop Spark, close the gateway JVM, and wait until every process this
    run started has ended (Python workers are re-parented when the JVM
    exits, so they are listed before it stops)."""
    # (pid, start time): a pid reused by an unrelated process is never waited on
    started = {(p, st[1]) for p in descendants(os.getpid()) if (st := _stat(p))}
    if spark is not None:
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def running() -> list[int]:
        now = {(p, st[1]) for p in descendants(os.getpid()) if (st := _stat(p))}
        out = []
        for pid, start in started | now:
            st = _stat(pid)
            if st is not None and st[1] == start and st[0] != "Z":
                out.append(pid)
        return out

    def wait(seconds: float) -> None:
        deadline = time.monotonic() + seconds
        while running() and time.monotonic() < deadline:
            time.sleep(0.2)

    wait(20)
    for pid in running():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait(10)
    for pid, _start in started:
        try:
            os.waitpid(pid, os.WNOHANG)  # reap direct children
        except ChildProcessError:
            pass


# ------------------------------------------------------------ session


def make_session(work: str, nproc: int, event_log: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the repository's bench session settings for wide binary rows
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # a fixed heap limit; resident memory follows what the engine touches
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_probe(spark, nproc: int) -> float:
    """Fixed JVM hash-and-sum job, PROBE_ROWS_PER_CORE rows per core: a
    drift control stamped next to every run."""
    t0 = time.perf_counter()
    spark.range(PROBE_ROWS_PER_CORE * nproc).selectExpr("sum(xxhash64(id) % 1048576)").collect()
    return time.perf_counter() - t0


def source_stamp() -> dict:
    """Commit when the tree is a git checkout, and a digest of the engine
    and benchmark sources either way."""
    h = hashlib.sha256()
    for base in ("spiderman_spark", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    commit = None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
        if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
            commit = out[1]
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {"commit": commit, "src_sha256": h.hexdigest()[:16]}


# ------------------------------------------------------------ run


def prepare_work(name: str) -> str:
    """Per-run scratch tree inside the checkout; Python workers import the
    checked-out package, and state, shuffle and temp files stay local."""
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    for sub in ("tmp", "local", "inputs", "units"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    return work


def benchmark_spec() -> dict[str, list[tuple[str, str]]]:
    """(name, unit) of every end-to-end and per-layer metric in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {k: [(m["name"], m["unit"]) for m in spec[k]] for k in ("end_to_end", "per_layer")}


def report(values: dict, spec: list[tuple[str, str]]) -> dict:
    """The result's metrics; the computed names must be exactly the listed ones."""
    names = [name for name, _unit in spec]
    if set(values) != set(names):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(names))}")
    return {name: {"value": values[name], "unit": unit} for name, unit in spec}


def set_up(spark, wl, seed: int, d: str) -> None:
    """Inputs from the seed, then the expected outputs (derived in this
    process, without Spark) while the warm-up unit runs."""
    wl.generate(spark, seed, d)
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        expecting = pool.submit(wl.expect)
        wl.unit(spark, os.path.join(d, "warm-unit"), warm=True)
        expecting.result()


def measure(wl, spark, seconds: float, units_dir: str, sampler, tracer=None):
    """Closed loop: the next unit starts after the previous one and its check
    end; stop once another unit would overrun ``seconds`` (at least one)."""
    units, failures, peaks = [], [], []
    spent = 0.0
    while not units or spent + units[-1].wall_s <= seconds:
        workdir = tempfile.mkdtemp(dir=units_dir)
        sampler.reset()
        try:
            if tracer is None:
                u = wl.unit(spark, workdir)
            else:
                with tracer.unit(wl.top):
                    u = wl.unit(spark, workdir, tracer)
        except Exception:
            traceback.print_exc()
            failures.append(["unit raised"])
            break
        peaks.append(sampler.peak)
        units.append(u)
        spent += u.wall_s
        bad = wl.check(u)  # outside the timed region
        for msg in bad:
            print(f"check failed: {msg}", file=sys.stderr)
        failures.append(bad)
        shutil.rmtree(workdir, ignore_errors=True)
    return units, failures, peaks


def end_to_end(units, peaks, setup_s: float) -> dict:
    rounds = [r for u in units for r in u.rounds]
    return {
        "wall_s": statistics.median(u.wall_s for u in units),
        "items_per_s": statistics.median(u.items / u.wall_s for u in units),
        "round_p50_s": statistics.median(rounds),
        "setup_s": setup_s,
        "peak_rss_mb": statistics.median(peaks) / 2**20,
    }


def per_layer(wl_name, names, units, tracer, ev, untraced_s: float) -> dict:
    """Every per-layer metric, as a mean per traced unit; 0 where a layer
    does not run.  ``untraced_s`` is the wall of the untraced unit run in
    the same session after the traced ones."""
    from spans import JOB_SPANS, QUERIES, SPAN_FIELDS, TABLEIO_OPS

    n = len(units)

    def lay(k):
        return sum(u.layer.get(k, 0.0) for u in units) / n

    out = dict.fromkeys(names, 0.0)
    wall = statistics.median(u.wall_s for u in units)
    out["trace.wall_s"] = wall
    out["trace.overhead_s"] = wall - untraced_s
    out["state.workdir_mb"] = lay("state_bytes") / 2**20
    for op in TABLEIO_OPS:
        out[f"tableio.{op}_s"] = tracer.walls[f"tableio.{op}"] / n
        out[f"tableio.{op}_calls"] = tracer.calls[f"tableio.{op}"] / n
    tio = [f"tableio.{op}" for op in TABLEIO_OPS]
    out["tableio.output_bytes"] = sum(ev.span_metrics[s]["output_bytes"] for s in tio) / n
    out["tableio.files_written"] = (
        ev.node_sum(tio, "Execute InsertIntoHadoopFsRelationCommand", "number of written files") / n
    )
    for span in JOB_SPANS + QUERIES:
        for f in SPAN_FIELDS:
            out[f"{span}.{f}"] = ev.span_metrics[span][f] / n
    if wl_name.startswith("crawl"):
        rounds = sum(len(u.rounds) for u in units)
        pages = sum(u.items for u in units)
        children = sum(u.layer["children"] for u in units)
        for k in ("head_s", "plan_s", "wave_s", "post_s"):
            out[f"crawl.{k}"] = lay(k)
        out["crawl.rounds"] = rounds / n
        out["crawl.pages"] = pages / n
        out["crawl.children"] = children / n
        out["crawl.jobs_per_round"] = ev.jobs / rounds
        out["crawl.stages_per_round"] = ev.stages / rounds
        out["crawl.tasks_per_round"] = ev.tasks / rounds
        spans = set(JOB_SPANS)
        out["parse.rows_in"] = ev.node_sum(spans, "MapInPandas", "rows in") / n
        out["parse.py_bytes_in"] = ev.node_sum(spans, "MapInPandas", "data sent to Python workers") / n
        out["parse.py_bytes_out"] = ev.node_sum(spans, "MapInPandas", "data returned from Python workers") / n
        out["urltools.rows_in"] = ev.node_sum(spans, "ArrowEvalPython", "rows in") / n
        out["urltools.py_bytes_in"] = ev.node_sum(spans, "ArrowEvalPython", "data sent to Python workers") / n
        out["url_seen.scan_rows"] = ev.url_seen_rows / n
        out["url_seen.scan_rows_per_child"] = ev.url_seen_rows / max(children, 1)
        out["frontier.rows_rewritten_per_page"] = ev.table_rows[("tableio.replace", "frontier")] / pages
    if wl_name == "image_caption":
        spans = set(JOB_SPANS)
        out["download.make_job_s"] = tracer.walls["download.make_job"] / n
        out["download.verify_rows"] = ev.node_sum(spans, "MapInPandas", "rows in") / n
        out["download.verify_py_bytes_in"] = ev.node_sum(spans, "MapInPandas", "data sent to Python workers") / n
        for q in QUERIES:
            out[f"{q}.wall_s"] = sum(u.layer["query_s"][q] for u in units) / n
    return out


def plan_guard(optimized: dict[str, str], ev) -> list[str]:
    """Every function of each query's full optimized plan must appear in the
    plans its span executed (the noop sink prunes no work, unlike count())."""
    import re

    fn = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\(")
    bad = []
    for q, plan in optimized.items():
        ran = "\n".join(p for eid, p in ev.exec_plan.items() if ev.exec_span.get(eid) == q)
        missing = sorted(set(fn.findall(plan)) - set(fn.findall(ran)))
        if missing:
            bad.append(f"{q}: noop plan lacks {missing}")
    return bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "spiderman_spark", "__init__.py")):
        print(f"perfbench: no spiderman_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from spans import EventLog, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    spec = benchmark_spec()
    nproc = os.cpu_count() or 1
    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    record_path = os.path.join(runs_dir, f"{args.workload}.jsonl")
    sampler = RssSampler()
    sampler.start()
    spark = work = None
    try:
        work = prepare_work(args.workload)
        inputs, units_dir = os.path.join(work, "inputs"), os.path.join(work, "units")
        log_dir = os.path.join(work, "eventlog") if args.trace else None
        wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        spark = make_session(work, nproc, log_dir)
        session_s = time.perf_counter() - t0
        log("session started")
        t0 = time.perf_counter()
        parts = getattr(wl, "parts", (wl,))
        with concurrent.futures.ThreadPoolExecutor(len(parts)) as pool:
            dirs = [os.path.join(inputs, str(i)) for i in range(len(parts))]
            list(pool.map(lambda part, d: set_up(spark, part, args.seed, d), parts, dirs))
        setup_s = session_s + time.perf_counter() - t0
        log("inputs, expected outputs and warm-up done")

        tracer = Tracer(spark) if args.trace else None
        if tracer is None:
            units, failures, peaks = measure(wl, spark, args.seconds, units_dir, sampler)
            baseline = []
        else:
            tracer.install()
            try:
                units, failures, peaks = measure(wl, spark, args.seconds, units_dir, sampler, tracer)
            finally:
                tracer.uninstall()
            # one untraced unit after the traced ones: the baseline of
            # trace.overhead_s.  Units still speed up from one to the next in
            # a session, so the difference is an upper bound on the tracing cost
            baseline = []
            if units:
                baseline, more, _peaks = measure(wl, spark, 0, units_dir, sampler)
                failures += more
        log(f"{len(baseline) + len(units)} unit(s) measured and checked")
        probe_s = cpu_probe(spark, nproc)
        stamp = {
            **source_stamp(),
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc,
            "cpu_probe_s": round(probe_s, 4),
            "session_s": round(session_s, 4),
            "setup_s": round(setup_s, 4),
            "untraced_walls_s": [round(u.wall_s, 4) for u in baseline],
            "unit_walls_s": [round(u.wall_s, 4) for u in units],
            "round_walls_s": [[round(r, 3) for r in u.rounds] for u in units],
        }
        metrics = {}
        if units and tracer is None:
            metrics = report(end_to_end(units, peaks, setup_s), spec["end_to_end"])
        elif units and baseline:
            frames = units[0].output[1].output if args.workload == "image_caption" else {}
            optimized = {q: df._jdf.queryExecution().optimizedPlan().toString() for q, df in frames.items()}
            stop_all(spark)  # closes the event log
            spark = None
            ev = EventLog(log_dir, tracer.windows)
            names = [name for name, _unit in spec["per_layer"]]
            layer = per_layer(args.workload, names, units, tracer, ev, baseline[0].wall_s)
            guard = plan_guard(optimized, ev)
            for msg in guard:
                print(f"check failed: {msg}", file=sys.stderr)
            if guard:
                failures.append(guard)
            metrics = report(layer, spec["per_layer"])
        os.makedirs(runs_dir, exist_ok=True)
        with open(record_path, "a") as fh:
            fh.write(json.dumps(stamp) + "\n")
        failed = sum(bool(f) for f in failures)
        result = {
            "correct": bool(units) and failed == 0,
            "attempted": max(len(failures), 1),
            "failed": max(failed, int(not units)),
            "metrics": metrics,
        }
    finally:
        stop_all(spark)
        sampler.stop()
        if work is not None:
            shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
