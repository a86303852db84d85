#!/usr/bin/env python3
"""Trend-engine benchmark: one workload per process.

    python3 perfbench/run.py --workload hourly_top10 --seed 1 --seconds 8 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, starts a warm session through ``session.get_spark``, runs ops for
``--seconds`` seconds, checks every result, and prints the metrics; the
last line of standard output is one JSON object.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs an untraced phase and then a
traced one of the same length and reports the per-layer metrics plus the
tracing overhead.  Results and spans go to ``.perfbench/`` (untracked).
See ``perfbench/README.md`` for workloads and metrics.
"""

from __future__ import annotations

import time

_T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "1/s",
    "recall": "ratio",
    "precision": "ratio",
}

PER_LAYER = {
    "session.get_spark.ms": "ms",
    "sources.read_hour_partition.ms": "ms",
    "sources.read_hour_partition.scan_ms": "ms",
    "sources.read_hour_partition.input_files": "count",
    "sources.write_csv_top_k.ms": "ms",
    "operators.explode_count.ms": "ms",
    "operators.explode_count.rows_in": "count",
    "operators.explode_count.rows_out": "count",
    "operators.explode_count.shuffle_write_bytes": "bytes",
    "operators.top_k.ms": "ms",
    "functions.dedup.shingle_table.ms": "ms",
    "functions.dedup.minhash_signatures.ms": "ms",
    "functions.dedup.minhash_band_pairs.ms": "ms",
    "functions.dedup.minhash_band_pairs.candidate_pairs": "count",
    "functions.dedup.lsh_exact_rerank.ms": "ms",
    "functions.dedup.lsh_exact_rerank.verified_pairs": "count",
    "functions.dedup.lsh_precision": "ratio",
    "functions.dedup.connected_components.ms": "ms",
    "functions.dedup.connected_components.jobs": "count",
    "functions.dedup.shuffle_write_bytes": "bytes",
    "functions.dedup.spill_bytes": "bytes",
    "functions.similarity.index_build_s": "s",
    "functions.similarity.ivf_centroids.ms": "ms",
    "functions.similarity.ivf_assign_cells.ms": "ms",
    "functions.similarity.ivf_assign_cells.scored_pairs": "count",
    "functions.similarity.ivf_knn.ms": "ms",
    "functions.similarity.ivf_knn.candidates_per_query": "count",
    "functions.similarity.ivf_knn.shuffle_write_bytes": "bytes",
    "streaming.trigger_ms": "ms",
    "streaming.file_stream.latest_offset_ms": "ms",
    "streaming.file_stream.get_batch_ms": "ms",
    "streaming.foreach_batch_top_k.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.windowed_count.state_rows": "count",
    "streaming.windowed_count.state_memory_bytes": "bytes",
    "streaming.windowed_count.rows_dropped_by_watermark": "count",
    "streaming.input_rows_per_batch": "count",
    "streaming.backlog_files": "count",
    "streaming.generator_late_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_ms_per_op": "ms",
    "spark.scheduler_delay_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "jvm.gc_ms_per_op": "ms",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
}



def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import."""
    print(f"perfbench [{time.time() - _T_IMPORT:7.2f}s] {msg}", file=sys.stderr, flush=True)


def process_start() -> float:
    """Wall-clock start of this process, from /proc (else first import)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return _T_IMPORT


# -- memory ----------------------------------------------------------------


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total / 2**20


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants: the JVM and the
    Python workers it forks."""

    def __init__(self, period: float = 0.2):
        super().__init__(name="rss-sampler", daemon=True)
        self.period, self.peak = period, 0.0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        self.peak = max(self.peak, rss_mb(descendants(os.getpid())))

    def run(self):
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


# -- session -------------------------------------------------------------


def start_session(work: str, cpus: int):
    """Warm session through the engine's public factory; returns
    ``(spark, get_spark seconds)``."""
    from tweets_spark_top_10_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every descendant to end; kill what outlives ``timeout``."""
    import signal

    deadline = time.time() + timeout
    while time.time() < deadline:
        if not descendants(os.getpid()):
            return
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# -- phases --------------------------------------------------------------


class Phase:
    """Ops of one timed phase."""

    def __init__(self):
        self.ops: list[int] = []
        self.lat_ms: list[float] = []
        self.rows = 0
        self.busy_s = 0.0
        self.errors: list[int] = []
        self.gc_ms: dict[int, int] = {}


def closed_loop(wl, seconds: float, first: int, tr, spark) -> Phase:
    from spans import jvm_gc_ms

    ph = Phase()
    i = first
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        wl.before_op(i)
        gc0 = jvm_gc_ms(spark) if tr.enabled else 0
        t = time.perf_counter()
        try:
            with tr.span("op", op=i):
                rows = wl.op(i)
            dt = time.perf_counter() - t
            wl.after_op(i)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            traceback.print_exc()
            ph.errors.append(i)
            dt, rows = time.perf_counter() - t, 0
        if tr.enabled:
            ph.gc_ms[i] = jvm_gc_ms(spark) - gc0
        ph.ops.append(i)
        ph.lat_ms.append(dt * 1000.0)
        ph.rows += rows
        ph.busy_s += dt
        i += 1
    return ph


def verdict_totals(verdicts, n_errors: int):
    from checks import Verdict

    total = Verdict(True, 0, 0, 0)
    failed = n_errors
    for v in verdicts:
        total = total + v
        failed += 0 if v.ok else 1
    return total, failed


def ratio(a: float, b: float, empty: float = 1.0) -> float:
    return a / b if b else empty


def median_or_zero(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- per-layer ---------------------------------------------------------------


def layer_metrics(tr, ph: Phase, monitor, extra: dict) -> dict:
    """Per-layer figures from the traced phase: medians over ops."""
    from spans import self_times

    ops = set(ph.ops)
    spans = [s for s in tr.spans if s.op in ops]
    selfs = dict(zip(map(id, tr.spans), self_times(tr.spans)))
    time.sleep(1.0)  # let the listener bus publish the last jobs
    groups = {s.group for s in spans}
    rest = monitor.totals_by_group(groups) if monitor else {}

    def per_op(name, value):
        vals = {}
        for s in spans:
            if s.name == name and s.op is not None:
                v = value(s)
                if v is not None:
                    vals[s.op] = vals.get(s.op, 0) + v
        return median_or_zero(vals.values())

    def ms(name):
        return per_op(name, lambda s: selfs[id(s)] * 1000.0)

    def count(name, key):
        return per_op(name, lambda s: s.counts.get(key))

    def spark_field(name, key):
        return per_op(name, lambda s: rest.get(s.group, {}).get(key, 0))

    def prefix_field(prefix, key):
        by_op = {}
        for s in spans:
            if s.name.startswith(prefix) and s.op is not None:
                by_op[s.op] = by_op.get(s.op, 0) + rest.get(s.group, {}).get(key, 0)
        return median_or_zero(by_op.values())

    m = {k: 0.0 for k in PER_LAYER}
    m["sources.read_hour_partition.ms"] = ms("sources.read_hour_partition")
    m["sources.read_hour_partition.scan_ms"] = ms("sources.read_hour_partition.scan")
    m["sources.read_hour_partition.input_files"] = count("sources.read_hour_partition.files", "input_files")
    m["sources.write_csv_top_k.ms"] = ms("sources.write_csv_top_k")
    m["operators.explode_count.ms"] = ms("operators.explode_count")
    m["operators.explode_count.rows_in"] = count("sources.read_hour_partition.scan", "rows_out")
    m["operators.explode_count.rows_out"] = count("operators.explode_count", "rows_out")
    m["operators.explode_count.shuffle_write_bytes"] = spark_field("operators.explode_count", "shuffle_write_bytes")
    m["operators.top_k.ms"] = ms("operators.top_k")
    for f in ("shingle_table", "minhash_signatures", "minhash_band_pairs", "lsh_exact_rerank", "connected_components"):
        m[f"functions.dedup.{f}.ms"] = ms(f"functions.dedup.{f}")
    cand = count("functions.dedup.minhash_band_pairs", "rows_out")
    ver = count("functions.dedup.lsh_exact_rerank", "rows_out")
    m["functions.dedup.minhash_band_pairs.candidate_pairs"] = cand
    m["functions.dedup.lsh_exact_rerank.verified_pairs"] = ver
    m["functions.dedup.lsh_precision"] = ratio(ver, cand, 0.0)
    m["functions.dedup.connected_components.jobs"] = spark_field("functions.dedup.connected_components", "jobs")
    m["functions.dedup.shuffle_write_bytes"] = prefix_field("functions.dedup.", "shuffle_write_bytes")
    m["functions.dedup.spill_bytes"] = prefix_field("functions.dedup.", "spill_bytes")
    m["functions.similarity.ivf_knn.ms"] = ms("functions.similarity.ivf_knn")
    m["functions.similarity.ivf_knn.candidates_per_query"] = count(
        "functions.similarity.ivf_knn", "candidates_per_query"
    )
    m["functions.similarity.ivf_knn.shuffle_write_bytes"] = spark_field(
        "functions.similarity.ivf_knn", "shuffle_write_bytes"
    )
    for s in tr.spans:  # the index build runs once, before the ops
        if s.name in ("functions.similarity.ivf_centroids", "functions.similarity.ivf_assign_cells"):
            m[s.name + ".ms"] = selfs[id(s)] * 1000.0
            if "scored_pairs" in s.counts:
                m[s.name + ".scored_pairs"] = s.counts["scored_pairs"]
    if "index_build_s" in extra:
        m["functions.similarity.index_build_s"] = extra["index_build_s"]

    by_op: dict[int, dict] = {}
    for s in spans:
        if s.op is None:
            continue
        tot = by_op.setdefault(s.op, {})
        for k, v in rest.get(s.group, {}).items():
            tot[k] = tot.get(k, 0) + v
    fill_spark_per_op(m, list(by_op.values()))
    m["jvm.gc_ms_per_op"] = median_or_zero(ph.gc_ms.values())
    return m


def fill_spark_per_op(m: dict, per_op: list[dict]) -> None:
    for metric, key in (
        ("spark.jobs_per_op", "jobs"),
        ("spark.stages_per_op", "stages"),
        ("spark.tasks_per_op", "tasks"),
        ("spark.executor_run_ms_per_op", "executor_run_ms"),
        ("spark.scheduler_delay_ms_per_op", "scheduler_delay_ms"),
        ("spark.shuffle_write_bytes_per_op", "shuffle_write_bytes"),
        ("spark.spill_bytes_per_op", "spill_bytes"),
    ):
        m[metric] = median_or_zero(t.get(key, 0) for t in per_op)


def stream_layer_metrics(res: dict, monitor, first_job: int) -> dict:
    """Per-layer figures of the streaming phase, from StreamingQueryProgress
    and from every Spark job the stream ran."""
    m = {k: 0.0 for k in PER_LAYER}
    prog = [p for p in res["progress"] if p.get("numInputRows", 0) > 0]
    dur = lambda key: median_or_zero(p.get("durationMs", {}).get(key, 0) for p in prog)  # noqa: E731
    m["streaming.trigger_ms"] = dur("triggerExecution")
    m["streaming.file_stream.latest_offset_ms"] = dur("latestOffset")
    m["streaming.file_stream.get_batch_ms"] = dur("getBatch")
    m["streaming.foreach_batch_top_k.add_batch_ms"] = dur("addBatch")
    m["streaming.wal_commit_ms"] = dur("walCommit")
    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    m["streaming.windowed_count.state_rows"] = median_or_zero(s.get("numRowsTotal", 0) for s in state)
    m["streaming.windowed_count.state_memory_bytes"] = median_or_zero(s.get("memoryUsedBytes", 0) for s in state)
    m["streaming.windowed_count.rows_dropped_by_watermark"] = float(
        sum(s.get("numRowsDroppedByWatermark", 0) for s in state)
    )
    m["streaming.input_rows_per_batch"] = median_or_zero(p["numInputRows"] for p in prog)
    m["streaming.backlog_files"] = float(res["backlog"])
    m["streaming.generator_late_ms"] = median_or_zero(res["late_ms"])
    time.sleep(1.0)
    jobs = [j for j in monitor.jobs() if j["jobId"] >= first_job]
    stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
    tot = {"jobs": len(jobs), **monitor.stage_totals(stage_ids)}
    n = max(1, len(res["lat_ms"]))
    fill_spark_per_op(m, [{k: v / n for k, v in tot.items()}])
    m["jvm.gc_ms_per_op"] = res["gc_ms"] / n
    return m


# -- main ------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_proc = process_start()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import tweets_spark_top_10_spark  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    from spans import Tracer, latency_summary

    out_dir = os.path.join(ROOT, ".perfbench")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(out_dir, "work", tag)
    os.makedirs(work)
    for d in ("results", "traces"):
        os.makedirs(os.path.join(out_dir, d), exist_ok=True)
    # Keep every file the run writes inside the checkout: Python and JVM
    # temp files, Spark's local dirs, and no JVM perf-data files in /tmp.
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cpus = len(os.sched_getaffinity(0))

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        spark, get_spark_s = start_session(work, cpus)
        setup_s = time.time() - t_proc
        log(f"session warm, setup_s={setup_s:.2f}")
        tr = Tracer(spark, enabled=False)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tr)
        traced = bool(args.trace)
        summary: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds}
        if args.workload == "stream_trending":
            res, verdicts, errors, lat, base_lat, monitor_metrics = run_stream(
                wl, args.seconds, traced, spark, tr
            )
            rows_per_s = ratio(res["rows_done"], res["elapsed"], 0.0)
            summary.update(backlog_files=res["backlog"], n_batches=len(res["progress"]))
        else:
            res, verdicts, errors, lat, base_lat, monitor_metrics = run_closed(
                wl, args.seconds, traced, spark, tr
            )
            rows_per_s = ratio(res.rows, res.busy_s, 0.0)
        log("ops checked")
        total, failed = verdict_totals(verdicts, errors)
        attempted = max(len(lat), len(verdicts))
        summary.update(wl.extra)
        summary.update(latency_summary(lat))
        summary["op_ms"] = [round(x, 3) for x in lat]
        summary["failed_op_ratio"] = ratio(failed, attempted, 0.0)
        if traced:
            metrics = monitor_metrics
            metrics["session.get_spark.ms"] = get_spark_s * 1000.0
            metrics["trace.overhead_ms"] = median_or_zero(lat) - median_or_zero(base_lat)
            units = PER_LAYER
            tr.dump(os.path.join(out_dir, "traces", tag + ".jsonl"))
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_ms": median_or_zero(lat),
                "rows_per_s": rows_per_s,
                "recall": ratio(total.matched, total.expected),
                "precision": ratio(total.matched, total.returned),
            }
            units = END_TO_END
    finally:
        if spark is not None:
            stop_session(spark)
        reap_children()
        log("stopped")
        peak = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if traced:
        metrics["jvm.peak_rss_mb"] = peak
    summary["peak_rss_mb"] = peak
    summary["metrics"] = metrics
    with open(os.path.join(out_dir, "results", tag + ".json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    for k, v in sorted(summary.items()):
        if k not in ("metrics", "op_ms", "batches"):
            print(f"# {k} = {v}")
    for k in units:
        print(f"{k} {metrics[k]:.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


def run_closed(wl, seconds, traced, spark, tr):
    from spans import SparkMonitor

    tr.enabled = traced  # the one-off build is traced too
    wl.prepare()
    tr.enabled = False
    log("inputs ready")
    first = 0
    for i in range(-1, -1 - wl.WARMUP_OPS, -1):  # untimed, unchecked
        wl.before_op(i)
        wl.op(i)
        wl.after_op(i)
    log("warm-up done")
    base = None
    if traced:
        base = closed_loop(wl, seconds, first, tr, spark)
        first = base.ops[-1] + 1 if base.ops else 0
        tr.enabled = True
    ph = closed_loop(wl, seconds, first, tr, spark)
    log(f"timed phase done: {len(ph.ops)} ops")
    verdicts = wl.check([i for i in ph.ops if i not in ph.errors])
    layer = layer_metrics(tr, ph, SparkMonitor(spark), wl.extra) if traced else {}
    return ph, verdicts, len(ph.errors), ph.lat_ms, (base.lat_ms if base else []), layer


def run_stream(wl, seconds, traced, spark, tr):
    from spans import SparkMonitor, jvm_gc_ms

    wl.prepare(seconds)
    log("inputs ready")
    wl.run(wl.WARMUP_S, "warmup", warmup=True)
    log("warm-up done")
    base = None
    if traced:
        base = wl.run(seconds, "untraced")
        tr.enabled = True
        monitor = SparkMonitor(spark)
        first_job = max((j["jobId"] for j in monitor.jobs()), default=-1) + 1
        gc0 = jvm_gc_ms(spark)
    res = wl.run(seconds, "traced" if traced else "run")
    if traced:
        res["gc_ms"] = jvm_gc_ms(spark) - gc0
    log(f"timed phase done: {len(res['landed'])} files, {len(res['progress'])} batches")
    verdicts = wl.check(res)
    layer = stream_layer_metrics(res, monitor, first_job) if traced else {}
    return res, verdicts, 0, res["lat_ms"], (base["lat_ms"] if base else []), layer


if __name__ == "__main__":
    sys.exit(main())
