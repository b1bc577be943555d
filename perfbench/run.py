#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs for the seed are generated (and
cached under ``.perfbench/data``) before anything is timed. One driver
process runs a ``local[nproc]`` Spark session against the program's public
entry point: a closed loop with one client, where the next run starts only
after the previous run's output is committed.

``--trace 0`` reports the end-to-end metrics: set-up, then runs repeated
until ``--seconds`` have passed (at least one), each checked against the
oracle; the metrics are medians over the runs.
``--trace 1`` runs the workload once untraced, then replays it layer by
layer with spans and a Spark event log, and reports the per-layer metrics.
The last line of standard output is the result JSON; the line before it
holds host context (core count, load, a fixed JVM-only calibration query,
Spark ERROR log lines). Without the program in the checkout, or when Python
workers cannot import it, the benchmark exits with a non-zero code and
prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

T_PROCESS = time.perf_counter()
ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
DEADLINE_S = 170  # an invocation must end within 180 s


class SetupError(RuntimeError):
    """The program cannot run here; no result is printed."""


def _kill_descendants(wait_s: float = 10) -> None:
    """SIGKILL every process this one started, and wait until they ended."""
    from perfbench.procstat import tree_pids

    for pid in tree_pids()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + wait_s
    while len(tree_pids()) > 1:
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {tree_pids()[1:]}")
        time.sleep(0.05)


def _watchdog(seconds: float, stderr_fd: int) -> threading.Timer:
    def fire():
        os.write(stderr_fd, b"perfbench: deadline exceeded, stopping\n")
        try:
            _kill_descendants(wait_s=5)
        finally:
            os._exit(3)

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()
    return timer


def start_session(run_root: Path, event_log: Path | None):
    """The program's session factory at local[nproc]; Spark's scratch space,
    temp files and Python workers stay inside the checkout."""
    tmp = run_root / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the program's default 16 GB driver heap let the heap, and so the peak
    # RSS, float between 5.6 and 9.4 GB run to run on a 15 GB host
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from warc2zim_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    # Every JVM the launcher starts: temp files in the checkout, no
    # hsperfdata file (it always goes to /tmp), and C1 compilation only. A
    # timed run is the first run of a fresh JVM; with C2 on, its compile
    # threads took about 45% of the run's CPU (173-190 against 84-96
    # core-s for convert) and were the largest source of spread between runs.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}")
    conf = {"spark.sql.warehouse.dir": str(tmp / "warehouse")}
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)


def warm_up(spark) -> None:
    """One JVM query and one Arrow UDF pass on every core, so the Python
    workers are forked and have imported the program."""
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    from warc2zim_spark.functions import udfs

    spark.range(1000).selectExpr("sum(id)").collect()
    n = spark.sparkContext.defaultParallelism
    urls = spark.range(0, 4 * n, 1, n).select(
        F.concat(F.lit("https://warm.example/p"), F.col("id").cast("string")).alias("u"))
    try:
        urls.select(udfs.surt_key("u")).collect()
    except PythonException as e:
        raise SetupError(f"Python workers cannot run the program: {e}") from e


def calibrate(spark) -> float:
    """Seconds for a fixed JVM-only query (no Python, no I/O)."""
    t = time.perf_counter()
    spark.range(0, 10_000_000, 1, spark.sparkContext.defaultParallelism).selectExpr(
        "bit_xor(xxhash64(id))").collect()
    return time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait for every process we started."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while len(tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    _kill_descendants()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(values):
    return statistics.median(values) if values else 0.0


def timed_runs(spark, workload, inp: Path, run_root: Path, seconds: float):
    """Closed loop over the workload until ``seconds`` have passed."""
    from perfbench.procstat import PeakRss, dir_mb, tree_cpu_s
    from perfbench.workloads import fresh_dir

    spark.sparkContext.setJobGroup("perfbench.run", "perfbench.run")
    runs, t_begin = [], time.perf_counter()
    while True:
        out = fresh_dir(run_root / "run")
        cpu0, t0, t_epoch = tree_cpu_s(), time.perf_counter(), time.time()
        with PeakRss() as rss:
            try:
                rows, problems = workload.run(spark, inp, out), []
            except Exception:
                rows, problems = 0, [traceback.format_exc()]
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if not problems:
            problems = workload.check(inp, out)
        runs.append({"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss.peak_mb,
                     "output_mb": dir_mb(out), "rows": rows, "problems": problems,
                     "start_epoch": t_epoch})
        if time.perf_counter() - t_begin >= seconds:
            return runs


def end_to_end(setup_s: float, runs: list[dict]) -> dict:
    ok = [r for r in runs if not r["problems"]] or runs
    return {
        "setup_s": setup_s,
        "run_s": _median([r["wall_s"] for r in runs]),
        "rows_per_s": _median([r["rows"] / r["wall_s"] for r in ok]),
        "cpu_s": _median([r["cpu_s"] for r in runs]),
        "peak_rss_mb": _median([r["peak_rss_mb"] for r in runs]),
        "output_mb": _median([r["output_mb"] for r in ok]),
    }


def traced_run(spark, workload, inp: Path, run_root: Path, session: dict):
    """One untraced run, then the layer-by-layer replay and the UDF probes.
    Returns (untraced run, per-layer values before the event-log totals,
    tracer, replay guard problems)."""
    from perfbench.trace import Tracer
    from perfbench.udfprobe import probe
    from perfbench.workloads import fresh_dir, wave_gaps

    untraced = timed_runs(spark, workload, inp, run_root, 0)[0]
    tracer = Tracer(spark)
    replay_out = fresh_dir(run_root / "replay")
    t0 = time.perf_counter()
    with tracer.span("replay"):
        workload.replay(spark, tracer, inp, replay_out)
    traced_wall = time.perf_counter() - t0
    guard = workload.same_output(run_root / "run", replay_out)
    probes = {p.udf_name: probe(spark, tracer, inp, p) for p in workload.probes}
    tracer.dump(run_root / "spans.json")

    c = tracer.counts
    cand = c.get("crawl.candidates", 0) or 1
    spans = tracer.by_name()
    gaps = wave_gaps(run_root / "run", untraced["start_epoch"])
    values = {
        "items.useful_ratio": c.get("items.useful_ratio", 0.0),
        "crawl.funnel.unseen_ratio": c.get("seenfilter.unseen_exact.rows_out", 0) / cand,
        "crawl.funnel.allowed_ratio": c.get("politeness.robots_allowed.rows_out", 0) / cand,
        "crawl.funnel.polite_ratio": c.get("politeness.politeness_budget.rows_out", 0) / cand,
        "crawl.funnel.scheduled_ratio": c.get("politeness.prioritize.rows_out", 0) / cand,
        "politeness.hot_host_share": c.get("politeness.hot_host_rows", 0)
        / (c.get("politeness.robots_allowed.rows_out", 0) or 1),
        "crawl.wave_s": _median(gaps),
        "crawl.residual_s": _median([g - r for g, r in zip(gaps, replay_waves(tracer))]),
        "trace.coverage": 1 - spans.get("replay", 0.0) / traced_wall,
        "trace.overhead_s": traced_wall - untraced["wall_s"],
        "trace.valid": 0.0 if guard else 1.0,
        **session,
    }
    for name, (pass_cpu, kernel_cpu) in probes.items():
        values[f"udfs.{name}.pass_cpu_s"] = pass_cpu
        values[f"udfs.{name}.kernel_cpu_s"] = kernel_cpu
    return untraced, values, tracer, guard


def replay_waves(tracer) -> list[float]:
    """Replayed layer time per crawl wave; wave 0 also carries the seed
    frontier and page lookup, which its untraced marker gap includes.
    Untraced wave gap minus this is the per-wave barrier: a residual, not a
    span, while the program records no spans of its own."""
    waves = [i for i, s in enumerate(tracer.spans) if s["name"] == "crawl.wave"]
    per_wave = [sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] == w)
                for w in waves]
    if per_wave:
        per_wave[0] += sum(s["end"] - s["start"] for s in tracer.spans
                           if s["name"] in ("crawl.seed_frontier", "crawl.page_lookup"))
    return per_wave


def layer_metrics(values: dict, tracer, event_log: Path) -> dict:
    from perfbench import catalog
    from perfbench.trace import event_log_totals

    totals = event_log_totals(event_log)
    spans = tracer.by_name()
    # layers and probes of the other workloads did no work here
    values = {name: 0.0 for name, *_ in catalog.per_layer()} | values
    for layer in catalog.layers():
        ev = totals.get(layer, {})
        values[f"{layer}.self_s"] = spans.get(layer, 0.0)
        values[f"{layer}.rows_out"] = tracer.counts.get(f"{layer}.rows_out", 0)
        values[f"{layer}.cpu_s"] = ev.get("cpu_s", 0.0)
        values[f"{layer}.shuffle_mb"] = ev.get("shuffle_mb", 0.0)
    values["trace.spill_mb"] = sum(t["spill_mb"] for t in totals.values())
    return values


def count_error_lines(log: Path) -> int:
    with open(log, encoding="utf-8", errors="replace") as f:
        return sum(1 for line in f if " ERROR " in line)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not (ROOT / "warc2zim_spark" / "__init__.py").is_file():
        print(f"perfbench: the program (warc2zim_spark) is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import catalog
    from perfbench.inputs import ensure_inputs
    from perfbench.procstat import loadavg
    from perfbench.workloads import SMOKE_WORKLOADS, WORKLOADS, fresh_dir

    workloads = SMOKE_WORKLOADS if args.smoke else WORKLOADS
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2
    workload = workloads[args.workload]
    inp = ensure_inputs(WORK / "data", workload.name, workload.spec, args.seed)
    run_root = fresh_dir(WORK / "out" / "-".join(
        [workload.name, f"seed{args.seed}", f"trace{args.trace}"] + ["smoke"] * args.smoke))
    event_log = run_root / "eventlog" if args.trace else None

    # Spark and its Python workers log to this process's stderr; keep it in
    # a file so ERROR lines can be counted, and keep the real stderr for
    # the benchmark's own messages.
    stderr_fd = os.dup(2)
    spark_log = run_root / "spark.log"
    log_fd = os.open(spark_log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    # input generation may run long on a seed's first use; the session
    # itself always gets at least two minutes
    _watchdog(max(DEADLINE_S - (time.perf_counter() - T_PROCESS), 120), stderr_fd)

    context = {"nproc": len(os.sched_getaffinity(0)), "loadavg_before": loadavg()}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_root, event_log)
        t_jvm = time.perf_counter()
        spark.sparkContext.setLogLevel("WARN")
        warm_up(spark)
        setup_s = time.perf_counter() - t0
        context["calibration_s"] = calibrate(spark)
        session = {"session.jvm_start_s": t_jvm - t0,
                   "session.warmup_s": setup_s - (t_jvm - t0),
                   "session.calibration_s": context["calibration_s"]}
        if args.trace:
            untraced, values, tracer, guard = traced_run(spark, workload, inp, run_root, session)
            runs = [untraced]
        else:
            runs = timed_runs(spark, workload, inp, run_root, args.seconds)
        stop_session(spark)
        spark = None
        if args.trace:
            values = layer_metrics(values, tracer, event_log)
            names = catalog.per_layer()
            context["replay_guard"] = guard
        else:
            values = end_to_end(setup_s, runs)
            names = catalog.END_TO_END
    except SetupError as e:
        os.write(stderr_fd, f"perfbench: {e}\n".encode())
        return 3
    finally:
        if spark is not None:
            stop_session(spark)
        os.dup2(stderr_fd, 2)

    context["loadavg_after"] = loadavg()
    context["spark_error_lines"] = count_error_lines(spark_log)
    failed = sum(1 for r in runs if r["problems"])
    for r in runs:
        for p in r["problems"]:
            print(f"perfbench: check failed: {p}")
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u, *_ in names}
    (run_root / "report.json").write_text(json.dumps(
        {"context": context, "runs": runs, "metrics": metrics}, indent=1, default=str))
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": len(runs),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
