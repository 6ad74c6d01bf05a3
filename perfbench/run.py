"""Benchmark of the emission ETL's daily tick, end to end and per layer.

    python3 perfbench/run.py --workload etl_x1 --seed 7 --seconds 20 --trace 0

Run from the root of a checkout. Each run generates its two-day feed
from ``--seed`` (``feeds.py``) and starts one Spark session through the
program's ``get_spark`` with ``SPARK_GRAFT_CPUS`` set to the usable CPU
count. The untimed warm-up is the cold tick on day 0, which also builds
the day-0 warehouse. Then it measures the daily work:

    incremental tick on day 1, each on a fresh copy of the day-0
    warehouse: --seconds over the workload's typical tick time, at
    least two -> three passes of rollup_views over the last one

Every tick and roll-up is checked against the generator's expectations
outside the timed region.

``--trace 0`` prints the end-to-end metrics (medians of the timed steps).
``--trace 1`` keeps the Spark event log on for the whole session and, after
the same warm-up, measures one sequence (cold tick into a fresh warehouse,
incremental tick, one roll-up pass) untraced, then installs spans around
the program's layer entry points (``tracing.py``) and measures one traced
sequence; it prints the per-layer metrics and the tracing overhead.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The line before it is a record of the run's context (CPU
count, pyspark version, source hash, host steal and first-touch memory
bandwidth); those are context for reading a result, not metrics.
Everything is written under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Both run the reference envelope (x1, KBs of CSV), where fixed per-job
# cost dominates. In etl_x1 the day-1 feed carries new rows, so the
# incremental tick appends to every table and runs the FK check; in
# etl_x1_redelivery it delivers day 0 again, so the incremental tick only
# reads existing state and its append and FK-check layers are bypassed.
# workload -> (scale, whether day 1 carries new rows, typical seconds of
# its incremental tick on a quiet 4-vCPU host)
WORKLOADS = {"etl_x1": (1, True, 10.0), "etl_x1_redelivery": (1, False, 6.5)}
# Only the daily work is timed. A run has room for one cold tick besides
# the JVM's start, and it goes to the warm-up: a fresh JVM's first tick
# pays class loading, JIT and heap growth (about 25 s against 11 s later),
# which belongs in setup_s, and a second, timed cold tick was the noisiest
# figure (it writes the 364-partition fact in one task, and its JIT still
# runs hot). The cold tick is measured per layer in the traced run.
# A run times max(MIN_INCR_TICKS, --seconds / typical tick seconds)
# incremental ticks: a fixed count per workload, so that a slow host does
# not also change which ticks the median is taken over. rollup_s takes the
# median of three passes of about 2.5 s.
MIN_INCR_TICKS = 2
ROLLUP_PASSES = 3
TICKS = (("cold", "day0"), ("incr", "day1"))
PHASES = ("init", "extract", "dim_drivers", "dim_cars", "dim_country", "dim_city", "fact")
JOB_PHASES = ("dim_drivers", "dim_cars", "dim_country", "dim_city", "fact")
REL_TOL = 1e-9


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def start_session(event_log: str | None = None):
    from emission_project_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # keep the JVM's temporary files inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def cold_tick(spark, feeds: str, warehouse: str):
    """The day-0 tick into an empty ``warehouse``; returns its RunStats."""
    from emission_project_spark.pipeline.emission import EmissionPipeline
    from emission_project_spark.sources.warehouse import Warehouse

    return EmissionPipeline(spark, Warehouse(spark, warehouse)).run(os.path.join(feeds, "day0"))


def run_sequence(spark, feeds: str, warehouse: str, tracer=None) -> dict:
    """Cold tick, incremental tick, then one roll-up pass, into a fresh
    warehouse. Returns each step's seconds, the ticks' RunStats and the
    collected roll-up rows."""
    from emission_project_spark.pipeline.emission import EmissionPipeline
    from emission_project_spark.sources.warehouse import Warehouse

    span = tracer.span if tracer else lambda name: nullcontext()
    shutil.rmtree(warehouse, ignore_errors=True)
    pipe = EmissionPipeline(spark, Warehouse(spark, warehouse))
    out: dict = {}
    for tick, day in TICKS:
        with span(tick):
            t0 = time.perf_counter()
            out[tick] = pipe.run(os.path.join(feeds, day))
            out[f"tick_{tick}_s"] = time.perf_counter() - t0
        if tracer:
            out[f"{tick}_fact_files"], out[f"{tick}_fact_mb"] = _fact_size(warehouse)
    with span("rollup"):
        t0 = time.perf_counter()
        with pipe.rollup_views() as views:
            out["rollups"] = {name: df.collect() for name, df in views.items()}
        out["rollup_s"] = time.perf_counter() - t0
    return out


def check_tick(tick: str, stats, expected) -> list[str]:
    """A message if the cold (``tick`` "cold") or incremental tick did not
    insert the expected rows per table or found FK violations."""
    want = expected.inserted[0 if tick == "cold" else 1]
    if stats.inserted != want:
        return [f"{tick}: inserted {stats.inserted} != {want}"]
    if sum(stats.fk_violations.values()) != expected.fk_violations:
        return [f"{tick}: FK violations {stats.fk_violations}"]
    return []


def check_rollups(rollups: dict, expected) -> list[str]:
    """A message if the roll-ups of the day-1 warehouse differ from the
    expected per-brand totals or group counts."""
    brands = {r.brand: r.total_emission for r in rollups["emission_by_brand"]}
    cars, drivers = len(rollups["emission_by_car"]), len(rollups["emission_by_driver"])
    want = expected.emission_by_brand
    if set(brands) != set(want) or any(
        not math.isclose(brands[b], want[b], rel_tol=REL_TOL) for b in want
    ):
        return [f"rollup: emission_by_brand differs from the expected {len(want)} brand totals"]
    if (cars, drivers) != (expected.cars_in_fact, expected.driver_groups):
        return [
            f"rollup: {cars} car / {drivers} driver groups, expected "
            f"{expected.cars_in_fact} / {expected.driver_groups}"
        ]
    return []


def check_sequence(seq: dict, expected) -> list[str]:
    """One message per failed operation (cold tick, incremental tick,
    roll-ups); an empty list when all three match the expectations."""
    failures = []
    for tick, _ in TICKS:
        failures += check_tick(tick, seq[tick], expected)
    return failures + check_rollups(seq["rollups"], expected)


def _fact_size(warehouse: str) -> tuple[int, float]:
    files, size = 0, 0
    for root, _dirs, names in os.walk(os.path.join(warehouse, "car_driver_log")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size / 1e6


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def source_id() -> dict:
    """The commit when the checkout is a git repository, and always a
    hash of the program's Python sources."""
    h = hashlib.sha256()
    for base in ("emission_project_spark", "__spark_entry__.py"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(r, n) for r, _, ns in os.walk(path) for n in ns if n.endswith(".py")
        )
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = {"source_sha256": h.hexdigest()[:16]}
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                head = fh.read().strip()
        out["commit"] = head
    except OSError:
        pass
    return out


def layer_metrics(seq: dict, tracer, event_log_dir: str, parallelism: int) -> dict[str, tuple[float, str]]:
    from tracing import SPAN_FIELDS, job_count, span_summary, stage_table

    logs = [os.path.join(event_log_dir, n) for n in os.listdir(event_log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, found {len(logs)}")
    stages, jobs = stage_table(logs[0], parallelism)
    m: dict[str, tuple[float, str]] = {}
    for tick, _ in TICKS:
        stats = seq[tick]
        m[f"pipeline.{tick}.jobs"] = (job_count(jobs, tick), "count")
        for phase in JOB_PHASES:
            m[f"pipeline.{tick}.{phase}_jobs"] = (job_count(jobs, f"{tick}/{phase}"), "count")
        for phase in PHASES:
            m[f"pipeline.{tick}.{phase}_s"] = (stats.stage_seconds.get(phase, 0.0), "s")
        phase_total = sum(stats.stage_seconds.get(p, 0.0) for p in PHASES)
        m[f"pipeline.{tick}.phase_share"] = (phase_total / seq[f"tick_{tick}_s"], "ratio")
        m[f"warehouse.{tick}.fact_files"] = (seq[f"{tick}_fact_files"], "count")
        m[f"warehouse.{tick}.fact_mb"] = (seq[f"{tick}_fact_mb"], "MB")
    m["pipeline.rollup.jobs"] = (job_count(jobs, "rollup"), "count")

    incr_files = [f for path, files in tracer.feed_files if path.startswith("incr") for f in files]
    incr_rows = sum(_data_lines(f) for f in incr_files)
    m["pipeline.incr.insert_ratio"] = (sum(seq["incr"].inserted.values()) / incr_rows, "ratio")

    append_s, append_calls = tracer.seconds("append")
    m["warehouse.append_s"] = (append_s, "s")
    m["warehouse.append_calls"] = (append_calls, "count")
    all_files = [f for _, files in tracer.feed_files for f in files]
    m["csv_feed.rows"] = (sum(_data_lines(f) for f in all_files), "count")
    m["csv_feed.input_mb"] = (sum(os.path.getsize(f) for f in all_files) / 1e6, "MB")
    fk_s, _ = tracer.seconds("validate_fks")
    m["operators.validate_fks_s"] = (fk_s, "s")
    m["operators.validate_fks_jobs"] = (job_count(jobs, "", "validate_fks"), "count")

    units = {"tasks": "count", "failed_tasks": "count", "serial_stages": "count", "skew_stages": "count"}
    for span in ("cold", "incr", "rollup"):
        summary = span_summary(stages, span)
        for field in SPAN_FIELDS:
            unit = units.get(field, "MB" if field.endswith("_mb") else "s")
            m[f"spark.{span}.{field}"] = (summary[field], unit)
    return m


def _data_lines(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh) - 1


def measure_daily(spark, expected, n_ticks: int, day0_wh: str) -> tuple[dict, list[str], int]:
    """Time ``n_ticks`` incremental ticks, each on a fresh copy of the
    day-0 warehouse ``day0_wh``, then ``ROLLUP_PASSES`` roll-up passes
    over the last one. Every tick and pass is checked. Returns the seconds of each
    (``tick_incr_s`` and ``rollup_s`` lists), one message per failed
    operation, and the number of operations attempted."""
    from emission_project_spark.pipeline.emission import EmissionPipeline
    from emission_project_spark.sources.warehouse import Warehouse

    times: dict[str, list[float]] = {"tick_incr_s": [], "rollup_s": []}
    failures: list[str] = []
    attempted = 0
    try:
        for i in range(n_ticks):
            warehouse = os.path.join(WORK, f"wh{i}")
            shutil.copytree(day0_wh, warehouse)
            pipe = EmissionPipeline(spark, Warehouse(spark, warehouse))
            attempted += 1
            t0 = time.perf_counter()
            stats = pipe.run(os.path.join(WORK, "feeds", "day1"))
            times["tick_incr_s"].append(time.perf_counter() - t0)
            failures += check_tick("incr", stats, expected)
        for _ in range(ROLLUP_PASSES):
            attempted += 1
            t0 = time.perf_counter()
            with pipe.rollup_views() as views:
                rollups = {name: df.collect() for name, df in views.items()}
            times["rollup_s"].append(time.perf_counter() - t0)
            failures += check_rollups(rollups, expected)
    except Exception:  # noqa: BLE001 - a failed tick is a result, not a crash
        traceback.print_exc()
        failures.append("an operation raised")
    return times, failures, attempted


def traced_sequence(spark, event_log: str):
    """One more sequence, with one roll-up pass, with spans installed: only
    those differ from the untraced sequence before it in the same session,
    whose event log is on from the start. Stops the JVM; returns the
    sequence and the per-layer metrics."""
    from tracing import Tracer

    tracer = Tracer(spark.sparkContext)
    tracer.install_etl()
    try:
        traced = run_sequence(spark, os.path.join(WORK, "feeds"), os.path.join(WORK, "wh"), tracer)
    finally:
        tracer.uninstall()
    rss_mb = _jvm_peak_rss_mb(spark)
    parallelism = spark.sparkContext.defaultParallelism
    stop_session(spark)
    layers = layer_metrics(traced, tracer, event_log, parallelism)
    layers["session.jvm_peak_rss_mb"] = (rss_mb, "MB")
    return traced, layers


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "emission_project_spark", "pipeline", "emission.py")):
        print(f"program not found beside {HERE}: run from a full checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)

    import pyspark

    import bench
    import feeds

    scale, new_rows, tick_s = WORKLOADS[args.workload]
    expected = feeds.write_feeds(os.path.join(WORK, "feeds"), scale, args.seed, new_rows)

    # A traced run keeps the event log on for the whole session, so the
    # untraced sequence it is compared with differs only by the spans.
    feeds_dir, day0_wh = os.path.join(WORK, "feeds"), os.path.join(WORK, "day0_wh")
    event_log = os.path.join(WORK, "eventlog") if args.trace else None
    spark, session_s = start_session(event_log)
    metrics: dict[str, tuple[float, str]] = {}
    try:
        # the warm-up; it also builds the day-0 warehouse the measured
        # incremental ticks start from
        failures = check_tick("cold", cold_tick(spark, feeds_dir, day0_wh), expected)
        attempted = 1
        setup_s = time.perf_counter() - T_PROCESS
        steal0 = bench.read_proc_stat()
        if args.trace:
            try:
                untraced = run_sequence(spark, feeds_dir, os.path.join(WORK, "wh"))
                traced, layers = traced_sequence(spark, event_log)
            except Exception:  # noqa: BLE001 - a failed tick is a result, not a crash
                traceback.print_exc()
                failures.append("a sequence raised")
            else:
                spark = None
                failures += check_sequence(untraced, expected) + check_sequence(traced, expected)
                metrics = layers
                metrics["session.start_s"] = (session_s, "s")
                for key in ("tick_cold_s", "tick_incr_s", "rollup_s"):
                    metrics[f"trace.overhead.{key}"] = (traced[key] - untraced[key], "s")
            attempted += 6
            n_incr = 1
        else:
            n_ticks = max(MIN_INCR_TICKS, round(args.seconds / tick_s))
            times, more_failures, more_attempted = measure_daily(spark, expected, n_ticks, day0_wh)
            failures += more_failures
            attempted += more_attempted
            n_incr = len(times["tick_incr_s"])
            if all(times.values()):
                metrics = {"setup_s": (setup_s, "s")}
                for key, values in times.items():
                    metrics[key] = (statistics.median(values), "s")
        steal = bench.steal_pct_since(steal0)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cpus,
        "pyspark": pyspark.__version__,
        **source_id(),
        "incr_ticks": n_incr,
        "failed_ops_frac": len(failures) / attempted,
        "cpu_steal_pct": steal,
        "mem_fault_gbps": bench.mem_fault_calibration(),
    }
    print(json.dumps({"record": record}))
    if not metrics:
        print("an operation raised; no metrics to report", file=sys.stderr)
        return 1
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
