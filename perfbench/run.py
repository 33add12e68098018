"""Benchmark of the production extraction job, end to end and by layer.

    python3 perfbench/run.py --workload fine_buckets --seed 1 --seconds 12 --trace 0

Drives ``plans.extract_plan.run_extract``, the call ``jobs/extract.py``
makes, from one driver process as a closed loop: one job at a time on
``local[N]``, N the host's core count (``SPARK_GRAFT_CPUS`` overrides).

``--trace 0`` reports the end-to-end metrics:

- ``turns_per_s``: input turns over the median wall time of the timed
  ``run_extract`` calls (scan through write and audit), after a cold
  first job and warm-up jobs;
- ``setup_s``: median time of ``session.build_session`` starting a cold
  JVM and session, over SETUPS starts;
- ``output_files``, ``output_bytes_per_input_byte``: data files written,
  and their bytes over the input's text bytes;
- ``peak_rss_mb``: peak resident memory of the driver JVM plus its
  Python workers, sampled from /proc.

``--trace 1`` reports the per-layer metrics of ``layers.py`` from a
separate traced session, and ``extract_plan.first_job_s``: the first
``run_extract`` in that fresh JVM and session, Python worker start and
imports included. A run can afford one such cold job, so the figure is
a single sample; it follows the host's speed too closely to carry a
bound, and is reported without one.

Every job's written files are checked against the sequential oracle; a
job that raises or fails the check counts as failed. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes goes under ``.perfbench/`` in the working
directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402

from ocr_engine_spark.plans.extract_plan import ExtractConfig, run_extract  # noqa: E402
from ocr_engine_spark.session import build_session  # noqa: E402

import check  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

E2E = (
    ("turns_per_s", "turns/s"),
    ("setup_s", "s"),
    ("output_files", "count"),
    ("output_bytes_per_input_byte", "ratio"),
    ("peak_rss_mb", "MB"),
)
PER_LAYER = (
    ("tableio.scan_s", "s"),
    ("tableio.input_bytes", "bytes"),
    ("salt.shuffle_s", "s"),
    ("salt.shuffle_bytes", "bytes"),
    ("salt.bucket_rows_max_over_p50", "ratio"),
    ("extract.crossing_s", "s"),
    ("extract.tasks", "count"),
    ("extract.task_p50_ms", "ms"),
    ("extract.task_max_ms", "ms"),
    ("extract.sched_delay_s", "s"),
    ("extract.kernels_s", "s"),
    *(
        (f"kernel.{k}.{field}", unit)
        for k in layers.KINDS
        for field, unit in (("turns", "count"), ("s", "s"), ("parse_failed", "count"))
    ),
    ("kernel.parallel_eff", "ratio"),
    ("salt.sort_s", "s"),
    ("extract_plan.first_job_s", "s"),
    ("extract_plan.write_s", "s"),
    ("extract_plan.write_files", "count"),
    ("extract_plan.write_bytes", "bytes"),
    ("audit.s", "s"),
    ("audit.buckets", "count"),
    ("spark.cpu_over_run", "ratio"),
    ("spark.gc_s", "s"),
    ("trace.overhead_frac", "frac"),
)

SETUPS = 2  # cold JVM + session starts per untraced run; setup_s is their median
MAX_WARM = 3  # warm runs after the cold one; they stop once a run is not faster
MIN_TIMED = 3
TRACE_MIN_TIMED = 2  # per phase of a traced run, which has three phases
# The inputs are a few MB. The session's 16g default does not fit small
# hosts, and a small heap fills the same way on every run, which keeps
# peak_rss_mb steady.
DRIVER_MEMORY = "1g"
RSS_INTERVAL_S = 0.05  # /proc sampling period of peak_rss_mb


def host_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def java_tmp_opts(tmp: str) -> str:
    return f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package (and the benchmark's own
    # identity stage) through PYTHONPATH, not the driver's sys.path
    # (jobs/extract.py does the same).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # Keep the JVMs' temporary files in the work directory too: the
    # launcher JVM spark-submit starts first, and the driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = java_tmp_opts(tmp)


def start_session(cores: int, work: str, extra: dict | None = None):
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_tmp_opts(os.path.join(work, "tmp")),
    }
    conf.update(extra or {})
    spark = build_session(app_name="perfbench", master=f"local[{cores}]", extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so
    the next ``build_session`` starts a cold one."""
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` plus its Python descendants. Other
    descendants are skipped: a process the JVM is spawning shares the
    JVM's memory until it execs, so counting it would count the JVM
    twice."""
    children: dict = {}
    python = set()
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
                ppid = int(rest.split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
            if comm.startswith("python"):
                python.add(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid != root and pid not in python:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the resident memory of a process tree (the driver JVM
    and the Python workers it forks) from /proc and keeps the peak."""

    def __init__(self, pid: int):
        self.pid, self.peak = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Jobs:
    """Runs ``run_extract`` and checks each job's output (untimed)."""

    def __init__(self, spark, cfg: ExtractConfig, expected: check.Expected):
        self.spark, self.cfg, self.expected = spark, cfg, expected
        self.attempted = self.failed = 0
        self.stats: dict = {}
        self.spans = contextlib.nullcontext  # layers.Spans in a traced session

    def run(self) -> float | None:
        """Seconds of one job, or ``None`` if it raised or its output
        failed the check."""
        for path in (self.cfg.output_path, self.cfg.audit_path):
            shutil.rmtree(path, ignore_errors=True)
        self.spark.sparkContext._jvm.System.gc()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.spans("run_extract"):
                self.stats = run_extract(self.spark, self.cfg)
            seconds = time.perf_counter() - t0
            print(f"run {self.attempted}: {seconds:.3f} s", file=sys.stderr)
            problem = check.verify(pq.read_table(self.cfg.output_path), self.expected)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if problem:
            print(f"output check failed: {problem}", file=sys.stderr)
            self.failed += 1
            return None
        return seconds

    def warm_up(self) -> float | None:
        """The first (cold) job, then warm jobs until run times stop
        falling. Returns the first job's seconds."""
        first = prev = self.run()
        for _ in range(MAX_WARM):
            t = self.run()
            if prev is not None and t is not None and t >= prev:
                break
            prev = t
        return first

    def timed(self, seconds: float, min_runs: int = MIN_TIMED) -> list:
        """Seconds of the jobs that passed the check, running jobs for
        ``seconds`` and at least ``min_runs`` times."""
        times, end = [], time.perf_counter() + seconds
        while len(times) < min_runs or time.perf_counter() < end:
            t = self.run()
            if t is not None:
                times.append(t)
            elif self.failed >= min_runs:
                break
        return times


def data_files(path: str) -> list:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    ]


def result_line(correct: bool, attempted: int, failed: int, values: dict,
                declared) -> str:
    names = [n for n, _ in declared]
    if sorted(values) != sorted(names):
        raise ValueError(f"metrics {sorted(values)} are not the declared {names}")
    metrics = {n: {"value": values[n], "unit": u} for n, u in declared}
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench")
    prepare_env(work)
    cores = host_cores()
    wl = workloads.WORKLOADS[args.workload]
    inputs = workloads.materialize(wl, args.seed, os.path.join(work, "inputs"))
    input_rows = check.read_input_rows(inputs.path)
    expected = check.Expected(input_rows)
    kernels = layers.time_kernels(input_rows) if args.trace else None
    del input_rows

    run_dir = os.path.join(work, "run")
    cfg = ExtractConfig(
        input_path=inputs.path,
        output_path=os.path.join(run_dir, "out"),
        audit_path=os.path.join(run_dir, "audit"),
        num_buckets=wl.buckets_per_core * cores,
        salt_buckets=wl.salt,
        run_id="perfbench",
    )

    setups = []
    n_setups = 1 if args.trace else SETUPS
    for i in range(n_setups):
        t0 = time.perf_counter()
        spark = start_session(cores, work)
        setups.append(time.perf_counter() - t0)
        print(f"setup {i + 1}: {setups[-1]:.3f} s", file=sys.stderr)
        if i < n_setups - 1:
            stop_jvm(spark)

    jobs = Jobs(spark, cfg, expected)
    try:
        if args.trace:
            values = traced(jobs, work, cores, inputs, kernels, args.seconds)
        else:
            with PeakRss(SparkContext._gateway.proc.pid) as rss:
                jobs.warm_up()
                times = jobs.timed(args.seconds)
            files = data_files(cfg.output_path)
            values = {
                "turns_per_s": inputs.turns / statistics.median(times) if times else 0.0,
                "setup_s": statistics.median(setups),
                "output_files": len(files),
                "output_bytes_per_input_byte":
                    sum(map(os.path.getsize, files)) / inputs.text_bytes,
                "peak_rss_mb": rss.peak / 2**20,
            }
    finally:
        stop_jvm(jobs.spark)

    declared = PER_LAYER if args.trace else E2E
    print(f"workload {wl.name} seed {args.seed} cores {cores} turns {inputs.turns} "
          f"buckets {cfg.num_buckets} salt {cfg.salt_buckets}")
    for name, unit in declared:
        print(f"  {name:32s} {values[name]:>14.6g} {unit}")
    print(f"  {'failed_run_frac':32s} {jobs.failed / max(jobs.attempted, 1):>14.6g} "
          f"({jobs.failed} of {jobs.attempted} runs)")
    print(result_line(jobs.failed == 0, jobs.attempted, jobs.failed, values, declared))
    return 0


def traced(jobs: Jobs, work: str, cores: int, inputs, kernels: dict,
           seconds: float) -> dict:
    """Untraced runs, then traced runs and the prefix jobs in a session
    with the event log on, then untraced runs again. The two untraced
    phases bracket the traced one, so warm-up that is still going on
    does not count as tracing overhead. ``trace.overhead_frac`` is
    signed: when tracing costs less than the noise between sessions it
    can come out at or below 0."""
    first = jobs.warm_up()
    untraced = jobs.timed(seconds / 3, TRACE_MIN_TIMED)

    evdir = os.path.join(work, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    jobs.spark.stop()
    jobs.spark = start_session(cores, work, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
    })
    jobs.run()  # each new session forks new Python workers
    spans = jobs.spans = layers.Spans(jobs.spark)
    traced_times = jobs.timed(seconds / 3, TRACE_MIN_TIMED)
    files = data_files(jobs.cfg.output_path)
    written = {
        "extract_plan.write_files": len(files),
        "extract_plan.write_bytes": sum(map(os.path.getsize, files)),
        "audit.buckets": jobs.stats["buckets_processed"],
    }
    prefix_dir = os.path.join(work, "prefix")
    shutil.rmtree(prefix_dir, ignore_errors=True)
    skew = layers.run_prefixes(
        jobs.spark, spans, inputs.path, os.path.join(prefix_dir, "out"),
        os.path.join(prefix_dir, "audit"), jobs.cfg.num_buckets, jobs.cfg.salt_buckets,
    )
    jobs.spark.stop()  # flushes the event log

    jobs.spark = start_session(cores, work)
    jobs.spans = contextlib.nullcontext
    jobs.run()
    untraced += jobs.timed(seconds / 3, TRACE_MIN_TIMED)
    if not (first and untraced and traced_times):
        raise RuntimeError("no first, traced or untraced run passed the output check")

    values = layers.layer_metrics(spans, layers.EventLog(evdir), kernels, skew)
    untraced_tps = inputs.turns / statistics.median(untraced)
    traced_tps = inputs.turns / statistics.median(traced_times)
    single_tps = inputs.turns / sum(k["s"] for k in kernels.values())
    values.update({
        # Spark's own input metric undercounts parquet reads, so the
        # scan's work is given as the size of the files it reads.
        "tableio.input_bytes": sum(map(os.path.getsize, data_files(inputs.path))),
        **written,
        "extract_plan.first_job_s": first,
        "kernel.parallel_eff": untraced_tps / (cores * single_tps),
        "trace.overhead_frac": 1 - traced_tps / untraced_tps,
    })
    return values


if __name__ == "__main__":
    raise SystemExit(main())
