"""Per-layer measurements for the traced benchmark run.

All of it is measured from outside the program:

- kernel spans: single-process calls to ``dispatch.extract_turn``,
  timed per payload kind;
- cumulative-prefix jobs: the production plan cut after each layer
  (scan; + bucket shuffle; + identity ``mapInArrow``; + kernels;
  + sort; + write) and the audit alone. A layer's time is its job's
  time minus the previous job's;
- stage metrics from the Spark event log of the traced session. Every
  job carries the name of the span that submitted it in the local
  property ``perfbench.span``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from typing import Dict, Iterator, List

from pyspark.sql import SparkSession

from ocr_engine_spark.kernel.dispatch import extract_turn
from ocr_engine_spark.operators import audit as audit_ops
from ocr_engine_spark.operators.extract import extract_arrow
from ocr_engine_spark.operators.salt import (
    shuffle_by_bucket,
    sort_within_buckets,
    with_bucket,
)
from ocr_engine_spark.sources import tableio

KINDS = ("html", "pdf", "tool", "text")
SPAN_PROPERTY = "perfbench.span"
PREFIXES = ("scan", "shuffle", "crossing", "kernels", "sort", "write")
# Each prefix job runs this many times; its time is the fastest run, the
# one least disturbed by the rest of the machine.
PREFIX_ROUNDS = 2


def time_kernels(input_rows: list) -> Dict[str, dict]:
    """Per-kind turns, seconds and parse failures of single-process
    ``extract_turn`` calls over every input turn."""
    acc = {k: {"turns": 0, "s": 0.0, "parse_failed": 0} for k in KINDS}
    clock = time.perf_counter
    for r in input_rows:
        t0 = clock()
        res = extract_turn(r["role"], r["text"])
        dt = clock() - t0
        a = acc[res["kind"]]
        a["turns"] += 1
        a["s"] += dt
        a["parse_failed"] += res["parse_failed"]
    return acc


class Spans:
    """Wall-clock spans and the driver JVM's GC time in each. Jobs
    submitted inside a span are tagged ``<name>#<i>``, ``i`` counting the
    span's earlier runs, so the stages of each run can be found in the
    event log."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext
        self.seconds: Dict[str, List[float]] = defaultdict(list)
        self.gc_s: Dict[str, List[float]] = defaultdict(list)

    def _gc_ms(self) -> int:
        # local[N] runs every task in the driver JVM, so its collectors'
        # time is the job's GC time. The tasks' own "JVM GC Time" would
        # count one pause once for every task running during it.
        factory = self._sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in factory.getGarbageCollectorMXBeans())

    def last_tag(self, name: str) -> str:
        return f"{name}#{len(self.seconds[name]) - 1}"

    @contextlib.contextmanager
    def __call__(self, name: str) -> Iterator[None]:
        self._sc.setLocalProperty(SPAN_PROPERTY, f"{name}#{len(self.seconds[name])}")
        gc0 = self._gc_ms()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name].append(time.perf_counter() - t0)
            self.gc_s[name].append((self._gc_ms() - gc0) / 1e3)
            self._sc.setLocalProperty(SPAN_PROPERTY, None)


def _identity(batches):
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_prefixes(spark: SparkSession, spans: Spans, input_path: str,
                 out_dir: str, audit_dir: str, buckets: int, salt: int) -> float:
    """Run the cumulative-prefix jobs, then a per-bucket row count
    (untimed). Returns max ÷ median of the non-empty buckets' rows."""
    scan = tableio.read_transcripts(spark, input_path).select(
        "conv_id", "turn_idx", "role", "text"
    )
    shuffled = shuffle_by_bucket(with_bucket(scan, buckets, salt), buckets)
    kernels = extract_arrow(shuffled)
    plans = {
        "scan": scan,
        "shuffle": shuffled,
        "crossing": shuffled.mapInArrow(_identity, shuffled.schema),
        "kernels": kernels,
        "sort": sort_within_buckets(kernels),
    }
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    for _ in range(PREFIX_ROUNDS):
        for name, df in plans.items():
            with spans(name):
                _noop(df)
        with spans("write"):
            (
                plans["sort"].write.mode("overwrite")
                .partitionBy("bucket")
                .format(tableio.table_format())
                .save(out_dir)
            )
        shutil.rmtree(audit_dir, ignore_errors=True)
        with spans("audit"):
            written = spark.read.format(tableio.table_format()).load(out_dir)
            metrics = audit_ops.audit_metrics(written, "perfbench")
            tableio.append_audit(metrics, audit_dir)
            metrics.count()
    with spans("bucket_count"):
        counts = sorted(
            r["count"] for r in with_bucket(scan, buckets, salt)
            .groupBy("bucket").count().collect()
        )
    return counts[-1] / statistics.median(counts)


def _event_files(evdir: str) -> List[str]:
    # One file per application, or a directory of events_* parts when
    # event-log rolling is on.
    files = []
    for p in sorted(glob.glob(os.path.join(evdir, "*"))):
        if os.path.isdir(p):
            files.extend(sorted(glob.glob(os.path.join(p, "events_*"))))
        elif not p.endswith(".inprogress"):
            files.append(p)
    return files


class EventLog:
    """Task-end records of an event log, grouped by span tag and stage."""

    def __init__(self, evdir: str):
        stage_span: Dict[int, str] = {}
        self.tasks: Dict[int, List[dict]] = defaultdict(list)
        for path in _event_files(evdir):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                        for sid in ev.get("Stage IDs", []):
                            stage_span[sid] = tag
                    elif kind == "SparkListenerTaskEnd":
                        self.tasks[ev["Stage ID"]].append(ev)
        self.stages: Dict[str, List[int]] = defaultdict(list)
        for sid in sorted(self.tasks):
            self.stages[stage_span.get(sid)].append(sid)

    def span_tasks(self, tag: str) -> List[dict]:
        return [t for sid in self.stages[tag] for t in self.tasks[sid]]

    def last_stage_tasks(self, tag: str) -> List[dict]:
        return self.tasks[self.stages[tag][-1]]


def _metric(task: dict, *path: str) -> float:
    v = task.get("Task Metrics") or {}
    for p in path:
        v = v.get(p) or {}
    return v or 0


def _sched_delay_ms(task: dict) -> float:
    info = task["Task Info"]
    busy = (_metric(task, "Executor Deserialize Time")
            + _metric(task, "Executor Run Time")
            + _metric(task, "Result Serialization Time")
            + info.get("Getting Result Time", 0))
    return max(0.0, info["Finish Time"] - info["Launch Time"] - busy)


def layer_metrics(spans: Spans, log: EventLog, kernels: Dict[str, dict],
                  bucket_skew: float) -> dict:
    """Per-layer metrics from the prefix spans, the event log and the
    kernel spans. The caller adds the ones it measures itself.

    Times are the fastest run of each prefix job; counts and bytes come
    from the last run of a span, so they are those of one job. A layer's
    time is the difference of two jobs' times, so it is signed: a layer
    that costs less than the jobs' noise, such as the sort, can come out
    at or below 0."""
    t = {name: min(spans.seconds[name]) for name in PREFIXES + ("audit",)}
    extract_tasks = log.last_stage_tasks(spans.last_tag("kernels"))
    run_ms = sorted(_metric(x, "Executor Run Time") for x in extract_tasks)
    job_tasks = log.span_tasks(spans.last_tag("run_extract"))
    out = {
        "tableio.scan_s": t["scan"],
        "salt.shuffle_s": t["shuffle"] - t["scan"],
        "salt.shuffle_bytes": sum(
            _metric(x, "Shuffle Write Metrics", "Shuffle Bytes Written")
            for x in log.span_tasks(spans.last_tag("shuffle"))
        ),
        "salt.bucket_rows_max_over_p50": bucket_skew,
        "extract.crossing_s": t["crossing"] - t["shuffle"],
        "extract.tasks": len(extract_tasks),
        "extract.task_p50_ms": statistics.median(run_ms),
        "extract.task_max_ms": run_ms[-1],
        "extract.sched_delay_s": sum(_sched_delay_ms(x) for x in extract_tasks) / 1e3,
        "extract.kernels_s": t["kernels"] - t["crossing"],
        "salt.sort_s": t["sort"] - t["kernels"],
        "extract_plan.write_s": t["write"] - t["sort"],
        "audit.s": t["audit"],
        "spark.cpu_over_run": (
            sum(_metric(x, "Executor CPU Time") for x in job_tasks) / 1e9
        ) / (sum(_metric(x, "Executor Run Time") for x in job_tasks) / 1e3),
        "spark.gc_s": statistics.median(spans.gc_s["run_extract"]),
    }
    for k in KINDS:
        for field in ("turns", "s", "parse_failed"):
            out[f"kernel.{k}.{field}"] = kernels[k][field]
    return out
