#!/usr/bin/env python
"""Benchmark harness: headline catalog queries plus N→4N scaling evidence.

Prints ONE compact JSON line of at most ``LINE_BUDGET`` bytes:

    {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
     "queries": {<name>: median_sec, ...}, "sf": 0.1, "headline_rounds": R,
     "extract": {"rows": N, "cores": {"lo": n, "hi": 4n},
                 "scaling_efficiency": e, "window_valid": true,
                 "normalized_efficiency": e_n, "lo_turns_per_sec": t_lo,
                 "hi_turns_per_sec": t_hi,
                 "skew": {"salt1_spread": s1, "salt8_spread": s8, ...}},
     "detail_file": "BENCH_DETAIL_r{N}.json"}

The full evidence goes to ``BENCH_DETAIL_r{N}.json`` next to this file,
N being one past the highest recorded ``BENCH_r*.json``. In run order:
skew evidence (task-time spread at salt 1 vs 8, from the event log);
one scaling attempt of the extraction job at ``local[lo]`` vs
``local[hi]`` on a lo→hi→lo schedule bracketed by hardware probes (the
protocol and its gates: BASELINE.md, "Scaling protocol"); a coverage
tier timing every non-headline catalog query once at sf0.01; and
interleaved headline rounds, flagging a query whose median AND min
regress ≥ 1.5× against the last recorded round.

Env knobs: SPARK_GRAFT_SF_DIR; SPARK_GRAFT_CPUS (default: the CPUs this
process may run on; lo = max(1, min(4, CPUS // 4)), hi = 4·lo, and no
efficiency is reported when hi > CPUS); BENCH_CONVS (corpus size,
default 25000·lo conversations, so 100000 at lo = 4); BENCH_RUNS (timed
runs at hi, default 3);
BENCH_QUERY_RUNS (headline rounds, default 3, the 3rd only inside the
budget); BENCH_SCALING=0 / BENCH_SKEW=0 / BENCH_HEADLINE=0 /
BENCH_COVERAGE=0 skip parts; BENCH_COVERAGE_SF_DIR (the sf0.01 corpus);
BENCH_BUDGET_S (soft budget, default 500 s); BENCH_KILL_GUARD_S (hard
wall, default 585 s).
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
RUNS = int(os.environ.get("BENCH_RUNS", "3"))
QUERY_RUNS = int(os.environ.get("BENCH_QUERY_RUNS", "3"))
# N and 4N come from the host: 4→16 on a 32-CPU host, 1→4 on a 4-CPU one.
LO_CORES = max(1, min(4, CPUS // 4))
HI_CORES = 4 * LO_CORES
# The corpus scales with lo, ≈0.62M turns at lo = 4 and ≈0.15M at lo = 1,
# so each core of the lo level gets the same share. Shrinking it further
# saves little: a local[1] run is mostly fixed per-task cost (40k turns
# took 74 s on a 4-vCPU VM, 150k turns 87 s).
N_CONVS = int(os.environ.get("BENCH_CONVS", 25000 * LO_CORES))
BUDGET_S = float(os.environ.get("BENCH_BUDGET_S", "500"))
SEED = 42
# forced skew (salting must earn its keep): mega turns are ~1/4 of the
# default corpus at every lo
MEGA, MEGA_TURNS = 3, 12500 * LO_CORES
NUM_BUCKETS, SALT_BUCKETS = 256, 8
# Window-validity gates (BASELINE.md, "Scaling protocol"). The band for
# the bracketing hw-ceiling probes sits just below the probe's own
# quiet-state noise (0.80-1.02), so it only catches gross windows.
SANE_HW = (0.78, 1.10)
MAX_EFF = 1.05  # super-unit lo→hi scaling = a poisoned lo level
MAX_RUN_SPREAD = 1.2  # within-level median/min run ratio (quiet ~1.0-1.1)
CACHE = os.path.join(REPO, ".bench", f"transcripts-v1-{N_CONVS}-{MEGA_TURNS}")

# Budget reserves (seconds). A bench killed from outside records
# nothing, so every phase-start decision of a full bench respects
# KILL_GUARD_S (a scaling-only run, BENCH_HEADLINE=0, is not held to it).
SKEW_COST_S = 75.0
HEADLINE_ROUND_S = 105.0  # one cold headline round
HEADLINE_FIXED_S = 30.0
KILL_GUARD_S = float(os.environ.get("BENCH_KILL_GUARD_S", "585"))

T_START = time.time()

# Cap for the final JSON line: a caller that keeps only the last 2000
# characters of stdout must still parse it.
LINE_BUDGET = 1800
COVERAGE_SF_DIR = os.environ.get(
    "BENCH_COVERAGE_SF_DIR", "/root/testdata/sf0.01"
)

HEADLINE = [
    "flagship_extract",
    "p1_payload_kind",
    "x1_slugify_part",
    "a5_keep_longer_orders",
    "a2_ordered_concat_lineitem",
    "o2_row_number_events",
    "f6_json_probe_events",
    "tokens_documents",
    "quality_documents",
    "fingerprint_documents",
    "langid_documents",
    "dedup_exact_documents",
    "minhash_signatures_documents",
    "simhash_documents",
    "ngram_jaccard_pairs_documents",
    "ann_cosine_topk",
    "ann_lsh_buckets",
    "dedup_embedding_near_pairs",
    "a6_prompt_assembly_documents",
    "a3_gap_fill_lineitem",
    "multimodal_image_features",
    "minhash_lsh_candidates",
    "winnow_fingerprints_documents",
    "ann_ivf_assignments",
    "ann_lsh_multiprobe_topk",
    "ann_pq_adc_topk",
    "winnow_containment_documents",
    "near_dup_scale_path",
    "simhash_near_pairs_documents",
    "ann_ivf_pq_topk",
    "curation_decontaminate",
    "curation_shuffle_permutation",
    "vocab_pair_counts",
    "kmeans_update_step",
    "asof_click_view_events",
    "session_stats_events",
    "tpch_q1_pricing_summary",
    # the three-tier composition (extraction → audit rollup → as-of →
    # sessionization), end to end
    "flagship_sessions_asof",
]


def _elapsed() -> float:
    return time.time() - T_START


def headline_reserve(rounds: int) -> float:
    """Seconds to keep free for the headline tier's first ``rounds``."""
    return HEADLINE_FIXED_S + rounds * HEADLINE_ROUND_S


def _fit_line(compact: dict) -> str:
    """Serialize ``compact`` to ONE JSON line of at most ``LINE_BUDGET``
    bytes, shedding in place (the detail file already has everything):
    first warnings are cut to 2 of 90 chars, then per-query medians go
    FASTEST-first (counted in ``queries_omitted``), then
    query_regressions / warnings / queries wholesale. Never sheds
    metric, value, unit, sf, extract, headline_rounds or detail_file.
    """
    line = json.dumps(compact)
    if len(line) <= LINE_BUDGET:
        return line
    if compact.get("warnings"):
        compact["warnings"] = [w[:90] for w in compact["warnings"][:2]]
        line = json.dumps(compact)
    q = compact.get("queries")
    if q and len(line) > LINE_BUDGET:
        for name in sorted(q, key=q.get):  # fastest first
            if len(line) <= LINE_BUDGET:
                break
            q.pop(name)
            compact["queries_omitted"] = compact.get("queries_omitted", 0) + 1
            line = json.dumps(compact)
    for k in ("query_regressions", "warnings", "queries", "queries_omitted"):
        if len(line) <= LINE_BUDGET:
            break
        compact.pop(k, None)
        line = json.dumps(compact)
    return line


def _session(master: str, shuffle_partitions: int, extra: dict | None = None):
    from ocr_engine_spark.session import build_session

    extras = {"spark.ui.showConsoleProgress": "false"}
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-local"
        os.makedirs(d, exist_ok=True)
        extras["spark.local.dir"] = d
    # Local mode: shuffle never crosses a network, so compression is
    # pure CPU overhead. A real cluster keeps the lz4 default.
    extras["spark.shuffle.compress"] = "false"
    extras["spark.shuffle.spill.compress"] = "false"
    # One shared JVM hosts every task slot in local mode, and its GC
    # and JIT pools default machine-sized; their bursts oversubscribe
    # the task slots' cores. Cap them like a real cluster's 4-8-core
    # executor JVMs (identical at both scaling levels).
    extras["spark.driver.extraJavaOptions"] = (
        "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 -XX:CICompilerCount=4"
    )
    extras.update(extra or {})
    return build_session(
        app_name=f"bench-{master}", master=master,
        shuffle_partitions=shuffle_partitions, extra=extras,
    )


def _noop(df) -> None:
    """Force full computation without result-materialization cost."""
    df.write.format("noop").mode("overwrite").save()


def _double_gc(spark) -> None:
    """One pass queues ContextCleaner weak-ref cleanups, the second
    actually reclaims the shuffle state (without it identical reruns
    degrade 2.5 s → 43 s)."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)


def _ensure_corpus() -> int:
    """Generate (executor-side) and cache the synthetic corpus; returns
    its row count."""
    from ocr_engine_spark.sources import tableio

    marker = os.path.join(CACHE, "_ROWS")
    if os.path.exists(marker):
        with open(marker) as f:
            return int(f.read().strip())
    if os.path.exists(CACHE):
        shutil.rmtree(CACHE)
    spark = _session(f"local[{CPUS}]", shuffle_partitions=CPUS * 2)
    try:
        df = tableio.generate_transcripts_distributed(
            spark, N_CONVS, seed=SEED, mega=MEGA, mega_turns=MEGA_TURNS,
            partitions=CPUS * 4,
        )
        df.write.mode("overwrite").parquet(CACHE)
        n = spark.read.parquet(CACHE).count()
    finally:
        spark.stop()
    with open(marker, "w") as f:
        f.write(str(n))
    return n


def _level(runs_sec: list, rows: int, cores: int) -> dict:
    """Summary of one parallelism level's timed runs: the median is the
    level's number, every run stays in the record."""
    med = statistics.median(runs_sec)
    return {
        "sec": round(med, 3),
        "all_runs_sec": [round(t, 2) for t in runs_sec],
        "turns_per_sec": round(rows / med, 1),
        "cores": cores,
    }


def _time_extract(master: str, cores: int, rows: int, runs: int) -> dict:
    """Steady-state timing of the full extraction job at one
    parallelism level: untimed warm runs of the FULL job (spawns
    workers, JITs the whole plan), then ``runs`` timed runs with forced
    full GCs between them."""
    from ocr_engine_spark.plans.extract_plan import build_extracted
    from ocr_engine_spark.sources import tableio

    spark = _session(master, shuffle_partitions=max(64, cores * 2))
    try:
        df = tableio.read_transcripts(spark, CACHE)
        out = build_extracted(df, num_buckets=NUM_BUCKETS, salt_buckets=SALT_BUCKETS)
        # At high parallelism timed runs still descend after two warms
        # (JIT/GC convergence takes ~4-5 full executions there).
        for _ in range(3 if cores >= 8 else 1):
            _noop(out)
        times = []
        for _ in range(runs):
            _double_gc(spark)
            t0 = time.time()
            _noop(out)
            times.append(time.time() - t0)
    finally:
        spark.stop()
    return _level(times, rows, cores)


def _hw_work(seed_ix: int) -> float:
    """Per-process unit of the hardware-ceiling measurement (module
    level: multiprocessing must pickle it). Generation is untimed; only
    the kernel loop is measured."""
    from ocr_engine_spark.kernel.dispatch import extract_turn
    from ocr_engine_spark.sources.synth import gen_conversation

    rows = []
    for c in range(60):
        rows.extend(gen_conversation(SEED, f"hw-{seed_ix}-{c}", 40))
    t0 = time.time()
    for r in rows:
        extract_turn(r["role"], r["text"])
    return len(rows) / (time.time() - t0)


def _hardware_ceiling(lo: int, hi: int) -> dict:
    """lo-vs-hi-process scaling of the bare kernels via multiprocessing
    — no Spark, no JVM: this host's upper bound for any lo→hi speedup.
    Best of 2 pool rounds per level, 3 when the first two disagree
    >10%: noise can only lower a capability reading."""
    import multiprocessing as mp

    out = {}
    for procs in (lo, hi):
        totals = []
        for _ in range(2):
            with mp.Pool(procs) as pool:
                totals.append(sum(pool.map(_hw_work, range(procs))))
        if max(totals) > 1.1 * min(totals):
            with mp.Pool(procs) as pool:
                totals.append(sum(pool.map(_hw_work, range(procs))))
        out[procs] = round(max(totals))
    return {
        f"rows_per_sec_{lo}p": out[lo],
        f"rows_per_sec_{hi}p": out[hi],
        "efficiency": round((out[hi] / out[lo]) / (hi / lo), 3),
    }


def _subprocess_json(args: list) -> dict:
    """Run a bench sub-mode in a FRESH python process: in a shared JVM
    the earlier phases' heap debt makes later runs 1.5-2x slow."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)] + args,
        capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{args[0]} failed: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _window(lo: dict, hi: dict, hw_pre: dict, hw_post: dict) -> dict:
    """Efficiency and window-validity verdict of one scaling attempt,
    from its two level summaries and its bracketing hw probes. Valid
    iff both probes land in SANE_HW, each level's median/min run spread
    is ≤ MAX_RUN_SPREAD, and the efficiency is in (0, MAX_EFF]. A valid
    efficiency is also reported divided by the mean probe efficiency,
    that divisor capped at 1.0 since the ceiling is a capability bound."""
    def spread(level):
        return statistics.median(level["all_runs_sec"]) / min(level["all_runs_sec"])

    eff = (
        statistics.median(lo["all_runs_sec"]) / statistics.median(hi["all_runs_sec"])
    ) / (hi["cores"] / lo["cores"])
    hw_ok = all(
        SANE_HW[0] <= p["efficiency"] <= SANE_HW[1] for p in (hw_pre, hw_post)
    )
    hw_mean = statistics.mean(p["efficiency"] for p in (hw_pre, hw_post))
    run_spread = max(spread(lo), spread(hi))
    valid = hw_ok and run_spread <= MAX_RUN_SPREAD and 0 < eff <= MAX_EFF
    return {
        "efficiency": round(eff, 3),
        "hw_window_sane": hw_ok,
        "run_spread": round(run_spread, 2),
        "run_spread_sane": run_spread <= MAX_RUN_SPREAD,
        "window_valid": valid,
        "hw_ceiling_mean": round(hw_mean, 3),
        "normalized_efficiency": round(eff / min(1.0, hw_mean), 3) if valid else None,
    }


def _scaling_attempt(runs: int, rows: int) -> dict:
    """One bracketed scaling pass: hw probe → lo×m → hi×runs → lo×m →
    hw probe, each Spark level arm in its own subprocess. The mirror
    lo arms (exactly m runs each) are the one drift correction: the
    merged lo median sits at the hi block's time-center, so a linear
    clock drift cancels in the ratio. m = 1 inside a full bench (it
    protects the later tiers' budget), ceil(runs/2) when scaling only.

    Inside a full bench the attempt stops after its first lo arm when
    the rest would leave the headline's two guaranteed rounds no room
    before KILL_GUARD_S. The rest is charged two lo arms and a probe:
    the hi arm's warm and timed runs (at the default BENCH_RUNS) get 4×
    the cores, so at any efficiency ≥ 0.75 they cost no more than a lo
    arm. A scaling-only run is not held to the kill guard."""
    headline_on = os.environ.get("BENCH_HEADLINE", "1") != "0"
    arm = 1 if headline_on else max(1, (runs + 1) // 2)

    def time_level(cores, n):
        return _subprocess_json(
            ["--time-level", f"local[{cores}]", str(cores), str(rows), str(n)]
        )

    t_probe = _elapsed()
    hw_pre = _hardware_ceiling(LO_CORES, HI_CORES)
    t_lo = _elapsed()
    lo_a = time_level(LO_CORES, arm)
    rest_s = 2 * (_elapsed() - t_lo) + (t_lo - t_probe)
    if headline_on and _elapsed() + rest_s + headline_reserve(2) > KILL_GUARD_S:
        return {
            "abandoned": (
                f"scaling attempt stopped after its first lo arm: the "
                f"rest (~{round(rest_s)} s) would overrun the kill guard"
            ),
            f"local{LO_CORES}": lo_a,
            "hw_probe_before": hw_pre,
        }
    hi = time_level(HI_CORES, runs)
    lo_b = time_level(LO_CORES, arm)
    hw_post = _hardware_ceiling(LO_CORES, HI_CORES)
    lo = _level(lo_a["all_runs_sec"] + lo_b["all_runs_sec"], rows, LO_CORES)
    return {
        "schedule": f"lo×{arm} → hi×{runs} → lo×{arm} (A-B-A, mirror-symmetric)",
        f"local{LO_CORES}": lo,
        f"local{HI_CORES}": hi,
        "hw_probe_before": hw_pre,
        "hw_probe_after": hw_post,
        **_window(lo, hi, hw_pre, hw_post),
    }


def _skew_evidence(rows: int) -> dict:
    """Straggler-bound evidence for the salting machinery: the
    extraction job at salt_buckets 1 vs 8 over the Zipf corpus, with
    per-task run times from the Spark event log. At salt=1 a
    mega-conversation pins one bucket; at salt=8 its turns spread over
    8 buckets. Task-time *ratios* within a job are robust to
    absolute-speed noise."""
    import tempfile

    from ocr_engine_spark.plans.extract_plan import build_extracted
    from ocr_engine_spark.sources import tableio
    from perfbench.layers import EventLog

    evdir = tempfile.mkdtemp(prefix="bench-eventlog-")
    spark = _session(
        f"local[{HI_CORES}]", shuffle_partitions=max(64, HI_CORES * 2),
        extra={"spark.eventLog.enabled": "true",
               "spark.eventLog.dir": "file://" + evdir,
               # Spark 4 v2 event logs zstd-compress by default; the
               # parser below reads plain JSONL
               "spark.eventLog.compress": "false"},
    )
    wall = {}
    try:
        df = tableio.read_transcripts(spark, CACHE)
        # warm: python workers + JIT (plan shape is salt-independent)
        _noop(build_extracted(df, num_buckets=NUM_BUCKETS, salt_buckets=8))
        for salt in (1, 8):
            _double_gc(spark)
            t0 = time.time()
            _noop(build_extracted(df, num_buckets=NUM_BUCKETS, salt_buckets=salt))
            wall[salt] = time.time() - t0
    finally:
        spark.stop()

    stages: dict = {}  # stage id → run times (ms) of its tasks that report one
    for sid, evs in EventLog(evdir).tasks.items():
        for ev in evs:
            ms = (ev.get("Task Metrics") or {}).get("Executor Run Time")
            if ms is not None:
                stages.setdefault(sid, []).append(ms)
    # the extract stage has exactly NUM_BUCKETS tasks; submission order
    # of those stages is [warm(salt8), salt1, salt8]
    big = [sid for sid in sorted(stages) if len(stages[sid]) == NUM_BUCKETS]
    out = {"cores": HI_CORES, "num_buckets": NUM_BUCKETS, "rows": rows,
           "mega_conversations": MEGA, "mega_turns": MEGA_TURNS}
    if len(big) < 3:
        out["error"] = f"expected 3 stages with {NUM_BUCKETS} tasks, got {len(big)}"
        return out
    for salt, sid in zip((1, 8), big[-2:]):
        ts = sorted(stages[sid])
        med = statistics.median(ts)
        out[f"salt{salt}"] = {
            "wall_sec": round(wall[salt], 2),
            "task_ms_median": round(med, 1),
            "task_ms_p99": round(ts[int(0.99 * (len(ts) - 1))], 1),
            "task_ms_max": round(ts[-1], 1),
            "straggler_spread_max_over_median": round(ts[-1] / max(med, 1e-9), 2),
        }
    return out


def _read_json(path: str) -> dict:
    """The JSON object at ``path``, or {} when missing, unreadable or not
    an object."""
    try:
        with open(path) as f:
            d = json.load(f)
    except (OSError, ValueError):
        return {}
    return d if isinstance(d, dict) else {}


def _recorded_rounds() -> list:
    """[(N, path)] of the recorded BENCH_r{N}.json artifacts, descending N."""
    out = []
    for p in glob.glob(os.path.join(REPO, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out, reverse=True)


def _detail_path() -> str:
    """BENCH_DETAIL_r{N}.json for the next round (one past the highest
    recorded BENCH_r*.json)."""
    rounds = _recorded_rounds()
    n = (rounds[0][0] + 1) if rounds else 1
    return os.path.join(REPO, f"BENCH_DETAIL_r{n:02d}.json")


def _coverage_cost_hints() -> dict:
    """Last-known coverage-tier cost per query, merged across every
    committed BENCH_DETAIL_r*.json (later rounds win). Queries absent
    from every artifact get no hint and sort FIRST in the coverage
    order — a never-timed query must not be starved by the truncation
    guard."""
    hints: dict = {}
    for p in sorted(glob.glob(os.path.join(REPO, "BENCH_DETAIL_r*.json"))):
        secs = (_read_json(p).get("coverage_timings") or {}).get("secs") or {}
        hints.update((k, v) for k, v in secs.items() if v is not None)
    return hints


def _load_prev_queries() -> tuple:
    """Per-query timings from the latest round with ANY parseable
    evidence, for the regression flags: the recorded BENCH_r{N}.json
    line if it parsed, else the committed BENCH_DETAIL_r{N}.json side
    file. Returns (round_name, {query: median_sec})."""
    for n, path in _recorded_rounds():
        d = _read_json(path)
        q = (d.get("parsed") or d).get("queries") or {}
        if not q:
            dd = _read_json(os.path.join(REPO, f"BENCH_DETAIL_r{n:02d}.json"))
            q = dd.get("queries_median") or {
                name: round(statistics.median(s["runs"]), 3)
                for name, s in (dd.get("query_spread") or {}).items()
                if s.get("runs")
            }
        if q:
            return f"r{n:02d}", q
    return "", {}


def _flag_regressions(
    qtimes: dict, qmins: dict, prev: dict, prev_round: str
) -> dict:
    """A query is flagged as a regression only when its median AND its
    min both regress ≥1.5× vs the last parseable round's median: with 2
    headline rounds one slow burst can move a median alone. Publishes
    both numbers so a reader can see which bound fired."""
    return {
        n: {
            f"{prev_round}_sec": prev[n],
            "median_sec": qtimes[n],
            "min_sec": qmins[n],
        }
        for n in qtimes
        if n in prev
        and prev[n] > 0
        and qtimes[n] > 1.5 * prev[n]
        and qmins[n] > 1.5 * prev[n]
    }


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--time-level":
        master, cores, rows, runs = sys.argv[2:6]
        print(json.dumps(_time_extract(master, int(cores), int(rows), int(runs))))
        return 0
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        print(json.dumps(_skew_evidence(int(sys.argv[2]))))
        return 0

    from ocr_engine_spark.catalog import queries

    compact: dict = {"sf": 0.1, "unit": "sec"}
    detail: dict = {"sf": 0.1, "unit": "sec", "budget_s": BUDGET_S}
    warnings: list = []
    phases: dict = {}
    detail_path = _detail_path()

    def finish() -> int:
        """Write the full-evidence side file, print the COMPACT line."""
        phases["total"] = round(_elapsed(), 1)
        detail["phase_elapsed_sec"] = phases
        if warnings:
            compact["warnings"] = warnings
            detail["warnings"] = warnings
        try:
            with open(detail_path, "w") as f:
                json.dump(detail, f, indent=1)
            compact["detail_file"] = os.path.basename(detail_path)
        except Exception as e:
            compact["detail_file_error"] = str(e)[:120]
        print(_fit_line(compact))
        return 0

    # ---- corpus → skew evidence → scaling attempt --------------------
    scaling_on = os.environ.get("BENCH_SCALING", "1") != "0"
    if scaling_on:
        compact["extract"] = {
            "rows": None,
            "cores": {"lo": LO_CORES, "hi": HI_CORES},
            "scaling_efficiency": None,
            "window_valid": False,
            "normalized_efficiency": None,
        }
        detail["extract"] = dict(compact["extract"])
    if scaling_on and HI_CORES > CPUS:
        # never time a level against itself or oversubscribe the host
        warnings.append(
            f"scaling skipped: hi level local[{HI_CORES}] needs more "
            f"than the {CPUS} CPUs available; no efficiency reported"
        )
    elif scaling_on:
        rows = _ensure_corpus()
        compact["extract"]["rows"] = rows
        phases["corpus"] = round(_elapsed(), 1)

        # skew first: at ~60 s it cannot starve the scaling attempt
        if os.environ.get("BENCH_SKEW", "1") != "0":
            if _elapsed() + SKEW_COST_S + headline_reserve(1) <= KILL_GUARD_S:
                try:
                    detail["skew_evidence"] = _subprocess_json(
                        ["--skew", str(rows)]
                    )
                except Exception as e:  # evidence, not the gate — degrade
                    warnings.append(f"skew_evidence failed: {e}")
            else:
                warnings.append("skew_evidence skipped: wall-clock budget")
        phases["skew_done_at"] = round(_elapsed(), 1)

        attempt = _scaling_attempt(RUNS, rows)
        phases["scaling_done_at"] = round(_elapsed(), 1)
        if "abandoned" in attempt:
            warnings.append(attempt["abandoned"])
        else:
            if not attempt["window_valid"]:
                warnings.append(
                    "scaling window invalid: treat the efficiency as a "
                    "measurement failure, not an engine number"
                )
            compact["extract"].update(
                scaling_efficiency=attempt["efficiency"],
                window_valid=attempt["window_valid"],
                normalized_efficiency=attempt["normalized_efficiency"],
                lo_turns_per_sec=attempt[f"local{LO_CORES}"]["turns_per_sec"],
                hi_turns_per_sec=attempt[f"local{HI_CORES}"]["turns_per_sec"],
            )
        detail["extract"] = {**compact["extract"], "attempt": attempt}
        skew = detail.get("skew_evidence") or {}
        if "salt1" in skew and "salt8" in skew:
            compact["extract"]["skew"] = {
                "salt1_spread": skew["salt1"]["straggler_spread_max_over_median"],
                "salt8_spread": skew["salt8"]["straggler_spread_max_over_median"],
                "salt1_task_ms_max": skew["salt1"]["task_ms_max"],
                "salt8_task_ms_max": skew["salt8"]["task_ms_max"],
            }

    # ---- coverage tier, then headline catalog queries at SF_DIR ------
    compact["metric"] = "headline_queries_total"
    if os.environ.get("BENCH_HEADLINE", "1") == "0":
        compact["queries"] = {}
        compact["value"] = 0.0
        return finish()
    runs_by_query: dict = {name: [] for name in HEADLINE}
    round_secs: list = []
    spark = _session(f"local[{CPUS}]", shuffle_partitions=CPUS)
    try:
        qs = queries()
        # Warmup: spawn python workers + JIT/codegen once, untimed.
        _noop(qs["flagship_extract"](spark, SF_DIR))

        # Coverage tier before the headline, whose first 2 rounds are
        # reserved in the guard; an overrun shortens the list.
        if os.environ.get("BENCH_COVERAGE", "1") != "0" and os.path.isdir(
            COVERAGE_SF_DIR
        ):
            cov: dict = {}
            cov_wall = KILL_GUARD_S - 25 - headline_reserve(2)
            hints = _coverage_cost_hints()
            ordered = sorted(
                (n for n in qs if n not in HEADLINE),
                key=lambda n: hints.get(n, -1.0),
            )
            for name in ordered:
                if _elapsed() > cov_wall:
                    warnings.append(
                        f"coverage tier truncated at {len(cov)} queries: "
                        "headline reserve"
                    )
                    break
                t0 = time.time()
                try:
                    _noop(qs[name](spark, COVERAGE_SF_DIR))
                    cov[name] = round(time.time() - t0, 3)
                except Exception as e:
                    cov[name] = None
                    warnings.append(f"coverage {name} failed: {e}"[:120])
            detail["coverage_timings"] = {
                "sf_dir": COVERAGE_SF_DIR,
                "secs": cov,
                "skipped": [n for n in ordered if n not in cov],
            }

        # Interleaved rounds: a slow window hits one ROUND of every
        # query. Rounds 1-2 yield only to the kill guard, later ones
        # also to the soft budget.
        for rnd in range(QUERY_RUNS):
            if rnd and _elapsed() + round_secs[-1] > KILL_GUARD_S - 5:
                warnings.append(f"headline rounds capped at {rnd}: kill guard")
                break
            if rnd >= 2 and _elapsed() + round_secs[-1] > BUDGET_S - 10:
                warnings.append(f"headline rounds capped at {rnd}: budget")
                break
            if rnd:
                _double_gc(spark)
            t_r = time.time()
            for name in HEADLINE:
                t0 = time.time()
                _noop(qs[name](spark, SF_DIR))
                runs_by_query[name].append(round(time.time() - t0, 3))
            round_secs.append(time.time() - t_r)

    finally:
        spark.stop()

    qtimes = {n: round(statistics.median(ts), 3) for n, ts in runs_by_query.items()}
    qmins = {n: round(min(ts), 3) for n, ts in runs_by_query.items()}
    # a copy: _fit_line may shed entries, the detail file keeps them all
    compact["queries"] = dict(qtimes)
    compact["value"] = round(sum(qtimes.values()), 3)
    compact["headline_rounds"] = len(round_secs)
    detail["queries_median"] = qtimes
    detail["query_spread"] = {
        n: {"min": min(ts), "max": max(ts), "runs": ts}
        for n, ts in runs_by_query.items()
    }
    prev_round, prev = _load_prev_queries()
    regressions = _flag_regressions(qtimes, qmins, prev, prev_round)
    if regressions:
        compact["query_regressions"] = {"vs": prev_round, **regressions}
        detail["query_regressions"] = {"vs": prev_round, **regressions}
    return finish()


if __name__ == "__main__":
    raise SystemExit(main())
