"""Seeded synthetic inputs for the extraction benchmark.

Every workload is a transcripts table built with
``ocr_engine_spark.sources.synth``. Its bytes depend only on the
workload and the seed, so the same seed always writes the same parquet
files. Inputs are cached per (workload, seed) in the work directory.

Turn counts are exact (the last conversation is cut short), so one
seed's corpus is as large as another's and throughput figures compare
across seeds.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Dict, Iterator, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_engine_spark.kernel.dispatch import detect_kind
from ocr_engine_spark.kernel.pdfstream import MAGIC
from ocr_engine_spark.sources import synth

# Mirrors sources.tableio.TRANSCRIPTS_SCHEMA: Spark reads these files
# with that declared schema, which needs int32 turn_idx and UTC
# timestamps.
ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

INPUT_FILES = 8
TURNS_CAP = 50  # bounded-Pareto cap on turns per conversation, megas aside
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    long_docs: bool  # long HTML/PDF payloads instead of synth's default mix
    turns: int
    buckets_per_core: int
    salt: int
    mega: int = 0
    mega_turns: int = 0


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="fine_buckets",
            why="default payload mix spread thin over four buckets per core, "
            "so the fixed cost of each Python crossing, the write and the "
            "audit dominate",
            long_docs=False,
            turns=1600,
            buckets_per_core=4,
            salt=4,
        ),
        Workload(
            name="long_docs",
            why="long HTML and PDF turns in two buckets per core and one mega "
            "conversation, so kernels and uneven buckets weigh most and "
            "crossings are few",
            long_docs=True,
            turns=2000,
            buckets_per_core=2,
            salt=4,
            mega=1,
            mega_turns=600,
        ),
    )
}

# long_docs: each HTML or PDF turn joins this many synth payloads of its
# kind. A few short tool and text turns stay in the mix so every kernel
# kind is timed on every workload. Each distinct document fills
# LONG_REPEAT turns: the kernels do the work of every turn, while
# generating the corpus and its oracle costs one pass per document.
LONG_PARTS = 6
LONG_REPEAT = 8
LONG_MIX = (("html", 0.45), ("pdf", 0.45), ("tool", 0.05), ("text", 0.05))
_LONG_ROLE = {"html": "assistant", "pdf": "user", "tool": "tool", "text": "user"}


def _conversation_sizes(w: Workload, seed: int) -> Iterator[Tuple[str, int]]:
    left, ci = w.turns, 0
    while left > 0:
        n = min(left, synth.turns_for(ci, seed=seed, cap=TURNS_CAP, mega=w.mega,
                                      mega_turns=w.mega_turns))
        yield f"conv-{ci:06d}", n
        left -= n
        ci += 1


def _payload_pool(seed: int) -> Iterator[Dict]:
    ci = 0
    while True:
        yield from synth.gen_conversation(seed, f"pool-{ci:06d}", 64)
        ci += 1


def _merge_pdfs(payloads: List[str]) -> str:
    shards = []
    for pi, p in enumerate(payloads):
        stream = json.loads(base64.b64decode(p).decode("utf-8")[len(MAGIC):])
        for s in stream["shards"]:
            shards.append({"name": f"part-{pi:02d}-{s['name']}", "pages": s["pages"]})
    body = MAGIC + json.dumps({"shards": shards}, ensure_ascii=False)
    return base64.b64encode(body.encode("utf-8")).decode("ascii")


def _long_docs(seed: int, n: int) -> List[Tuple[str, str]]:
    """``n`` distinct ``(kind, text)`` documents."""
    rng = random.Random(f"long_docs:{seed}")
    pool = _payload_pool(seed)
    queues: Dict[str, List[str]] = {k: [] for k, _ in LONG_MIX}

    def take(kind: str, count: int) -> List[str]:
        q = queues[kind]
        while len(q) < count:
            row = next(pool)
            if row["text"]:
                queues[detect_kind(row["role"], row["text"])].append(row["text"])
        out, q[:] = q[:count], q[count:]
        return out

    # Exact counts per kind, so every seed's corpus has the same mix.
    counts = [round(p * n) for _, p in LONG_MIX]
    counts[0] += n - sum(counts)
    kinds = [k for (k, _), c in zip(LONG_MIX, counts) for _ in range(c)]
    rng.shuffle(kinds)
    docs = []
    for kind in kinds:
        if kind == "html":
            text = "".join(take("html", LONG_PARTS))
        elif kind == "pdf":
            text = _merge_pdfs(take("pdf", LONG_PARTS))
        else:
            text = take(kind, 1)[0]
        docs.append((kind, text))
    return docs


def _long_doc_rows(w: Workload, seed: int) -> Iterator[Dict]:
    docs = _long_docs(seed, -(-w.turns // LONG_REPEAT))
    order = list(range(w.turns))
    random.Random(f"long_docs-order:{seed}").shuffle(order)
    turns = iter(order)
    for conv_id, n in _conversation_sizes(w, seed):
        for ti in range(n):
            kind, text = docs[next(turns) % len(docs)]
            yield {
                "conv_id": conv_id,
                "turn_idx": ti,
                "role": _LONG_ROLE[kind],
                "text": text,
                "tool": "browse" if kind == "tool" else None,
                "ts": _EPOCH + dt.timedelta(seconds=17 * ti),
            }


def generate_rows(w: Workload, seed: int) -> List[Dict]:
    if w.long_docs:
        return list(_long_doc_rows(w, seed))
    return [
        row
        for conv_id, n in _conversation_sizes(w, seed)
        for row in synth.gen_conversation(seed, conv_id, n)
    ]


@dataclass(frozen=True)
class Inputs:
    path: str
    turns: int
    text_bytes: int


def materialize(w: Workload, seed: int, cache_dir: str) -> Inputs:
    """Write (or reuse) the parquet input for ``(w, seed)``. The cache
    key covers every setting that shapes the input."""
    recipe = (w, INPUT_FILES, TURNS_CAP, LONG_PARTS, LONG_REPEAT, LONG_MIX)
    key = hashlib.sha256(repr(recipe).encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{w.name}-seed{seed}-{key}")
    meta_path = os.path.join(path, "_meta.json")
    if not os.path.exists(meta_path):
        write_inputs(w, seed, path)
    with open(meta_path) as f:
        meta = json.load(f)
    return Inputs(path=path, turns=meta["turns"], text_bytes=meta["text_bytes"])


def write_inputs(w: Workload, seed: int, path: str) -> None:
    rows = generate_rows(w, seed)
    table = pa.Table.from_pylist(rows, schema=ARROW_SCHEMA)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per_file = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * per_file, per_file),
                       os.path.join(tmp, f"part-{i:03d}.parquet"))
    meta = {
        "workload": w.name,
        "seed": seed,
        "why": w.why,
        "turns": table.num_rows,
        "text_bytes": sum(len(r["text"].encode("utf-8")) for r in rows if r["text"]),
    }
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
