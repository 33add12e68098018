"""Fast checks of the benchmark itself (no Spark session):

    python3 -m pytest perfbench -q
"""

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pyarrow as pa  # noqa: E402

import check  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from ocr_engine_spark.kernel.dispatch import extract_turn  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for w in workloads.WORKLOADS.values():
        a, b, c = (str(tmp_path / f"{w.name}-{x}") for x in "abc")
        workloads.write_inputs(w, 7, a)
        workloads.write_inputs(w, 7, b)
        workloads.write_inputs(w, 8, c)
        names = sorted(os.listdir(a))
        assert names == sorted(os.listdir(b))
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        assert (mismatch, errors) == ([], []), w.name
        assert not filecmp.cmp(os.path.join(a, names[0]), os.path.join(c, names[0]),
                               shallow=False), w.name


def test_inputs_have_the_exact_turn_count(tmp_path):
    for w in workloads.WORKLOADS.values():
        inputs = workloads.materialize(w, 3, str(tmp_path))
        assert inputs.turns == w.turns
        assert len(check.read_input_rows(inputs.path)) == w.turns


def _written(rows):
    """What the job writes for ``rows`` when it is correct."""
    out = []
    for r in rows:
        res = extract_turn(r["role"], r["text"])
        out.append({"conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
                    **{k: res[k] for k in ("kind", "extracted_text", "spans",
                                           "blocks_kept", "blocks_dropped",
                                           "parse_failed")}})
    return out


def _verify(rows, expected):
    return check.verify(pa.Table.from_pylist(rows, schema=check.OUTPUT_SCHEMA), expected)


def test_output_check_rejects_dropped_duplicated_and_altered_rows():
    rows = workloads.generate_rows(workloads.WORKLOADS["fine_buckets"], 5)[:400]
    expected = check.Expected(rows)
    good = _written(rows)
    assert _verify(good, expected) is None
    assert _verify(list(reversed(good)), expected) is None

    assert "output rows" in _verify(good[:-1], expected)
    assert "twice" in _verify(good[:-1] + [good[0]], expected)

    altered = [dict(r) for r in good]
    i = next(i for i, r in enumerate(altered) if r["extracted_text"])
    altered[i]["extracted_text"] += " "
    assert "extracted_text" in _verify(altered, expected)

    respanned = [dict(r) for r in good]
    i = next(i for i, r in enumerate(respanned) if r["spans"])
    respanned[i]["spans"] = respanned[i]["spans"][:-1]
    assert "spans" in _verify(respanned, expected)


def test_names_match_benchmark_json():
    assert [(m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]] == list(run.E2E)
    assert [(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"]: w["why"] for w in BENCHMARK["workloads"]} == {
        w.name: w.why for w in workloads.WORKLOADS.values()
    }


def test_result_line_prints_exactly_the_declared_metrics():
    for declared in (run.E2E, run.PER_LAYER):
        values = {name: 1.5 for name, _ in declared}
        line = json.loads(run.result_line(True, 3, 0, values, declared))
        assert list(line) == ["correct", "attempted", "failed", "metrics"]
        assert [(n, m["unit"]) for n, m in line["metrics"].items()] == list(declared)
        values.pop(declared[0][0])
        try:
            run.result_line(True, 3, 0, values, declared)
        except ValueError:
            continue
        raise AssertionError("a missing metric was not rejected")
