"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q

- the generator is deterministic in its seed;
- BENCHMARK.json meets the benchmark contract and the harness reports
  exactly its end-to-end metric names;
- the output checks pass on correct outputs and fail on a planted wrong one.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)


def _digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = (
                    hashlib.sha256(fh.read()).hexdigest())
    return out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        run.make_inputs(workload, seed, 2, str(tmp_path / name))
    a, b, c = (_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_avro_encoding_matches_the_writer_schema():
    # a hand-checked frame: magic, schema id 1, then the union/varint layout
    dl = {"input_value": None, "partition": 1, "topic": None, "offset": None,
          "description": "d", "cause": {"error_class": None, "message": None,
                                        "stack_trace": "x"},
          "input_timestamp": None}
    assert gen.avro_dead_letter(dl) == (
        b"\x00\x00\x00\x00\x01" + b"\x00" + b"\x02\x02" + b"\x00\x00"
        + b"\x02d" + b"\x00\x00" + b"\x02\x02x" + b"\x00")


def test_spec_meets_the_contract():
    spec = run.load_spec(ROOT)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= spec["run_seconds"] <= 60
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in run.WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and unit.match(m["unit"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    assert len(json.dumps(spec)) < 64 * 1024


# ---------------------------------------------------------------------------
# synthetic trial results: what a correct analyzer run would report
# ---------------------------------------------------------------------------


def _stats_row(key, s):
    topic, _, type_ = key.partition(":")
    return dict(s, topic=topic, type=type_)


def _stream_result(truth: dict) -> dict:
    names = ["warm.parquet"] + [f["name"] for f in truth["files"]]
    commits = {q: {n: [i // 4, 1000.0 + i] for i, n in enumerate(names)}
               for q, _ in workloads.QUERIES}
    log = [{"name": f["name"], "due": 990.0 + i, "at": 990.01 + i}
           for i, f in enumerate(truth["files"])]
    engine = {q: {"planning_ms": 10, "add_batch_ms": 20, "state_rows": 1,
                  "state_bytes": 2, "state_commit_ms": 3} for q, _ in workloads.QUERIES}
    stats = truth["stats"]
    return {
        "setup_s": 1.0, "get_spark_s": 0.5, "decode_build_s": 0.1,
        "topology_build_s": 0.2, "sink_bytes": 10, "commits": commits,
        "release_log": log, "engine": engine,
        "rows": {
            "stats": [{"key": k, "value": json.dumps(_stats_row(k, s)), "batch": 3}
                      for k, s in stats.items()],
            "examples": [{"key": k, "value": "{}", "batch": 0} for k in stats],
            "errors": [{"description": gen.CONVERT_DESC,
                        "count": truth["conversion_errors"]},
                       {"description": gen.ANALYZE_DESC,
                        "count": truth["analysis_errors"]}],
            "full_count": truth["full"],
            "batch_stats": [dict(s, kafka_key=k) for k, s in stats.items()],
        },
    }


def _backfill_result(truth: dict) -> dict:
    stats = truth["stats"]
    return {
        "setup_s": 1.0, "get_spark_s": 0.5, "run_s": 3.0,
        "run_start": 1000.0, "run_end": 1003.0,
        "outputs_done": {k: 1000.5 + i for i, k in enumerate(
            ("full", "stats", "examples", "errors", "drift"))},
        "rows": {
            "stats": [dict(s, kafka_key=k) for k, s in stats.items()],
            "examples": [{"kafka_key": k, "count": 1} for k in stats],
            "errors": [{"description": gen.CONVERT_DESC,
                        "count": truth["conversion_errors"]},
                       {"description": gen.ANALYZE_DESC,
                        "count": truth["analysis_errors"]}],
            "full_count": truth["full"],
            "drift": [{"topic": k.partition(":")[0], "type": k.partition(":")[2],
                       "n": s["count"]} for k, s in stats.items()],
        },
    }


@pytest.fixture(scope="module")
def input_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("inputs")


@pytest.fixture(scope="module")
def inputs(input_dir):
    return {w: run.make_inputs(w, 3, 2, str(input_dir / w)) for w in run.WORKLOADS}


@pytest.mark.parametrize("workload,result", [
    ("stream-incident", _stream_result), ("backfill-archive", _backfill_result)])
def test_correct_outputs_pass_and_report_the_spec_metrics(inputs, workload, result):
    spec = run.load_spec(ROOT)
    truth = inputs[workload]
    e2e, layers, found, attempted = run.measure(workload, truth, result(truth), None)
    assert all(ok for _, ok, _ in found), found
    assert attempted > len(found)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert set(layers) <= {m["name"] for m in spec["per_layer"]}
    assert all(v > 0 for v, _ in e2e.values())


def _failed(workload, truth, res):
    return [n for n, ok, _ in run.measure(workload, truth, res, None)[2] if not ok]


def test_planted_wrong_stream_outputs_fail(inputs):
    truth = inputs["stream-incident"]
    good = _stream_result(truth)

    wrong = copy.deepcopy(good)
    row = wrong["rows"]["stats"][0]
    value = json.loads(row["value"])
    value["count"] += 1
    row["value"] = json.dumps(value)
    assert _failed("stream-incident", truth, wrong) == [
        "stream stats equal ground truth", "stream stats equal batch topology"]

    wrong = copy.deepcopy(good)
    wrong["rows"]["examples"].append(dict(wrong["rows"]["examples"][0], batch=5))
    assert _failed("stream-incident", truth, wrong) == ["one example per key"]

    wrong = copy.deepcopy(good)
    wrong["rows"]["full_count"] -= 1
    assert _failed("stream-incident", truth, wrong) == [
        "records accounted for (full + error topic)"]

    wrong = copy.deepcopy(good)
    del wrong["commits"]["errors"][truth["files"][0]["name"]]
    assert _failed("stream-incident", truth, wrong) == [
        "freshness attributed to every file in every query"]


def test_planted_wrong_backfill_outputs_fail(inputs):
    truth = inputs["backfill-archive"]
    wrong = _backfill_result(truth)
    wrong["rows"]["drift"][0]["n"] += 1
    wrong["rows"]["errors"][0]["count"] -= 1
    assert _failed("backfill-archive", truth, wrong) == [
        "records accounted for (full + error topic)", "error topic split",
        "drift report counts equal ground truth"]


def test_backfill_freshness_ends_at_the_last_analyzer_output(inputs):
    truth = inputs["backfill-archive"]
    res = _backfill_result(truth)
    e2e = run.measure("backfill-archive", truth, res, None)[0]
    assert e2e["freshness_p50_s"][0] == 3.5  # errors, written last of the four

    # an output the status store never saw written fails the run and does
    # not read as a faster backfill
    del res["outputs_done"]["stats"]
    e2e, _, found, _ = run.measure("backfill-archive", truth, res, None)
    assert [n for n, ok, _ in found if not ok] == ["every run_batch output written"]
    assert e2e["freshness_p50_s"][0] == 3.0


def test_planted_wrong_corpus_outputs_fail(inputs, input_dir):
    import pyarrow.parquet as pq

    truth = inputs["corpus-dedup"]
    clusters = truth["clusters"]
    t = pq.read_table(str(input_dir / "corpus-dedup" / "corpus"))
    texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    pairs = [(a, b) for c in clusters for i, a in enumerate(c) for b in c[i + 1:]
             if gen.jaccard(texts[a], texts[b]) >= checks.THRESHOLD]
    comps = [(m, c[0]) for c in clusters for m in c]
    sample = [{"lang": lang, "n": min(n, checks.QUOTA), "d": min(n, checks.QUOTA)}
              for lang, n in truth["kept_per_lang"].items()]
    rows = {"pairs": pairs, "components": comps, "sample": sample}
    assert all(ok for _, ok, _ in checks.corpus_checks(truth, rows, texts))

    a, b = [d for d in sorted(texts) if all(d not in c for c in clusters)][:2]
    wrong = {"pairs": pairs + [(a, b)], "components": comps + [(b, a)],
             "sample": [dict(sample[0], n=sample[0]["n"] - 1)] + sample[1:]}
    assert [n for n, ok, _ in checks.corpus_checks(truth, wrong, texts)
            if not ok] == ["reported pairs at or above threshold",
                           "planted clusters recovered", "quota per stratum exact"]


def test_self_time_excludes_child_spans():
    from spans import Tracer

    t = Tracer(True)
    t.spans = [
        {"id": 0, "name": "setup", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "session", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "plan", "parent": 0, "start": 5.0, "end": 6.0},
        {"id": 3, "name": "plan", "parent": None, "start": 20.0, "end": 22.0},
    ]
    assert t.self_times() == {"setup": 6.0, "session": 3.0, "plan": 3.0}
