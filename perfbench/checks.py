"""Output checks: the analyzer's outputs against the generator's ground
truth. Each check returns ``(name, ok, detail)``; every failed check counts
as one failed operation in the result.

These take plain rows (dicts and tuples the trial collected), so the checks
run in the harness without Spark and a planted wrong output can be tested
directly.
"""

from __future__ import annotations

import json

import gen

THRESHOLD = 0.7
QUOTA = 1000


def outcome(name: str, ok: bool, detail: str = "") -> tuple[str, bool, str]:
    return (name, bool(ok), "" if ok else detail)


def _diff(got: dict, want: dict) -> str:
    keys = sorted(set(got) ^ set(want))[:3] or sorted(
        k for k in want if got.get(k) != want[k])[:3]
    return "; ".join(f"{k}: got {got.get(k)} want {want.get(k)}" for k in keys)


def _errors_by_kind(rows: list[dict]) -> dict:
    by = {r["description"]: r["count"] for r in rows}
    return {"conversion_errors": by.get(gen.CONVERT_DESC, 0),
            "analysis_errors": by.get(gen.ANALYZE_DESC, 0),
            "other": sum(v for k, v in by.items()
                         if k not in (gen.CONVERT_DESC, gen.ANALYZE_DESC))}


def _accounting(rows: dict, truth: dict) -> list:
    errs = _errors_by_kind(rows["errors"])
    out_rows = rows["full_count"] + sum(errs.values())
    want_rows = truth["records"] + truth["two_dialect_records"]
    return [
        outcome("records accounted for (full + error topic)", out_rows == want_rows,
                f"{out_rows} output rows for {want_rows} expected"),
        outcome("error topic split", errs == {
            "conversion_errors": truth["conversion_errors"],
            "analysis_errors": truth["analysis_errors"], "other": 0},
            f"got {errs}"),
    ]


def _stats_of(rows: list[dict]) -> dict:
    return {r["kafka_key"]: {"count": r["count"], "created": r["created"],
                             "updated": r["updated"]} for r in rows}


def stream_checks(truth: dict, rows: dict) -> list:
    """The final stream statistics (last update per key) against the truth
    and the batch topology, accounting, one example per key."""
    last: dict = {}
    for r in sorted(rows["stats"], key=lambda r: r["batch"]):
        v = json.loads(r["value"])
        last[r["key"]] = {"count": v["count"], "created": v["created"],
                          "updated": v["updated"]}
    batch = _stats_of(rows["batch_stats"])
    examples: dict = {}
    for r in rows["examples"]:
        examples[r["key"]] = examples.get(r["key"], 0) + 1
    return [
        outcome("stream stats equal ground truth", last == truth["stats"],
                _diff(last, truth["stats"])),
        outcome("stream stats equal batch topology", last == batch,
                _diff(last, batch)),
        *_accounting(rows, truth),
        outcome("one example per key",
                set(examples) == set(truth["stats"])
                and all(n == 1 for n in examples.values()),
                f"{len(examples)} keys, max {max(examples.values(), default=0)}"
                f" per key, {len(truth['stats'])} expected"),
    ]


def backfill_checks(truth: dict, rows: dict) -> list:
    stats = _stats_of(rows["stats"])
    examples = {r["kafka_key"]: r["count"] for r in rows["examples"]}
    drift_bad = [r for r in rows["drift"]
                 if truth["stats"].get(f"{r['topic']}:{r['type']}", {})
                 .get("count") != r["n"]]
    return [
        outcome("backfill stats equal ground truth", stats == truth["stats"],
                _diff(stats, truth["stats"])),
        *_accounting(rows, truth),
        outcome("one example per key",
                set(examples) == set(truth["stats"])
                and all(n == 1 for n in examples.values()),
                f"{len(examples)} keys, {len(truth['stats'])} expected"),
        outcome("drift report counts equal ground truth",
                rows["drift"] and not drift_bad,
                f"{len(drift_bad)} of {len(rows['drift'])} drift rows wrong"),
    ]


def corpus_checks(truth: dict, rows: dict, texts: dict) -> list:
    """Reported pairs meet the threshold, components are exactly the
    planted clusters, and the quota per stratum is exact."""
    low = [(a, b) for a, b in rows["pairs"]
           if gen.jaccard(texts[a], texts[b]) < THRESHOLD]
    comps: dict = {}
    for doc, comp in rows["components"]:
        comps.setdefault(comp, []).append(doc)
    got = sorted(sorted(c) for c in comps.values())
    sample = {r["lang"]: (r["n"], r["d"]) for r in rows["sample"]}
    want = {lang: (min(QUOTA, n), min(QUOTA, n))
            for lang, n in truth["kept_per_lang"].items()}
    return [
        outcome("reported pairs at or above threshold", not low,
                f"{len(low)} of {len(rows['pairs'])} pairs below {THRESHOLD}"),
        outcome("planted clusters recovered", got == truth["clusters"],
                f"{len(got)} components for {len(truth['clusters'])} clusters"),
        outcome("quota per stratum exact", sample == want,
                f"got {sample} want {want}"),
    ]
