"""Seeded input generator for the three benchmark workloads.

Everything here is pure Python plus pyarrow: no Spark, no worker processes,
no clock. The same seed and sizes give byte-identical parquet files and
ground-truth sidecars, and the package under test only ever sees the files.

Record model (shared by the stream and the archive): a record belongs to one
(topic, type) key drawn from a Zipf-skewed population, and is rendered in
one of the four dead-letter dialects. Each record carries the outcome the
analyzer must produce for it, from which the sidecar is aggregated:

- ``ok``: one row in the full feed and one count for its key;
- ``ok2``: a record with two dialects' headers, normalized twice;
- ``conv``: malformed headers, one "Error converting" row on the error topic;
- ``anal``: a null stack trace, one "Error analyzing" row on the error topic.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random
import struct

import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_714_521_600_000  # 2024-05-01T00:00:00Z
DAY_MS = 86_400_000

CONVERT_DESC = "Error converting errors to dead letters"
ANALYZE_DESC = "Error analyzing dead letter"

# header names, spelled out here so the generator does not depend on the
# package it feeds
S = "__streams.errors."
C = "__connect.errors."
STREAMS = {
    "topic": S + "topic", "partition": S + "partition", "offset": S + "offset",
    "description": S + "description", "class": S + "exception.class.name",
    "message": S + "exception.message", "trace": S + "exception.stack_trace",
}
NATIVE = {
    "exception": S + "exception", "message": S + "exception_message",
    "trace": S + "stacktrace", "topic": S + "topic", "partition": S + "partition",
    "offset": S + "offset", "node": S + "processor_node_id", "task": S + "task_id",
}
CONNECT = {
    "topic": C + "topic", "partition": C + "partition", "offset": C + "offset",
    "connector": C + "connector.name", "task": C + "task.id", "stage": C + "stage",
    "class": C + "class.name", "exception": C + "exception.class.name",
    "message": C + "exception.message", "trace": C + "exception.stacktrace",
}

EXCEPTIONS = [
    "java.lang.IllegalStateException", "java.lang.NullPointerException",
    "org.apache.kafka.common.errors.SerializationException",
    "java.io.UncheckedIOException", "com.fasterxml.jackson.core.JsonParseException",
]
SERVICES = ["billing", "orders", "search", "ingest", "payments", "profile",
            "shipping", "catalog", "auth", "notify"]

# (kind, weight) mixes; the stream is mostly Confluent-framed Avro, the
# archive mostly header dialects. These shares, the Zipf exponent and the
# long-tail share below are assumptions, not measured traffic (README.md,
# "Traffic model").
STREAM_MIX = [
    ("avro", 0.70), ("json", 0.10), ("streams", 0.05), ("native", 0.04),
    ("connect", 0.04), ("connect_framed", 0.02), ("two_dialect", 0.02),
    ("malformed", 0.02), ("null_trace", 0.01),
]
ARCHIVE_MIX = [
    ("avro", 0.16), ("streams", 0.30), ("native", 0.22), ("connect", 0.22),
    ("two_dialect", 0.03), ("malformed", 0.04), ("null_trace", 0.03),
]


# ---------------------------------------------------------------------------
# Avro binary + Confluent framing (independent of the package's codec, so a
# decoder bug there shows up as a wrong output here)
# ---------------------------------------------------------------------------


def _long(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _string(s: str) -> bytes:
    b = s.encode("utf-8")
    return _long(len(b)) + b


def _opt(value, enc) -> bytes:
    return b"\x00" if value is None else b"\x02" + enc(value)


def avro_dead_letter(dl: dict, schema_id: int = 1) -> bytes:
    """Confluent-framed Avro ``DeadLetter`` (field order of the writer
    schema; optional fields are ``["null", T]`` unions)."""
    cause = dl["cause"]
    payload = b"".join([
        _opt(dl["input_value"], _string),
        _opt(dl["partition"], _long),
        _opt(dl["topic"], _string),
        _opt(dl["offset"], _long),
        _string(dl["description"]),
        _opt(cause["error_class"], _string),
        _opt(cause["message"], _string),
        _opt(cause["stack_trace"], _string),
        _opt(dl["input_timestamp"], _long),
    ])
    return b"\x00" + struct.pack(">I", schema_id) + payload


# ---------------------------------------------------------------------------
# Record population
# ---------------------------------------------------------------------------


def fmt_ms(ms: int) -> str:
    """The analyzer's sink timestamp format, yyyy-MM-dd'T'HH:mm:ss.SSS (UTC)."""
    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}"


def _pick(rng: random.Random, mix) -> str:
    x = rng.random()
    for kind, w in mix:
        x -= w
        if x < 0:
            return kind
    return mix[-1][0]


class Population:
    """Zipf-skewed (topic, frame) keys, plus an optional long tail of
    distinct frames that gives high key cardinality."""

    def __init__(self, rng: random.Random, n_keys: int, n_topics: int,
                 tail_share: float = 0.0, tail_size: int = 0):
        topics = [f"{SERVICES[i % len(SERVICES)]}-{i:02d}-dead-letters"
                  for i in range(n_topics)]
        keys = set()
        while len(keys) < n_keys:
            svc = rng.choice(SERVICES)
            keys.add((rng.choice(topics), self.frame(
                f"com.acme.{svc}.Handler{rng.randrange(40)}",
                f"on{rng.choice(['Message', 'Batch', 'Retry', 'Commit'])}",
                rng.randrange(20, 900))))
        self.keys = sorted(keys)
        rng.shuffle(self.keys)
        self.cum_weights = list(itertools.accumulate(
            1.0 / (i + 1) ** 1.1 for i in range(n_keys)))
        self.topics = topics
        self.tail_share = tail_share
        self.tail_size = tail_size

    @staticmethod
    def frame(cls: str, method: str, line: int) -> str:
        return f"{cls}.{method}({cls.rsplit('.', 1)[1]}.java:{line})"

    def draw(self, rng: random.Random) -> tuple[str, str]:
        if self.tail_share and rng.random() < self.tail_share:
            j = rng.randrange(self.tail_size)
            return (rng.choice(self.topics),
                    self.frame(f"com.acme.batch.Step{j}", "run", 10 + j % 500))
        return rng.choices(self.keys, cum_weights=self.cum_weights)[0]


def _trace(rng: random.Random, exc: str, frame: str) -> str:
    return (f"{exc}: failure {rng.randrange(10_000)}\n\tat {frame}\n"
            "\tat java.base/java.lang.Thread.run(Thread.java:833)\n")


def _hdrs(names: dict, values: dict) -> list:
    return [{"key": names[k], "value": None if v is None else str(v).encode()}
            for k, v in values.items()]


def make_record(rng: random.Random, pop: Population, kind: str, idx: int,
                ts_ms: int, offsets: dict) -> dict:
    """One dead-letter record in dialect-neutral form: envelope fields,
    ``dl`` (a DeadLetter value, Avro/JSON dialects), ``headers`` and
    ``text`` (header dialects), and the expected ``outcome``/``key``."""
    topic, frame = pop.draw(rng)
    partition = rng.randrange(4)
    offset = offsets.get((topic, partition), 0)
    offsets[(topic, partition)] = offset + 1
    exc = rng.choice(EXCEPTIONS)
    trace = _trace(rng, exc, frame)
    rec = {
        "topic": topic, "partition": partition, "offset": offset, "ts": ts_ms,
        "key": f"k-{idx}", "dl": None, "headers": None, "text": None,
        "framed_garbage": False, "outcome": "ok", "type": frame,
    }
    orig = {"topic": topic.replace("-dead-letters", ""),
            "partition": rng.randrange(12), "offset": rng.randrange(1 << 30)}
    if kind in ("avro", "json", "null_trace"):
        rec["dl"] = {
            "input_value": f'{{"order":{idx}}}', "partition": orig["partition"],
            "topic": orig["topic"], "offset": orig["offset"],
            "description": "Error in handler",
            "cause": {"error_class": exc, "message": f"failure {idx}",
                      "stack_trace": None if kind == "null_trace" else trace},
            "input_timestamp": ts_ms - rng.randrange(60_000),
        }
        rec["kind"] = "avro" if kind == "null_trace" else kind
        if kind == "null_trace":
            rec["outcome"] = "anal"
        return rec
    rec["kind"] = kind
    rec["text"] = f"payload-{idx}-{rng.randrange(1 << 20)}"
    streams = {"partition": orig["partition"], "topic": orig["topic"],
               "offset": orig["offset"], "description": "Could not process",
               "class": exc, "message": f"failure {idx}", "trace": trace}
    connect = {"partition": orig["partition"], "topic": orig["topic"],
               "offset": orig["offset"], "stage": "VALUE_CONVERTER",
               "class": "org.apache.kafka.connect.json.JsonConverter",
               "task": rng.randrange(8), "connector": f"sink-{rng.randrange(6)}",
               "exception": exc, "message": f"failure {idx}", "trace": trace}
    if kind == "streams":
        rec["headers"] = _hdrs(STREAMS, streams)
    elif kind == "native":
        rec["headers"] = _hdrs(NATIVE, {
            "partition": orig["partition"], "offset": orig["offset"],
            "exception": exc, "trace": trace, "topic": orig["topic"],
            "message": f"failure {idx}", "node": "process-node", "task": "0_1"})
    elif kind in ("connect", "connect_framed"):
        if kind == "connect" and rng.random() < 0.1:
            connect["trace"] = None  # Connect's trace header is optional
            rec["outcome"] = "anal"
        rec["headers"] = _hdrs(CONNECT, {k: v for k, v in connect.items()
                                         if v is not None})
        # a framed value of another writer schema: sent to the Avro tier,
        # which must miss and fall through to the headers
        rec["framed_garbage"] = kind == "connect_framed"
    elif kind == "two_dialect":
        rec["headers"] = _hdrs(STREAMS, streams) + _hdrs(CONNECT, connect)
        rec["outcome"] = "ok2"
    elif kind == "malformed":
        if rng.random() < 0.5:
            streams["partition"] = f"{orig['partition']}x"  # NumberFormatException
            rec["headers"] = _hdrs(STREAMS, streams)
        else:
            del connect["task"]  # missing required header
            rec["headers"] = _hdrs(CONNECT, connect)
        rec["outcome"] = "conv"
    else:
        raise ValueError(kind)
    return rec


def truth_of(records: list[dict]) -> dict:
    """Ground truth the analyzer's outputs must match."""
    stats: dict = {}
    conv = anal = full = two = 0
    for r in records:
        if r["outcome"] == "conv":
            conv += 1
            continue
        if r["outcome"] == "anal":
            anal += 1
            continue
        n = 2 if r["outcome"] == "ok2" else 1
        two += n - 1
        full += n
        s = stats.setdefault(f"{r['topic']}:{r['type']}", [0, r["ts"], r["ts"]])
        s[0] += n
        s[1] = min(s[1], r["ts"])
        s[2] = max(s[2], r["ts"])
    return {
        "records": len(records),
        "two_dialect_records": two,
        "full": full,
        "conversion_errors": conv,
        "analysis_errors": anal,
        "stats": {k: {"count": c, "created": fmt_ms(lo), "updated": fmt_ms(hi)}
                  for k, (c, lo, hi) in sorted(stats.items())},
    }


# ---------------------------------------------------------------------------
# Writers
# ---------------------------------------------------------------------------

HEADERS_T = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
TS_T = pa.timestamp("ms", tz="UTC")

WIRE_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("headers", HEADERS_T),
    ("topic", pa.string()), ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", TS_T),
])

DEAD_LETTER_T = pa.struct([
    ("input_value", pa.string()), ("partition", pa.int32()),
    ("topic", pa.string()), ("offset", pa.int64()),
    ("description", pa.string()),
    ("cause", pa.struct([("error_class", pa.string()), ("message", pa.string()),
                         ("stack_trace", pa.string())])),
    ("input_timestamp", TS_T),
])

ENVELOPE_SCHEMA = pa.schema([
    ("topic", pa.string()), ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", TS_T), ("key", pa.string()), ("value_deadletter", DEAD_LETTER_T),
    ("value_text", pa.string()), ("headers", HEADERS_T),
])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def wire_value(r: dict) -> bytes:
    if r["kind"] == "avro":
        return avro_dead_letter(r["dl"])
    if r["kind"] == "json":
        d = dict(r["dl"], input_timestamp=None)
        return json.dumps(d, separators=(",", ":")).encode()
    if r["framed_garbage"]:
        return b"\x00" + struct.pack(">I", 7) + b"\x02"
    return r["text"].encode()


def write_wire(records: list[dict], path: str) -> None:
    rows = {
        "key": [r["key"].encode() for r in records],
        "value": [wire_value(r) for r in records],
        "headers": [r["headers"] for r in records],
        "topic": [r["topic"] for r in records],
        "partition": [r["partition"] for r in records],
        "offset": [r["offset"] for r in records],
        "timestamp": [r["ts"] for r in records],
    }
    _write(pa.table(rows, schema=WIRE_SCHEMA), path)


def write_envelope(records: list[dict], path: str) -> None:
    rows = {
        "topic": [r["topic"] for r in records],
        "partition": [r["partition"] for r in records],
        "offset": [r["offset"] for r in records],
        "timestamp": [r["ts"] for r in records],
        "key": [r["key"] for r in records],
        "value_deadletter": [r["dl"] for r in records],
        "value_text": [r["text"] for r in records],
        "headers": [r["headers"] for r in records],
    }
    _write(pa.table(rows, schema=ENVELOPE_SCHEMA), path)


def _dump(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------------------
# Workload inputs
# ---------------------------------------------------------------------------


def stream_inputs(seed: int, out: str, *, warm_rows: int, trickle_files: int,
                  trickle_rows: int, burst_files: int, burst_rows: int) -> dict:
    """Kafka-wire parquet files for the live stream: ``warm.parquet`` (the
    set-up file) and ``files/NNNN.parquet`` (trickle then burst), released
    by the open-loop releaser. Sidecar ``truth.json`` covers every file."""
    rng = random.Random(f"stream-{seed}")
    pop = Population(rng, n_keys=120, n_topics=8)
    os.makedirs(f"{out}/files", exist_ok=True)
    offsets: dict = {}
    counter = [0]
    ts = [BASE_MS]

    def batch(n: int) -> list[dict]:
        recs = []
        for _ in range(n):
            ts[0] += rng.randrange(1, 40)
            recs.append(make_record(rng, pop, _pick(rng, STREAM_MIX),
                                    counter[0], ts[0], offsets))
            counter[0] += 1
        return recs

    warm = batch(warm_rows)
    write_wire(warm, f"{out}/warm.parquet")
    everything = list(warm)
    files = []
    for i in range(trickle_files + burst_files):
        recs = batch(trickle_rows if i < trickle_files else burst_rows)
        name = f"{i:04d}.parquet"
        write_wire(recs, f"{out}/files/{name}")
        files.append({"name": name, "rows": len(recs),
                      "phase": "trickle" if i < trickle_files else "burst"})
        everything += recs
    truth = truth_of(everything)
    truth["files"] = files
    truth["warm_rows"] = len(warm)
    truth["framed_values"] = sum(r["kind"] == "avro" or r["framed_garbage"]
                                 for r in everything)
    truth["avro_dead_letters"] = sum(r["kind"] == "avro" for r in everything)
    _dump(truth, f"{out}/truth.json")
    return truth


ARCHIVE_DAYS = 6
PARTS = 4  # parquet files per archive or corpus


def archive_inputs(seed: int, out: str, *, rows: int) -> dict:
    """RAW_ENVELOPE parquet archive spanning six days, mostly header
    dialects, with a long tail of distinct stack frames."""
    rng = random.Random(f"archive-{seed}")
    pop = Population(rng, n_keys=150, n_topics=10, tail_share=0.35,
                     tail_size=max(rows // 4, 1))
    os.makedirs(f"{out}/archive", exist_ok=True)
    offsets: dict = {}
    recs = [make_record(rng, pop, _pick(rng, ARCHIVE_MIX), i,
                        BASE_MS + rng.randrange(ARCHIVE_DAYS * DAY_MS), offsets)
            for i in range(rows)]
    per = -(-rows // PARTS)
    for p in range(PARTS):
        write_envelope(recs[p * per:(p + 1) * per],
                       f"{out}/archive/part-{p:04d}.parquet")
    truth = truth_of(recs)
    _dump(truth, f"{out}/truth.json")
    return truth


LANGS = ["en", "de", "fr", "es", "zh", "ja"]
DUP_SHARE = 0.25  # share of documents in planted clusters
WORDS = 60  # words per document
VOCAB = 20_000


def shingles(text: str, k: int = 3) -> set[str]:
    """The corpus check's reference shingling: lowercase, whitespace tokens,
    distinct k-token grams (whole sequence when shorter than k)."""
    toks = text.strip().lower().split()
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def corpus_inputs(seed: int, out: str, *, docs: int) -> dict:
    """Documents with a stated share in planted near-duplicate clusters of
    2-5 members: the cluster base and copies of it with one word replaced
    (Jaccard of 3-shingles about 0.9 to the base, 0.8 between copies)."""
    rng = random.Random(f"corpus-{seed}")
    lex = [f"w{i}" for i in range(VOCAB)]
    ids = list(range(docs))
    rng.shuffle(ids)
    rows = []
    clusters = []
    i = 0
    n_dup = int(docs * DUP_SHARE)
    while i < n_dup:
        size = min(rng.randrange(2, 6), n_dup - i)
        if size < 2:
            break
        base = [rng.choice(lex) for _ in range(WORDS)]
        lang = rng.choice(LANGS)
        members = []
        for m in range(size):
            toks = list(base)
            if m:
                toks[rng.randrange(WORDS)] = rng.choice(lex)
            members.append(ids[i])
            rows.append((ids[i], " ".join(toks), lang))
            i += 1
        clusters.append(sorted(members))
    while i < docs:
        rows.append((ids[i], " ".join(rng.choice(lex) for _ in range(WORDS)),
                     rng.choice(LANGS)))
        i += 1
    rows.sort()
    os.makedirs(f"{out}/corpus", exist_ok=True)
    per = -(-docs // PARTS)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string())])
    for p in range(PARTS):
        chunk = rows[p * per:(p + 1) * per]
        _write(pa.table({"doc_id": [r[0] for r in chunk],
                         "text": [r[1] for r in chunk],
                         "lang": [r[2] for r in chunk]}, schema=schema),
               f"{out}/corpus/part-{p:04d}.parquet")
    dropped = {m for c in clusters for m in c[1:]}
    kept_per_lang: dict = {}
    for doc_id, _, lang in rows:
        if doc_id not in dropped:
            kept_per_lang[lang] = kept_per_lang.get(lang, 0) + 1
    truth = {"docs": docs, "clusters": sorted(clusters),
             "kept_per_lang": dict(sorted(kept_per_lang.items()))}
    _dump(truth, f"{out}/truth.json")
    return truth
