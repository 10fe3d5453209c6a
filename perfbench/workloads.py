"""One trial of a workload, run as a fresh process by ``run.py``.

    python3 perfbench/workloads.py WORKLOAD INPUT_DIR WORK_DIR RESULT.json TRACE

The trial drives the package's public functions only, over the files the
generator wrote to INPUT_DIR, and writes what it measured, the rows the
output checks need and, when TRACE is 1, per-layer figures, spans and
self times to RESULT.json. Correctness is decided by ``checks.py`` in the harness.

Spark is lazy, so a layer's time cannot come from timing the builder call
that adds it. The traced run forces pipeline prefixes over the workload's
own input instead (source, +decode, +route, +enrich, +sink), each layer
reading the previous layer's output persisted in memory, and reads Spark's
progress, state and stage figures. All of that happens after the measured
phase, so it does not change the end-to-end figures of the traced run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
from spans import Tracer  # noqa: E402

WIRE_DDL = ("key binary, value binary, "
            "headers array<struct<key:string,value:binary>>, topic string, "
            "partition int, offset bigint, timestamp timestamp")
APP_ID = "dead-letter-analyzer-analyzed"
# (name, output mode) of the four queries cli.run_streaming starts
QUERIES = [("full", "append"), ("stats", "update"), ("examples", "update"),
           ("errors", "append")]
TRICKLE_INTERVAL_S = 0.5  # one trickle file per interval


def _spark(tracer: Tracer, res: dict):
    from kafka_dead_letter_analyzer_spark.session import get_spark

    with tracer.span("session.get_spark"):
        t = time.perf_counter()
        spark = get_spark(app_name=APP_ID)
        res["get_spark_s"] = time.perf_counter() - t
    return spark


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*.parquet",
                                                      recursive=True))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _executions(spark, paths: dict) -> dict:
    """Per output path: wall seconds, epoch seconds of completion,
    shuffle-write bytes and spilled bytes of the SQL executions that wrote
    it, from Spark's status stores. A path no completed execution wrote is
    left out."""
    store = spark._jsparkSession.sharedState().statusStore()

    def writer_of(plan: str):
        if "InsertIntoHadoopFsRelationCommand\nInput:" in plan:
            for name, path in paths.items():
                if f"\nArguments: file:{path}, " in plan:
                    return name
        return None

    # the status stores are fed by an asynchronous listener: wait until
    # they have seen every output written
    for _ in range(100):
        writes = [(writer_of(e.physicalPlanDescription()), e)
                  for e in _seq(store.executionsList())]
        writes = [(name, e) for name, e in writes if name]
        if {name for name, _ in writes} == set(paths) and all(
                e.completionTime().isDefined() for _, e in writes):
            break
        time.sleep(0.1)
    sc = spark.sparkContext
    doubles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stage_bytes = {}
    for st in _seq(sc._jsc.sc().statusStore().stageList(None, False, False,
                                                        doubles, None)):
        shuffle, spill = stage_bytes.get(st.stageId(), (0, 0))
        stage_bytes[st.stageId()] = (
            shuffle + st.shuffleWriteBytes(),
            spill + st.memoryBytesSpilled() + st.diskBytesSpilled())
    out: dict = {}
    for name, e in writes:
        if not e.completionTime().isDefined():
            continue
        o = out.setdefault(name, {"s": 0.0, "done": 0.0, "shuffle": 0, "spill": 0})
        end = e.completionTime().get().getTime()
        o["s"] += (end - e.submissionTime()) / 1000
        o["done"] = max(o["done"], end / 1000)
        for sid in _seq(e.stages().toList()):
            shuffle, spill = stage_bytes.get(sid, (0, 0))
            o["shuffle"] += shuffle
            o["spill"] += spill
    return out


def _layer_prefixes(spark, src, work: str, tracer: Tracer, wire: bool) -> dict:
    """Per-layer times and counts from forced prefixes over ``src``
    (Kafka-wire rows when ``wire``, else RAW_ENVELOPE rows). Each layer is
    timed over its input persisted in memory, minus a plain scan of that
    same input."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.operators.enrich import enrich_with_context
    from kafka_dead_letter_analyzer_spark.operators.errors import split_errors
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        build_topology,
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming import (
        decode_kafka_records,
        kafka_sink_projection,
    )

    def cached(df):
        df = df.persist(StorageLevel.MEMORY_ONLY)
        df.count()
        return df

    def layer(name, inp, run) -> float:
        with tracer.span(name):
            base = _timed(lambda: _noop(inp))
            return max(_timed(lambda: run(inp)) - base, 0.0)

    out = {"streaming.kafka.decode_s": 0.0, "streaming.kafka.udf_rows": 0,
           "streaming.kafka.avro_hit_ratio": 0.0, "streaming.kafka.sink_s": 0.0}
    src = cached(src)
    n_in = src.count()
    if wire:
        _noop(decode_kafka_records(src))  # first use builds the codec
        out["streaming.kafka.decode_s"] = layer(
            "streaming.kafka.decode", src,
            lambda d: _noop(decode_kafka_records(d)))
        framed = src.filter((F.length("value") > 5)
                            & (F.substring("value", 1, 1) == F.lit(b"\x00")))
        n_framed = framed.count()
        # keys are never framed here, so the UDF sees the framed values only
        out["streaming.kafka.udf_rows"] = n_framed
        hits = decode_kafka_records(framed).filter(
            F.col("value_deadletter").isNotNull()).count()
        out["streaming.kafka.avro_hit_ratio"] = hits / n_framed if n_framed else 0.0
        env = cached(decode_kafka_records(src))
    else:
        env = src
    out["plans.topology.route_s"] = layer(
        "plans.topology.route", env, lambda d: _noop(stream_dead_letters(d)[0]))
    dead, conv = stream_dead_letters(env)
    dead = cached(dead)
    out["operators.enrich.enrich_s"] = layer(
        "operators.enrich.enrich", dead, lambda d: _noop(enrich_with_context(d)))
    ok, bad = split_errors(enrich_with_context(dead))
    n_conv = conv.count()
    out["plans.topology.candidates_per_record"] = (dead.count() + n_conv) / n_in
    out["plans.topology.conversion_errors"] = n_conv
    out["operators.enrich.analysis_errors"] = bad.count()
    out["operators.enrich.distinct_keys"] = (
        ok.select("error_key.topic", "error_key.type").distinct().count())
    if wire:
        # the sink layer: Kafka record projection and parquet write of the
        # four outputs, each persisted first
        topo = build_topology(env)
        for i, df in enumerate((topo.full_dead_letters, topo.error_statistics,
                                topo.error_examples, topo.error_topic)):
            df = cached(df)
            out["streaming.kafka.sink_s"] += layer(
                "streaming.kafka.sink", df, lambda d, i=i: kafka_sink_projection(d)
                .write.mode("overwrite").parquet(f"{work}/sink-layer-{i}"))
            df.unpersist()
    return out


# ---------------------------------------------------------------------------
# stream-incident
# ---------------------------------------------------------------------------


def _sink(root: str, name: str):
    """foreachBatch sink: the Kafka writer's record projection, written to
    parquet (one directory per batch) in place of a broker."""
    from kafka_dead_letter_analyzer_spark.streaming import kafka_sink_projection

    def write(df, batch_id: int) -> None:
        kafka_sink_projection(df).write.mode("overwrite").parquet(
            f"{root}/{name}/batch={batch_id}")

    return write


def _commits(ckpt: str) -> dict[str, list]:
    """file name -> [batch id, epoch seconds the batch was committed], from
    the query's own source and commit logs."""
    batch_of = {}
    for path in glob.glob(f"{ckpt}/sources/*/*"):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    batch_of[os.path.basename(entry["path"])] = entry["batchId"]
    out = {}
    for name, batch in batch_of.items():
        commit = f"{ckpt}/commits/{batch}"
        if os.path.exists(commit):
            out[name] = [batch, os.stat(commit).st_mtime]
    return out


def _progress(q) -> dict:
    """Per-query engine figures from its public progress reports."""
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    dur = [p["durationMs"] for p in prog]
    out = {
        "planning_ms": statistics.median(d.get("queryPlanning", 0) for d in dur),
        "add_batch_ms": statistics.median(d.get("addBatch", 0) for d in dur),
    }
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    if ops:
        out["state_rows"] = ops[-1]["numRowsTotal"]
        out["state_bytes"] = ops[-1]["memoryUsedBytes"]
        out["state_commit_ms"] = statistics.median(o["commitTimeMs"] for o in ops)
    return out


def run_stream(inp: str, work: str, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.plans.topology import build_topology
    from kafka_dead_letter_analyzer_spark.streaming import (
        build_streaming_topology,
        decode_kafka_records,
    )

    with open(f"{inp}/truth.json") as f:
        truth = json.load(f)
    src, staging, ckpt, sink = (f"{work}/{d}" for d in
                                ("src", "staging", "ckpt", "sink"))
    os.makedirs(src)
    os.makedirs(staging)
    res: dict = {}
    with tracer.span("setup"):
        t0 = time.perf_counter()
        spark = _spark(tracer, res)
        raw = spark.readStream.schema(WIRE_DDL).parquet(src)
        with tracer.span("streaming.kafka.decode_build"):
            t = time.perf_counter()
            decoded = decode_kafka_records(raw)
            res["decode_build_s"] = time.perf_counter() - t
        with tracer.span("plans.topology.build"):
            t = time.perf_counter()
            topo = build_streaming_topology(decoded)
            res["topology_build_s"] = time.perf_counter() - t
        frames = {"full": topo.full_dead_letters, "stats": topo.error_statistics,
                  "examples": topo.error_examples, "errors": topo.error_topic}
        with tracer.span("streaming.engine.start"):
            queries = [frames[name].writeStream.foreachBatch(_sink(sink, name))
                       .outputMode(mode)
                       .option("checkpointLocation", f"{ckpt}/{name}")
                       .queryName(f"{APP_ID}-{name}").start()
                       for name, mode in QUERIES]
        # ready once all four queries have committed the warm-up file
        with tracer.span("streaming.engine.warmup"):
            os.link(f"{inp}/warm.parquet", f"{staging}/warm.parquet")
            os.rename(f"{staging}/warm.parquet", f"{src}/warm.parquet")
            for q in queries:
                q.processAllAvailable()
        res["setup_s"] = time.perf_counter() - t0

    # Two phases, each open loop: the whole burst at once, then, once all
    # four queries have caught up, the trickle at a fixed interval.
    phases = []
    for phase in ("burst", "trickle"):
        files = [f for f in truth["files"] if f["phase"] == phase]
        for f in files:
            os.link(f"{inp}/files/{f['name']}", f"{staging}/{f['name']}")
        phases.append({"go": f"{work}/go-{phase}", "files": [
            {"src": f"{staging}/{f['name']}", "dst": f"{src}/{f['name']}",
             "name": f["name"],
             "offset": i * TRICKLE_INTERVAL_S if phase == "trickle" else 0.0}
            for i, f in enumerate(files)]})
    with open(f"{work}/schedule.json", "w") as fh:
        json.dump(phases, fh)
    with tracer.span("stream.measure"):
        releaser = subprocess.Popen(
            [sys.executable, f"{HERE}/release.py", f"{work}/schedule.json",
             f"{work}/release_log.json"])
        try:
            for phase in phases:
                with open(phase["go"], "w"):
                    pass
                # wait until the phase's last file has landed, then drain
                while not os.path.exists(phase["files"][-1]["dst"]):
                    if releaser.poll() is not None:
                        raise RuntimeError("releaser exited early")
                    time.sleep(0.01)
                for q in queries:
                    q.processAllAvailable()
            releaser.wait(timeout=30)
        finally:
            if releaser.poll() is None:
                releaser.kill()
                releaser.wait()
    with open(f"{work}/release_log.json") as fh:
        res["release_log"] = json.load(fh)
    res["commits"] = {name: _commits(f"{ckpt}/{name}") for name, _ in QUERIES}
    res["engine"] = {name: _progress(q) for (name, _), q in zip(QUERIES, queries)}
    for q in queries:
        q.stop()
    res["sink_bytes"] = _dir_bytes(sink)

    def sink_rows(name):
        return [r.asDict() for r in spark.read.parquet(f"{sink}/{name}")
                .select("key", F.col("value").cast("string").alias("value"),
                        "batch").collect()]

    errors = spark.read.parquet(f"{sink}/errors").select(F.get_json_object(
        F.col("value").cast("string"), "$.description").alias("description"))
    wire = spark.read.schema(WIRE_DDL).parquet(src)
    res["rows"] = {
        "stats": sink_rows("stats"),
        "examples": sink_rows("examples"),
        "errors": [r.asDict() for r in errors.groupBy("description").count()
                   .collect()],
        "full_count": spark.read.parquet(f"{sink}/full").count(),
        # the batch topology over the same records
        "batch_stats": [r.asDict() for r in build_topology(
            decode_kafka_records(wire)).error_statistics.select(
                "kafka_key", "count", "created", "updated").collect()],
    }
    if tracer.enabled:
        res["layers"] = _layer_prefixes(spark, wire, work, tracer, wire=True)
    return res


# ---------------------------------------------------------------------------
# backfill-archive
# ---------------------------------------------------------------------------

BATCH_OUTPUTS = ("full", "stats", "examples", "errors", "drift")


def run_backfill(inp: str, work: str, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.cli import AnalyzerConfig, run_batch
    from kafka_dead_letter_analyzer_spark.schemas import RAW_ENVELOPE

    res: dict = {}
    archive = f"{inp}/archive"
    # Set-up is the session only. run_batch builds its plans itself, and
    # building them here first would fill the package's module-level plan
    # memos, making the measured run_batch a cache hit a CLI user never gets.
    with tracer.span("setup"):
        t0 = time.perf_counter()
        spark = _spark(tracer, res)
        res["setup_s"] = time.perf_counter() - t0
    out = f"{work}/out"
    config = AnalyzerConfig(batch_input=archive, batch_output=out,
                            drift_report=True)
    with tracer.span("cli.run_batch"):
        res["run_start"] = time.time()
        t = time.perf_counter()
        paths = run_batch(spark, config)
        res["run_s"] = time.perf_counter() - t
        res["run_end"] = time.time()
    ex = _executions(spark, {k: f"{out}/{k}" for k in BATCH_OUTPUTS})
    res["outputs_done"] = {k: v["done"] for k, v in ex.items()}
    res["rows"] = {
        "stats": [r.asDict() for r in spark.read.parquet(paths["stats"])
                  .select("kafka_key", "count", "created", "updated").collect()],
        "examples": [r.asDict() for r in spark.read.parquet(paths["examples"])
                     .groupBy("kafka_key").count().collect()],
        "errors": [r.asDict() for r in spark.read.parquet(paths["errors"])
                   .groupBy(F.col("dead_letter.description").alias("description"))
                   .count().collect()],
        "full_count": spark.read.parquet(paths["full"]).count(),
        "drift": [r.asDict() for r in spark.read.parquet(paths["drift"])
                  .select("topic", "type", "n").collect()],
    }
    if tracer.enabled:
        layers = {f"cli.run_batch.{k}_s": v["s"] for k, v in ex.items()}
        # A1, the topology's one shuffle, feeds the stats and examples writes
        a1 = [ex[k] for k in ("stats", "examples") if k in ex]
        layers["operators.aggregate.shuffle_bytes"] = sum(o["shuffle"] for o in a1)
        layers["operators.aggregate.spill_bytes"] = sum(o["spill"] for o in a1)
        layers.update(_layer_prefixes(
            spark, spark.read.schema(RAW_ENVELOPE).parquet(archive), work,
            tracer, wire=False))
        res["layers"] = layers
    return res


# ---------------------------------------------------------------------------
# corpus-dedup
# ---------------------------------------------------------------------------


def run_corpus(inp: str, work: str, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.operators import dedup as D
    from kafka_dead_letter_analyzer_spark.operators import graph as G
    from kafka_dead_letter_analyzer_spark.operators import io as IO
    from kafka_dead_letter_analyzer_spark.operators import sampling as SA

    res: dict = {}
    with tracer.span("setup"):
        t0 = time.perf_counter()
        spark = _spark(tracer, res)
        res["setup_s"] = time.perf_counter() - t0
    out = f"{work}/out"
    layers: dict = {}

    def step(name, fn):
        with tracer.span(name):
            t = time.perf_counter()
            value = fn()
            layers[f"{name}_s"] = time.perf_counter() - t
            return value

    def forced(df):
        df = df.persist()
        df.count()
        return df

    with tracer.span("corpus.pipeline"):
        t = time.perf_counter()
        docs = spark.read.parquet(f"{inp}/corpus")
        pairs = step("operators.dedup.minhash", lambda: forced(
            D.dedup_near_minhash(docs, num_hashes=64, bands=16,
                                 threshold=checks.THRESHOLD)))
        comp = step("operators.graph.components",
                    lambda: forced(G.connected_components(pairs)))
        drops = comp.filter("id != component").withColumnRenamed("id", "doc_id")
        kept = docs.join(drops, "doc_id", "left_anti")
        sample = step("operators.sampling.quota", lambda: forced(
            SA.stratified_quota(kept, stratum="lang", key="doc_id",
                                k=checks.QUOTA)))
        step("operators.io.write_sized",
             lambda: IO.write_sized(sample, out, target_file_bytes=256 << 10))
        res["run_s"] = time.perf_counter() - t
    res["docs"] = docs.count()
    res["rows"] = {
        "pairs": [tuple(r) for r in pairs.select("id_a", "id_b").collect()],
        "components": [tuple(r) for r in comp.select("id", "component").collect()],
        "sample": [r.asDict() for r in spark.read.parquet(out)
                   .groupBy("lang").agg(F.count("*").alias("n"),
                                        F.countDistinct("doc_id").alias("d"))
                   .collect()],
    }
    if tracer.enabled:
        # every LSH candidate pair survives a zero threshold
        candidates = D.dedup_near_minhash(docs, num_hashes=64, bands=16,
                                          threshold=0.0).count()
        n_pairs = len(res["rows"]["pairs"])
        layers["operators.dedup.candidate_pairs"] = candidates
        layers["operators.dedup.verify_ratio"] = (
            n_pairs / candidates if candidates else 0.0)
        layers["operators.graph.edges"] = n_pairs
        layers["operators.io.files"] = len(glob.glob(f"{out}/*.parquet"))
        res["layers"] = layers
    return res


WORKLOADS = {"stream-incident": run_stream, "backfill-archive": run_backfill,
             "corpus-dedup": run_corpus}


def main(argv: list[str]) -> None:
    workload, inp, work, result, traced = argv
    tracer = Tracer(traced == "1")
    res = WORKLOADS[workload](inp, work, tracer)
    if tracer.enabled:
        res["self_s"] = tracer.self_times()
        res["spans"] = tracer.spans
    with open(result + ".tmp", "w") as f:
        json.dump(res, f)
    os.rename(result + ".tmp", result)


if __name__ == "__main__":
    main(sys.argv[1:])
