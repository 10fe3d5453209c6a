"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload stream-incident --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run it from the repository root. It generates the workload's inputs from
the seed, runs one trial of the workload in a fresh process (the analyzer's
Spark driver), checks the outputs against the generator's ground truth and
prints every metric by name with its unit and sample count. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or
its per-layer metrics with ``--trace 1``).

``--workload all`` runs every workload untraced and traced and also prints
the tracing overhead (traced minus untraced end-to-end values).

Scratch files live under ``perfbench/_work`` and are removed at the end;
each run's full result (environment, checks, per-layer figures, spans) is
kept in ``perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

PACKAGE = "kafka_dead_letter_analyzer_spark"
DEADLINE_S = 170  # the whole run must end within 180 s
# input size per second of --seconds: burst records of the stream (its
# trickle lasts --seconds), archive records, corpus documents
ROWS_PER_SECOND = {"stream-incident": 500, "backfill-archive": 150,
                   "corpus-dedup": 250}

WORKLOADS = tuple(workloads.WORKLOADS)
ANALYZER_OUTPUTS = ("full", "stats", "examples", "errors")
# The trial's driver heap, fixed so every run measures the same
# configuration. The inputs are a few megabytes, and the package default
# (8g) would let one trial's heap grow far beyond what it needs on a host
# whose memory is shared.
DRIVER_MEM = "2g"


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# environment and process tree
# ---------------------------------------------------------------------------


def _procs() -> list[tuple[int, str, int]]:
    """(pid, command name, process group) of every live process; zombies,
    which hold no memory and wait only to be reaped, are left out."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            out.append((int(d), comm, int(fields[2])))
    return out


def _cpu_probe_s() -> float:
    """Median seconds of a fixed pure-Python loop: how fast one core of
    this machine runs right now (shared machines drift by tens of percent)."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        times.append(time.perf_counter() - t)
    return sorted(times)[2]


def environment() -> dict:
    nproc = len(os.sched_getaffinity(0))
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(nproc)),
        "loadavg": list(os.getloadavg()),
        "foreign_jvms": sum(comm == "java" for _, comm, _ in _procs()),
        "cpu_probe_s": _cpu_probe_s(),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    }


def _group_pss_bytes(pgid: int) -> int:
    """Proportional set size summed over one process group. Unlike summed
    RSS it counts a page shared by forked Python workers once."""
    total = 0
    for pid, _, group in _procs():
        if group != pgid:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakMemory(threading.Thread):
    """Samples the memory of one process group until stopped."""

    def __init__(self, pgid: int):
        super().__init__(daemon=True)
        self.pgid = pgid
        self.peak = 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.1):
            self.peak = max(self.peak, _group_pss_bytes(self.pgid))


def _reap_group(pgid: int) -> None:
    """Kill whatever the trial left in its process group and wait until
    every member is gone."""
    for _ in range(100):
        if not any(g == pgid for _, _, g in _procs()):
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise RuntimeError(f"process group {pgid} did not exit")


# ---------------------------------------------------------------------------
# one trial
# ---------------------------------------------------------------------------


def make_inputs(workload: str, seed: int, seconds: int, out: str) -> dict:
    rows = ROWS_PER_SECOND[workload] * seconds
    if workload == "stream-incident":
        trickle = int(seconds / workloads.TRICKLE_INTERVAL_S)
        return gen.stream_inputs(seed, out, warm_rows=200, trickle_files=trickle,
                                 trickle_rows=20, burst_files=4, burst_rows=rows // 4)
    if workload == "backfill-archive":
        return gen.archive_inputs(seed, out, rows=rows)
    return gen.corpus_inputs(seed, out, docs=rows)


def run_trial(root: str, workload: str, inp: str, work: str, trace: bool,
              deadline: float) -> tuple[dict, int]:
    """Run the workload in a fresh process group; returns its result and
    the group's peak memory in bytes."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        # the JVMs keep temp files in the work dir and no perf data in /tmp
        "SPARK_SUBMIT_OPTS": f"{env.get('SPARK_SUBMIT_OPTS', '')} "
                             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
        "SPARK_LAUNCHER_OPTS": f"{env.get('SPARK_LAUNCHER_OPTS', '')} "
                               "-XX:-UsePerfData".strip(),
    })
    result = os.path.join(work, "result.json")
    with open(os.path.join(work, "trial.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workloads.py"), workload, inp,
             work, result, "1" if trace else "0"],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        sampler = PeakMemory(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.done.set()
            sampler.join()
            _reap_group(proc.pid)
            proc.wait()
    if code != 0:
        with open(os.path.join(work, "trial.log")) as f:
            tail = f.read()[-3000:]
        how = "timed out" if code is None else f"exited {code}"
        raise RuntimeError(f"{workload} trial {how}\n{tail}")
    with open(result) as f:
        return json.load(f), sampler.peak


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(math.ceil(p * len(s)) - 1, 0)]


def stream_metrics(truth: dict, res: dict) -> tuple[dict, dict, list]:
    """End-to-end figures, per-layer figures and attribution checks of a
    stream trial. Freshness is attributed per generator file: the time from
    the file's scheduled release until the last of the four queries
    committed the batch that read it, from each query's own logs."""
    rows = {f["name"]: f["rows"] for f in truth["files"]}
    rows["warm.parquet"] = truth["warm_rows"]
    phase = {f["name"]: f["phase"] for f in truth["files"]}
    log = {e["name"]: e for e in res["release_log"]}
    missing = [(q, name) for q, c in res["commits"].items()
               for name in rows if name not in c]
    done = {name: max(c[name][1] for c in res["commits"].values())
            for name in rows if all(name in c for c in res["commits"].values())}
    fresh = []
    for name, e in log.items():
        if phase[name] == "trickle" and name in done:
            fresh += [done[name] - e["due"]] * rows[name]
    burst = [n for n in log if phase[n] == "burst"]
    drain = (max(done.get(n, math.inf) for n in burst)
             - min(log[n]["due"] for n in burst))
    late = [e["at"] - e["due"] for e in log.values()]
    e2e = {
        "records_per_s": (sum(rows[n] for n in burst) / drain, 1),
        "freshness_p50_s": (percentile(fresh, 0.5), len(fresh)),
        "freshness_p90_s": (percentile(fresh, 0.9), len(fresh)),
    }
    layers = {
        "release.late_p50_ms": percentile(late, 0.5) * 1000,
        "release.late_max_ms": max(late) * 1000,
        "streaming.kafka.sink_bytes": res["sink_bytes"],
    }
    for q, c in res["commits"].items():
        batches = {b for b, _ in c.values()}
        eng = res["engine"][q]
        pre = f"streaming.engine.{q}."
        layers[pre + "batches"] = len(batches)
        layers[pre + "rows_per_batch"] = sum(rows[n] for n in c) / max(len(batches), 1)
        layers[pre + "planning_ms"] = eng["planning_ms"]
        layers[pre + "add_batch_ms"] = eng["add_batch_ms"]
        if q in ("stats", "examples"):
            layers[pre + "state_rows"] = eng["state_rows"]
            layers[pre + "state_bytes"] = eng["state_bytes"]
            layers[pre + "state_commit_ms"] = eng["state_commit_ms"]
    attribution = [checks.outcome(
        "freshness attributed to every file in every query", not missing,
        f"{len(missing)} (query, file) pairs without a commit")]
    return e2e, layers, attribution


def measure(workload: str, truth: dict, res: dict, texts: dict | None):
    """(end-to-end {name: (value, samples)}, per-layer {name: value},
    checks, operations attempted)."""
    layers = dict(res.get("layers", {}))
    layers["session.get_spark_s"] = res["get_spark_s"]
    if workload == "stream-incident":
        e2e, extra, found = stream_metrics(truth, res)
        layers.update(extra)
        layers["plans.topology.build_s"] = res["topology_build_s"]
        layers["streaming.kafka.decode_build_s"] = res["decode_build_s"]
        found += checks.stream_checks(truth, res["rows"])
        # every micro-batch of every query is one batch and one sink write
        ops = 2 * sum(layers[f"streaming.engine.{q}.batches"]
                      for q in ("full", "stats", "examples", "errors"))
    elif workload == "backfill-archive":
        # every record is fresh once the last of the four analyzer outputs is
        # written; without a completed write of each, the end of the
        # run_batch call stands in and the check below fails
        done = res["outputs_done"]
        missing = [k for k in workloads.BATCH_OUTPUTS if k not in done]
        end = (max(done[k] for k in ANALYZER_OUTPUTS)
               if all(k in done for k in ANALYZER_OUTPUTS) else res["run_end"])
        fresh = end - res["run_start"]
        n = truth["records"]
        e2e = {"records_per_s": (n / res["run_s"], 1),
               "freshness_p50_s": (fresh, n), "freshness_p90_s": (fresh, n)}
        found = [checks.outcome("every run_batch output written", not missing,
                                f"no completed write of {', '.join(missing)}"),
                 *checks.backfill_checks(truth, res["rows"])]
        ops = len(workloads.BATCH_OUTPUTS)  # the five writes of run_batch
    else:
        n = res["docs"]
        e2e = {"records_per_s": (n / res["run_s"], 1),
               "freshness_p50_s": (res["run_s"], n),
               "freshness_p90_s": (res["run_s"], n)}
        found = checks.corpus_checks(truth, res["rows"], texts)
        ops = 4  # dedup, components, quota, sized write
    e2e["setup_s"] = (res["setup_s"], 1)
    return e2e, layers, found, ops + len(found)


def run_workload(root: str, spec: dict, workload: str, seed: int, seconds: int,
                 trace: bool, deadline: float) -> dict:
    env = environment()
    work = os.path.join(HERE, "_work", f"{workload}-{seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    try:
        truth = make_inputs(workload, seed, seconds, inp)
        res, peak = run_trial(root, workload, inp, work, trace, deadline)
        texts = None
        if workload == "corpus-dedup":
            import pyarrow.parquet as pq

            t = pq.read_table(os.path.join(inp, "corpus"), columns=["doc_id", "text"])
            texts = dict(zip(t.column("doc_id").to_pylist(),
                             t.column("text").to_pylist()))
        e2e, layers, found, attempted = measure(workload, truth, res, texts)
        layers["process.peak_pss_mb"] = peak / 2**20
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(not ok for _, ok, _ in found)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if trace:
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]}
                   for n in names}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "environment": env, "checks": found, "end_to_end": e2e, "layers": layers,
        "self_s": res.get("self_s", {}), "attempted": attempted, "failed": failed,
        "units": units, "spans": res.get("spans", []),
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results",
                           f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "detail": detail}


def report(out: dict) -> None:
    """Human-readable lines: environment, checks, every metric with its
    unit and sample count."""
    d = out["detail"]
    e = d["environment"]
    print(f"== {d['workload']} seed={d['seed']} seconds={d['seconds']} "
          f"trace={int(d['trace'])} | nproc={e['nproc']} "
          f"SPARK_GRAFT_CPUS={e['SPARK_GRAFT_CPUS']} "
          f"load={'/'.join(f'{x:.2f}' for x in e['loadavg'])} "
          f"foreign_jvms={e['foreign_jvms']} cpu_probe={e['cpu_probe_s']:.4f}s")
    for name, ok, why in d["checks"]:
        print(f"   check {'ok  ' if ok else 'FAIL'} {name}{': ' + why if why else ''}")
    print(f"   failed_share {d['failed']}/{d['attempted']} = "
          f"{d['failed'] / d['attempted']:.4f}")
    for name, (value, samples) in d["end_to_end"].items():
        unit = d["units"].get(name, "")
        print(f"   {name:<18} {value:>14.4f} {unit:<6} n={samples}")
    if d["trace"]:
        for name, value in sorted(d["layers"].items()):
            print(f"   {name:<44} {value:>14.4f}")
        for name, value in sorted(d["self_s"].items()):
            print(f"   self {name:<39} {value:>14.4f} s")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    start = time.time()
    # on SIGTERM, unwind so the running trial's process group is reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from the repository root; {PACKAGE}/ not found in "
              f"{root}", file=sys.stderr)
        return 2
    spec = load_spec(root)
    if a.workload != "all":
        out = run_workload(root, spec, a.workload, a.seed, a.seconds,
                           bool(a.trace), start + DEADLINE_S)
        report(out)
        print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed",
                                              "metrics")}))
        return 0
    # every workload, untraced then traced, with the tracing overhead
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for workload in WORKLOADS:
        runs = {}
        for trace in (False, True):
            out = run_workload(root, spec, workload, a.seed, a.seconds, trace,
                               time.time() + DEADLINE_S)
            report(out)
            runs[trace] = out["detail"]["end_to_end"]
            total["correct"] &= out["correct"]
            total["attempted"] += out["attempted"]
            total["failed"] += out["failed"]
            if not trace:
                for name, m in out["metrics"].items():
                    total["metrics"][f"{workload}.{name}"] = m
        for name, (value, _) in runs[False].items():
            print(f"   tracing overhead {name:<18} {runs[True][name][0] - value:+.4f}")
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    sys.exit(main())
