#!/usr/bin/env python3
"""Snapshot-ingest benchmark: the keyed JSON log → lenient parse →
latest-wins → snapshot job, in batch (`IngestJob.run`) and streaming
(kafkalog → TWS upsert → kafkalog) form.

    python3 perfbench/run.py --workload snapshot_hot --seed 1 --seconds 12 --trace 0

Builds the program from source (build.py), generates the workload from the
seed in a separate process (gen.py), runs the JVM side (src/Worker.scala),
checks every snapshot it wrote against the generator's digest (check.py), and
prints each metric by name with its unit.  The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones.  Workloads, metrics and their layer map: NOTES.md.
"""

import argparse
import datetime
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
from gen import WORKLOADS  # noqa: E402

WORK = os.path.join(build.OUT, "work")
RUN_TIMEOUT_S = 170
END_TO_END = [
    ("setup_s", "s"), ("first_run_s", "s"), ("records_per_s", "1/s"),
    ("freshness_s_p50", "s"), ("freshness_s_p90", "s"), ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("source.scan_s", "s"), ("source.records", "count"), ("source.bytes_read", "bytes"),
    ("source.input_partitions", "count"), ("source.latest_offset_ms_p50", "ms"),
    ("source.get_batch_ms_p50", "ms"), ("source.lag_records_max", "count"),
    ("source.gen_late_ms_max", "ms"),
    ("parse.s", "s"), ("parse.records_in", "count"), ("parse.records_out", "count"),
    ("parse.ok_ratio", "ratio"),
    ("dedup.s", "s"), ("dedup.shuffle_write_bytes", "bytes"), ("dedup.shuffle_records", "count"),
    ("dedup.combine_ratio", "ratio"), ("dedup.spill_bytes", "bytes"),
    ("dedup.peak_exec_mem_bytes", "bytes"), ("dedup.skew", "ratio"), ("dedup.keys_out", "count"),
    ("sink.s", "s"), ("sink.bytes_written", "bytes"), ("sink.files", "count"),
    ("sink.records", "count"),
    ("job.recount_s", "s"), ("job.spark_jobs", "count"), ("job.stages", "count"),
    ("plan.s", "s"), ("codegen.compiles", "count"), ("codegen.first_run_compiles", "count"),
    ("stream.batches", "count"), ("stream.trigger_ms_p50", "ms"),
    ("stream.planning_ms_p50", "ms"), ("stream.add_batch_ms_p50", "ms"),
    ("stream.wal_commit_ms_p50", "ms"), ("stream.commit_offsets_ms_p50", "ms"),
    ("stream.emit_ratio", "ratio"),
    ("state.rows_total", "count"), ("state.rows_updated", "count"),
    ("state.commit_ms_p50", "ms"), ("state.memory_bytes", "bytes"),
    ("logsink.s", "s"), ("logsink.records", "count"), ("logsink.segments", "count"),
    ("trace.overhead_frac", "ratio"),
]

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def percentile(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values):
    return statistics.median(values) if values else 0.0


def cpu_times():
    """(busy, steal) jiffies of all CPUs, from /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(f[:3]) + sum(f[5:7]), f[7]


class Processes:
    """Every process the benchmark starts, stopped and reaped on exit."""

    def __init__(self):
        self.procs = []

    def start(self, cmd, **kw):
        p = subprocess.Popen(cmd, **kw)
        self.procs.append(p)
        return p

    def stop_all(self):
        for p in self.procs:
            if p.poll() is None:
                p.kill()
            p.wait()


def worker_cmd(classpath, spec, manifest, results, seconds, trace):
    cpus = len(os.sched_getaffinity(0))
    opts = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    opts += ["-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    args = {"mode": spec["kind"], "input": manifest["input"], "work": WORK,
            "results": results, "seconds": seconds, "trace": trace, "cpus": cpus}
    if spec["kind"] == "stream":
        args.update(cap=spec["cap"], partitions=manifest["partitions"])
    return ["java", *opts, "-cp", classpath, "perfbench.Worker",
            *[f"{k}={v}" for k, v in args.items()]]


def run_worker(procs, classpath, spec, manifest, seconds, trace, deadline):
    """Run the JVM side; for the stream, drive the live tail when it asks."""
    results = os.path.join(WORK, "results.json")
    log = open(os.path.join(WORK, "worker.log"), "w")
    stream = spec["kind"] == "stream"
    w = procs.start(worker_cmd(classpath, spec, manifest, results, seconds, trace),
                    stdin=subprocess.PIPE if stream else subprocess.DEVNULL,
                    stdout=subprocess.PIPE, stderr=log, text=True)
    watchdog = threading.Timer(max(1.0, deadline - time.time()), w.kill)
    watchdog.start()
    tail = None
    try:
        for line in w.stdout:
            if line.strip() == "BURST_READY":
                for hidden, final in manifest["burst"]:
                    os.replace(hidden, final)
                w.stdin.write("BURST_DONE\n")
                w.stdin.flush()
            elif line.strip() == "TAIL_READY":
                tail = run_tail(procs, manifest, deadline)
                w.stdin.write("TAIL_DONE\n")
                w.stdin.flush()
        code = w.wait()
    finally:
        watchdog.cancel()
        log.close()
    if code != 0:
        with open(os.path.join(WORK, "worker.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise BenchError(f"worker exited with {code}")
    with open(results) as f:
        return json.load(f), tail


def run_tail(procs, manifest, deadline):
    """Start the open-loop appender and wait for its last segment."""
    sched = os.path.join(WORK, "schedule.json")
    actual = os.path.join(WORK, "tail_actual.json")
    with open(sched, "w") as f:
        json.dump(manifest["schedule"], f)
    t0 = time.time() + 0.25
    t = procs.start([sys.executable, os.path.join(HERE, "tail.py"), sched, repr(t0), actual])
    if t.wait(timeout=max(1.0, deadline - time.time())) != 0:
        raise BenchError("tail appender failed")
    with open(actual) as f:
        return {"t0": t0, "actual": json.load(f)}


# ------------------------------------------------------------- correctness

def check_outputs(spec, manifest, res):
    """Check every snapshot the worker wrote; returns (attempted, failed)."""
    attempted = failed = 0
    for r in res["runs"]:
        path = r.get("output")
        if not path:
            continue
        attempted += 1
        if spec["kind"] == "batch":
            ok = check.matches(check.read_snapshot(path), manifest["digest"])
        else:
            want = manifest["digest_live" if r.get("live") else "digest"]
            latest = check.read_log_latest(path)
            ok = check.matches(latest, want)
            files = check.log_files(path)
            r["log_segments"] = len(files)
            r["log_records"] = sum(sum(1 for _ in open(f, "rb")) for f in files)
        if spec["kind"] == "batch" and r.get("phase") == "write":
            r["files"] = len([n for n in os.listdir(path) if n.startswith("part-")])
        if not ok:
            failed += 1
            print(f"MISMATCH {r.get('tag')}: {os.path.relpath(path, WORK)}", file=sys.stderr)
        shutil.rmtree(path, ignore_errors=True)
    return attempted, failed


# ----------------------------------------------------------------- stream

def utc_seconds(ts):
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def offsets(o):
    if isinstance(o, str):
        o = json.loads(o)
    return {int(k): int(v) for k, v in (o or {}).items()}


def batches(run):
    """The micro-batches of a query that processed data, in batch order."""
    out = []
    for j in run["progress"]:
        p = json.loads(j)
        d = p["durationMs"]
        if "addBatch" not in d:
            continue
        src = p["sources"][0]
        op = (p.get("stateOperators") or [{}])[0]
        out.append({"id": p["batchId"], "rows": p["numInputRows"], "d": d, "state": op,
                    "start_t": utc_seconds(p["timestamp"]),
                    "commit_t": utc_seconds(p["timestamp"]) + d["triggerExecution"] / 1000,
                    "start": offsets(src["startOffset"]), "end": offsets(src["endOffset"])})
    out.sort(key=lambda b: b["id"])
    return out


def within(b, ends):
    return all(o <= ends[p] for p, o in b["end"].items())


def phases(run, manifest):
    """The live query's batches split into backlog drain, burst and tail."""
    bs = batches(run)
    drain = [b for b in bs if within(b, manifest["backlog_end"])]
    burst = [b for b in bs if within(b, manifest["burst_end"]) and b not in drain]
    return drain, burst, bs[len(drain) + len(burst):]


def freshness(run, manifest, tail):
    """Per tail segment: scheduled append → commit of the batch covering it."""
    bs = batches(run)
    samples = []
    for seg in manifest["schedule"]:
        due = tail["t0"] + seg["at_s"]
        cover = next((b for b in bs if b["end"].get(seg["partition"], 0) >= seg["end_offset"]), None)
        if cover is None:
            raise BenchError("a tail segment was never committed")
        samples.append(cover["commit_t"] - due)
    return samples


def tail_lag(run, manifest, tail):
    """Largest number of appended records not yet read when a tail batch started."""
    bs = phases(run, manifest)[2]
    appended = sorted(zip(tail["actual"], (s["records"] for s in manifest["schedule"])))
    lag = 0
    for b in bs:
        visible = manifest["records"] + sum(n for t, n in appended if t <= b["start_t"])
        lag = max(lag, visible - sum(b["start"].values()))
    return lag


# ---------------------------------------------------------------- metrics

def end_to_end(spec, manifest, res, tail):
    """The end-to-end metrics and the number of freshness samples."""
    runs = res["runs"]
    first = next(r for r in runs if r["phase"] == "first")
    if spec["kind"] == "batch":
        warm = [r for r in runs if r["phase"] == "warm"]
        visible = [r["visible_s"] for r in warm]
        throughput = manifest["records"] / median([r["wall_s"] for r in warm])
    else:
        visible = freshness(first, manifest, tail)
        # the burst's cap-sized micro-batches, after the backlog has warmed
        # the query up: their rows over their trigger time
        burst = phases(first, manifest)[1]
        throughput = (sum(b["rows"] for b in burst)
                      / sum(b["d"]["triggerExecution"] / 1000.0 for b in burst))
    return {
        "setup_s": res["setup_s"],
        "first_run_s": first["wall_s"],
        "records_per_s": throughput,
        "freshness_s_p50": percentile(visible, 0.5),
        "freshness_s_p90": percentile(visible, 0.9),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }, len(visible)


def by_tag(items, tag):
    return [t for t in items if t.get("tag") == tag]


def layer_walls(runs, cut):
    return [r["wall_s"] for r in sorted((r for r in runs if r.get("cut") == cut
                                         and r["phase"] == "layer"), key=lambda r: r["tag"])]


def diff(runs, hi, lo):
    return median([a - b for a, b in zip(layer_walls(runs, hi), layer_walls(runs, lo))])


def shuffle_stats(tasks):
    reduce = [t["shuffle_read_bytes"] for t in tasks if t["shuffle_read_bytes"] > 0]
    return {
        "dedup.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "dedup.shuffle_records": sum(t["shuffle_write_records"] for t in tasks),
        "dedup.spill_bytes": sum(t["spill_disk_bytes"] for t in tasks),
        "dedup.peak_exec_mem_bytes": max([t["peak_exec_mem"] for t in tasks] or [0]),
        "dedup.skew": max(reduce) / median(reduce) if reduce else 0.0,
    }


def jobs_and_stages(trace, tag):
    js = by_tag(trace["jobs"], tag)
    return {"job.spark_jobs": sum(1 for j in js if "job" in j),
            "job.stages": sum(1 for j in js if "stage_completed" in j)}


def overhead_frac(traced, runs):
    """Traced over untraced wall time of the same job, minus one."""
    plain = [r["wall_s"] for r in runs if r["phase"] == "overhead_untraced"]
    return median(traced) / median(plain) - 1.0


def batch_layers(manifest, res):
    runs, trace = res["runs"], res["trace"]
    tasks = trace["tasks"]
    last = max(r["rep"] for r in runs if r["phase"] == "layer")
    scan = [t for t in by_tag(tasks, f"scan#{last}") if t["records_read"] > 0]
    records_in = sum(t["records_read"] for t in scan)
    records_out = res["parse_records_out"]
    write = by_tag(tasks, f"write#{last}")
    write_run = next(r for r in runs if r["phase"] == "write" and r["tag"] == f"write#{last}")
    run = next(r for r in runs if r["tag"] == f"run#{last}")
    queries = by_tag(trace["queries"], f"run#{last}")
    m = {
        "source.scan_s": median(layer_walls(runs, "scan")),
        "source.records": records_in,
        "source.bytes_read": sum(q["files_size"] for q in by_tag(trace["queries"], f"scan#{last}")),
        "source.input_partitions": len(scan),
        "parse.s": diff(runs, "parse", "scan"),
        "parse.records_in": records_in,
        "parse.records_out": records_out,
        "parse.ok_ratio": records_out / records_in,
        "dedup.s": diff(runs, "dedup", "parse"),
        "dedup.keys_out": run["rows"],
        "sink.s": diff(runs, "write", "dedup"),
        "sink.bytes_written": sum(t["output_bytes"] for t in write),
        "sink.files": write_run["files"],
        "sink.records": sum(t["output_records"] for t in write),
        "job.recount_s": median([r["wall_s"] for r in runs if r["phase"] == "layer_run"])
        - median(layer_walls(runs, "write")),
        "plan.s": sum(q.get(k, 0) for q in queries
                      for k in ("analysis", "optimization", "planning")) / 1000.0,
        "codegen.compiles": trace["compiles"].get(f"run#{last}", 0),
        "codegen.first_run_compiles": trace["compiles"].get("first", 0),
        "trace.overhead_frac": overhead_frac(
            [r["wall_s"] for r in runs if r["phase"] == "overhead_traced"], runs),
    }
    m.update(shuffle_stats(by_tag(tasks, f"dedup#{last}")))
    m["dedup.combine_ratio"] = m["dedup.shuffle_records"] / records_out
    m.update(jobs_and_stages(trace, f"run#{last}"))
    return m


def stream_layers(manifest, res, tail):
    runs, trace = res["runs"], res["trace"]
    tasks = trace["tasks"]
    full = next(r for r in runs if r["tag"] == "full#0")
    drain, burst, _ = phases(full, manifest)
    src_run = next(r for r in runs if r["tag"] == "source#0")
    src_tasks = [t for t in by_tag(tasks, "source#0") if t["records_read"] > 0]
    records_in = sum(b["rows"] for b in batches(src_run))
    shuffle = shuffle_stats(by_tag(tasks, "state#0"))
    records_out = shuffle["dedup.shuffle_records"]
    state_run = next(r for r in runs if r["tag"] == "state#0")

    def add_batch_s(bs):
        return sum(b["d"]["addBatch"] for b in bs) / 1000.0

    def p50(key):
        return median([b["d"].get(key, 0) for b in burst])

    ops = [b["state"] for b in burst]
    m = {
        "source.scan_s": src_run["wall_s"],
        "source.records": records_in,
        "source.bytes_read": sum(t["bytes_read"] for t in src_tasks),
        "source.input_partitions": len(src_tasks) / max(1, len(batches(src_run))),
        "source.latest_offset_ms_p50": p50("latestOffset"),
        "source.get_batch_ms_p50": p50("getBatch"),
        "source.lag_records_max": tail_lag(full, manifest, tail),
        "parse.s": diff(runs, "parse", "source"),
        "parse.records_in": records_in,
        "parse.records_out": records_out,
        "parse.ok_ratio": records_out / records_in,
        "dedup.s": diff(runs, "state", "parse"),
        "dedup.keys_out": ops[-1].get("numRowsTotal", 0),
        "plan.s": sum(b["d"].get("queryPlanning", 0) for b in burst) / 1000.0,
        "codegen.compiles": trace["compiles"].get("full#0", 0),
        "codegen.first_run_compiles": trace["compiles"].get("first", 0),
        "stream.batches": len(batches(full)),
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.planning_ms_p50": p50("queryPlanning"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.commit_offsets_ms_p50": p50("commitOffsets"),
        "stream.emit_ratio": full["log_records"] / sum(b["rows"] for b in batches(full)),
        "state.rows_total": ops[-1].get("numRowsTotal", 0),
        "state.rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "state.commit_ms_p50": median([o.get("commitTimeMs", 0) for o in ops]),
        "state.memory_bytes": ops[-1].get("memoryUsedBytes", 0),
        "logsink.s": add_batch_s(drain) - add_batch_s(batches(state_run)),
        "logsink.records": full["log_records"],
        "logsink.segments": full["log_segments"],
        "trace.overhead_frac": overhead_frac([full["wall_s"]], runs),
    }
    m.update(shuffle)
    m["dedup.combine_ratio"] = 1.0 if records_out else 0.0
    late = [a - (tail["t0"] + s["at_s"]) for a, s in zip(tail["actual"], manifest["schedule"])]
    m["source.gen_late_ms_max"] = max(late) * 1000.0
    return m


def per_layer(spec, manifest, res, tail):
    m = batch_layers(manifest, res) if spec["kind"] == "batch" else stream_layers(manifest, res, tail)
    # a layer the workload does not pass through reads 0
    return {name: float(m.get(name, 0.0)) for name, _ in PER_LAYER}


# ------------------------------------------------------------------- main

def bench(a, classpath, procs):
    deadline = time.time() + RUN_TIMEOUT_S
    cpu0 = cpu_times()
    spec = WORKLOADS[a.workload]
    data = os.path.join(WORK, "data")
    r = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--out", data, "--seconds", str(a.seconds)],
                       stdout=subprocess.DEVNULL)
    if r.returncode != 0:
        raise BenchError("generator failed")
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    res, tail = run_worker(procs, classpath, spec, manifest, a.seconds, a.trace, deadline)
    if spec["kind"] == "stream" and tail is None:
        raise BenchError("the worker never reached the live tail")
    attempted, failed = check_outputs(spec, manifest, res)
    if a.trace:
        metrics, units = per_layer(spec, manifest, res, tail), dict(PER_LAYER)
        samples = None
    else:
        metrics, samples = end_to_end(spec, manifest, res, tail)
        units = dict(END_TO_END)
    for name, value in metrics.items():
        print(f"{name:32s} {value:16.6f} {units[name]}")
    if samples is not None:
        print(f"{'freshness samples':32s} {samples:16d} count")
    print(f"{'failed_frac':32s} {failed / max(1, attempted):16.6f} ratio  ({failed}/{attempted} runs)")
    # the host's share of this run's CPU time taken by other guests: context
    # for a slow run on a shared machine, not a metric of the program
    busy, steal = (b - a for a, b in zip(cpu0, cpu_times()))
    print(f"{'host_cpu_steal_frac':32s} {steal / max(1, busy + steal):16.6f} ratio")
    # sidecar: the metrics and, traced, every cut's wall time they came from
    prefix_s = {}
    for r in res["runs"]:
        if r["phase"] in ("layer", "layer_run", "overhead_traced", "overhead_untraced"):
            prefix_s.setdefault(r.get("cut", r["phase"]), []).append(r["wall_s"])
    with open(os.path.join(build.OUT, f"last-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "metrics": metrics,
                   "prefix_s": prefix_s, "attempted": attempted, "failed": failed,
                   "runs": [{k: r[k] for k in ("tag", "wall_s", "visible_s") if k in r}
                            for r in res["runs"]],
                   "batches": [[{"rows": b["rows"], "ms": b["d"],
                                 "state_commit_ms": b["state"].get("commitTimeMs", 0)}
                                for b in batches(r)] for r in res["runs"] if "progress" in r]},
                  f, indent=1)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    procs = Processes()
    try:
        result = bench(a, classpath, procs)
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        procs.stop_all()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
