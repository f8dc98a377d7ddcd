#!/usr/bin/env python3
"""Benchmark of the MQTT bridge and of the batch query set.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads are defined in perfbench/workloads.json:
  bridge_jsonata     QoS 0, 16 topics, fixed stream id, JSONata transform
  batch_r5           the 44-query round-5 set over seeded sf0.1 tables

The first run builds the repository and the harness (perfbench/build.py)
into $CARGO_TARGET_DIR or .bench_build; every file a run writes stays there.

Set-up is measured cold: each run starts the harness JVM SETUPS times, one
after another, and each JVM sets up once; setup_s is the median.  JVMs that
take no load are probes that exit after set-up.

Bridge runs make PASSES load passes.  A pass starts perfbench/loadgen.py
(the broker side of MQTT, one connection, open-loop schedule from the seed)
and the harness perfbench.BridgeBench, which drives the shipped bridge: an
unmeasured warm-up, an open-loop phase at the workload's offered rate
(latencies), and a burst of a fixed number of messages (throughput).  The
open-loop phases of the passes add up to `--seconds`.  The run pools the
passes' latencies and bursts, so each figure covers two JVM starts, whose
speeds differ.

Batch runs start perfbench.BatchBench, whose last JVM runs a warm-up pass
over small tables (part of set-up) and then one pass of the query set in a
seed-shuffled order, writing every result; tools/check.py compares the
results with each query's oracle SQL in DuckDB.  The batch pass takes as
long as it takes; `--seconds` sets only the bridge's open-loop phases.

The last stdout line is one JSON object: correct, attempted, failed and
metrics.  With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics, and the run
also writes spans and a per-layer table under <target>/trace/<workload>/.
"""
import argparse
import bisect
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import loadgen  # noqa: E402

SETUPS = 3
PASSES = 2  # bridge load passes per run, each in its own JVM
STAMP = ""  # the build's source hash, set by main()
DEADLINE = 0.0  # monotonic time by which every JVM of the run has ended
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cpus():
    return len(os.sched_getaffinity(0))


def workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


def pct(xs, p):
    """Percentile by linear interpolation (numpy's default)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def arm_deadline():
    """A run has 180 s once the build and the batch tables exist: its JVMs get
    150 of them, the load generator's exit and the output checks the rest."""
    global DEADLINE
    DEADLINE = time.monotonic() + 150


def java(main, heap, args, log):
    tmp = os.path.join(build.target_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    # earlier runs' output still being written back competes with this run's disk I/O
    os.sync()
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-cp", build.classpath(), main] + [str(a) for a in args]
    with open(log, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf)
        try:
            rc = p.wait(timeout=max(1.0, DEADLINE - time.monotonic()))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise RuntimeError(f"{main} exited with {rc}; see {log}")


def fresh_dir(*parts):
    """An empty directory under the target. A previous one is moved aside, not
    deleted: removing thousands of flushed files costs minutes on a disk
    mounted with `discard`, and the sink output of a fan-out run has thousands."""
    d = os.path.join(build.target_dir(), *parts)
    if os.path.exists(d):
        trash = os.path.join(build.target_dir(), "trash")
        os.makedirs(trash, exist_ok=True)
        os.replace(d, os.path.join(trash, f"{os.path.basename(d)}-{time.time_ns()}"))
    os.makedirs(d)
    return d


# ---- bridge --------------------------------------------------------------

def probe_setups(main, heap, args, run, log, setups=SETUPS):
    """Set-up figures of `setups - 1` probe JVMs, each started cold and run in turn."""
    out = []
    for i in range(1, setups):
        d = os.path.join(run, f"probe-{i}")
        os.makedirs(d)
        result = os.path.join(d, "result.json")
        java(main, heap, args + ["--dir", d, "--result", result, "--probe", 1], log)
        with open(result) as f:
            out.append(json.load(f))
    return out


def merge_setups(probes, res):
    """Lists of the set-up figures of the probes and of the measured JVM."""
    return {k: [x[k] for x in probes + [res] if x.get(k) is not None]
            for k in ("setup_s", "plan_ms", "compile_ms")}


def run_bridge(name, w, seed, seconds, trace, ncpu, setups, tag):
    """One load pass, after `setups - 1` probe JVMs."""
    run = fresh_dir("runs", f"{name}-{ncpu}-{tag}")
    log = os.path.join(run, "log.txt")
    done, report = os.path.join(run, "gen_done.json"), os.path.join(run, "gen_report.json")
    with open(log, "ab") as lf:
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--workload", name, "--seed", str(seed),
             "--open-s", str(seconds), "--setups", str(setups), "--done", done, "--report", report],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=lf)
    try:
        port = int(gen.stdout.readline())
        args = ["--port", port, "--cpus", ncpu, "--trace", int(trace), "--filter", w["topic_filter"],
                "--stream-id", w["stream_id"], "--schema", w["payload_schema"], "--transform", w["transform"]]
        probes = probe_setups("perfbench.BridgeBench", w["driver_heap"], args, run, log, setups)
        java("perfbench.BridgeBench", w["driver_heap"],
             args + ["--dir", run, "--done", done, "--result", os.path.join(run, "result.json"),
                     "--spans", os.path.join(run, "spans.jsonl"),
                     "--load-timeout-s", int(w["warmup_s"] + seconds + w["settle_s"] + 60),
                     "--drain-timeout-s", 30],
             log)
    finally:
        gen.stdin.close()
        try:
            gen.wait(timeout=20)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen.wait()
    with open(os.path.join(run, "result.json")) as f:
        res = json.load(f)
    res.update(merge_setups(probes, res), setups=setups)
    with open(report) as f:
        rep = json.load(f)
    return run, res, rep, check_bridge(w, seed, seconds, run, res, rep)


def read_sink(out):
    import pyarrow.dataset as ds
    files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    if not files:
        return [], 0, 0
    t = ds.dataset(out, format="parquet", partitioning="hive",
                   ignore_prefixes=[".", "_"]).to_table(columns=["stream_id", "batch_id", "value_json"])
    rows = list(zip(t.column("stream_id").to_pylist(), t.column("batch_id").to_pylist(),
                    t.column("value_json").to_pylist()))
    return rows, len(files), sum(os.path.getsize(p) for p in files)


def check_bridge(w, seed, seconds, run, res, rep):
    """Every valid seq sink-visible exactly once with the right stream id and
    values; StatsListener's counts equal the generator's valid/malformed counts."""
    msgs, *_ = loadgen.build_schedule(w, seed, seconds)
    rows, n_files, n_bytes = read_sink(os.path.join(run, "out"))
    seen = {}
    wrong = 0
    for sid, batch, vj in rows:
        try:
            v = json.loads(vj)
            seq = int(v["seq"])
            if seq < 0 or seq >= len(msgs) or msgs[seq][3]:
                wrong += 1
                continue
            m = msgs[seq]
            k, sk, dk = m[4]
            total = k + sk + dk
            ok = sid == w["stream_id"] and int(v["due_us"]) == rep["t0_us"] + m[0] and \
                (float(v["total"]), float(v["twice"]), float(v["deepk"]), float(v["subdeep"])) \
                == (total, 2 * total, sk + dk, dk)
        except (ValueError, KeyError, TypeError):
            wrong += 1
            continue
        if not ok:
            wrong += 1
        if seq in seen:
            wrong += 1  # duplicate
        else:
            seen[seq] = batch
    valid = [i for i, m in enumerate(msgs) if not m[3]]
    missing = sum(1 for i in valid if i not in seen)
    n_bad = len(msgs) - len(valid)
    stats_off = abs(res["success"] - len(valid)) + abs(res["error"] - n_bad)
    return {"msgs": msgs, "seen": seen, "attempted": len(msgs), "failed": missing + wrong + stats_off,
            "missing": missing, "wrong": wrong, "stats_off": stats_off,
            "sink_files": n_files, "sink_bytes": n_bytes, "rows": rows}


def run_passes(name, w, seed, seconds, trace, ncpu, passes, setups=SETUPS):
    """`passes` load passes, each with its own schedule from the seed; the first
    one also starts the probes, so the run sets up `setups` times in all."""
    return [run_bridge(name, w, seed * PASSES + i, seconds / passes, trace, ncpu,
                       setups - passes + 1 if i == 0 else 1, i) for i in range(passes)]


def bridge_e2e(passes):
    """End-to-end figures of a run's passes: latencies pooled, bursts added up."""
    lat, n_burst, burst_s = [], 0, 0.0
    for _, res, rep, chk in passes:
        msgs, seen = chk["msgs"], chk["seen"]
        ret = {int(k): v for k, v in res["publish_returned_us"].items()}
        lat += [(ret[seen[i]] - (rep["t0_us"] + m[0])) / 1000.0
                for i, m in enumerate(msgs) if m[5] == "open" and i in seen and seen[i] in ret]
        burst = [i for i, m in enumerate(msgs) if m[5] == "burst"]
        last = burst[-1]
        n_burst += len(burst)
        burst_s += ((ret[seen[last]] - rep["burst_first_send_us"]) / 1e6
                    if last in seen and seen[last] in ret else float("inf"))
    return {
        "setup_s": statistics.median(x for p in passes for x in p[1]["setup_s"]),
        "throughput_per_s": n_burst / burst_s,
        "latency_p50_ms": pct(lat, 0.50),
        "latency_p90_ms": pct(lat, 0.90),
        "heap_peak_mb": max(p[1]["heap_peak_mb"] for p in passes),
    }, len(lat)


def bridge_run_layers(passes):
    """Per-layer figures of a traced run: the mean over its passes, and every trigger."""
    per = [bridge_layers(res, rep, chk) for _, res, rep, chk in passes]
    return {k: statistics.fmean(layers[k] for layers, _ in per) for k in per[0][0]}, \
        [b for _, batches in per for b in batches]


def bridge_layers(res, rep, chk):
    """Per-layer figures of one traced bridge pass (triggers after the warm-up)."""
    b = [x for x in res["batches"] if x["start_us"] >= rep["warm_end_us"]]
    tl_t = [t for t, _ in rep["timeline"]]
    tl_n = [n for _, n in rep["timeline"]]

    def sent_at(t):
        i = bisect.bisect_right(tl_t, t) - 1
        return tl_n[i] if i >= 0 else 0

    def med_of(f):
        return statistics.median(f(x) for x in b) if b else 0.0

    def med(k):
        return med_of(lambda x: x[k])

    per_batch_ids = {}
    for sid, batch, _ in chk["rows"]:
        per_batch_ids.setdefault(batch, set()).add(sid)
    open_b = [x for x in b if x["start_us"] <= rep["open_end_us"]]
    return {
        # mean, not median: the progress reports whole milliseconds and a QoS 0 poll takes less
        "source.latest_offset_ms": statistics.fmean(x["latest_offset_ms"] for x in b) if b else 0.0,
        "source.read_lag_msgs": pct([sent_at(x["start_us"]) - int(x["end_offset"]) for x in open_b], 0.99),
        "source.rows_per_trigger": med("rows"),
        "source.reconnects": rep["connects"] - res["setups"],
        "gen.blocked_ms": rep["blocked_ms"],
        "gen.late_p99_ms": rep["late_p99_ms"],
        "engine.query_planning_ms": med("query_planning_ms"),
        "engine.wal_commit_ms": med("wal_commit_ms"),
        "engine.commit_offsets_ms": med("commit_offsets_ms"),
        "engine.trigger_ms": med("trigger_ms"),
        "engine.triggers": len(b),
        "engine.tasks_per_trigger": med("tasks"),
        # each a median over the run's cold set-ups
        "jsonata.compile_ms": statistics.median(res["compile_ms"]) if res["compile_ms"] else 0.0,
        "pipeline.plan_ms": statistics.median(res["plan_ms"]),
        # processBatch minus publish minus ensure: the first action (ids collect), which
        # runs decode + parse + transform and caches the batch
        "pipeline.exec_ms": med_of(lambda x: (x["process_us"] - x["publish_us"] - x["ensure_us"]) / 1000.0),
        "pipeline.success": res["success"],
        "pipeline.error": res["error"],
        "sink.process_ms": med_of(lambda x: x["process_us"] / 1000.0),
        "sink.ensure_calls": res["ensure_calls"],
        "sink.ensure_ms": res["ensure_ms"],
        "sink.publish_ms": med_of(lambda x: x["publish_us"] / 1000.0),
        "sink.ids_per_trigger": statistics.median([len(v) for v in per_batch_ids.values()]) if per_batch_ids else 0,
        "sink.files": chk["sink_files"],
        "sink.mb": chk["sink_bytes"] / 1048576.0,
    }, b


# ---- batch ---------------------------------------------------------------

def batch_data(w, sf):
    import datagen
    d = os.path.join(build.target_dir(), "data", f"sf{sf}-seed{w['data_seed']}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d + ".tmp", w["data_seed"], sf)
        os.replace(d + ".tmp", d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def check_batch(data, out):
    """The repository's oracle gate, tools/check.py: each query's output against
    its `SparkEntry.oracleSql` in DuckDB. Returns {query: reason} for failures."""
    r = subprocess.run([sys.executable, "tools/check.py", data, out], capture_output=True, text=True)
    failures = {}
    for line in r.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            failures[name] = why
    if r.returncode not in (0, 1) or (r.returncode == 1 and not failures):
        raise RuntimeError(f"tools/check.py exited with {r.returncode}: {r.stderr[-2000:]}")
    return failures


def run_batch(name, w, seed, trace, ncpu):
    data = batch_data(w, w["sf"])
    warm = batch_data(w, w["warmup_sf"])
    arm_deadline()
    run = fresh_dir("runs", name)
    out = os.path.join(run, "out")
    log = os.path.join(run, "log.txt")
    args = ["--data", data, "--warm-data", warm, "--out", out, "--seed", seed, "--trace", int(trace),
            "--cpus", ncpu, "--queries", ",".join(w["queries"])]
    probes = probe_setups("perfbench.BatchBench", w["driver_heap"], args, run, log)
    java("perfbench.BatchBench", w["driver_heap"],
         args + ["--result", os.path.join(run, "result.json"), "--spans", os.path.join(run, "spans.jsonl")],
         log)
    with open(os.path.join(run, "result.json")) as f:
        res = json.load(f)
    res.update(merge_setups(probes, res))
    failures = check_batch(data, out)
    return run, res, failures


def batch_e2e(res):
    per_q = [x["total_us"] / 1000.0 for x in res["runs"]]
    return {
        # the median cold session plus the one warm-up pass
        "setup_s": statistics.median(res["setup_s"]) + res["warmup_s"],
        "throughput_per_s": len(per_q) / (sum(per_q) / 1000.0),
        "latency_p50_ms": pct(per_q, 0.50),
        "latency_p90_ms": pct(per_q, 0.90),
        "heap_peak_mb": res["heap_peak_mb"],
    }


FAMILIES = ["pipe", "q", "text", "emb", "knn", "dedup", "mm"]


def family(name):
    head = name.split("_")[0]
    return "q" if head.startswith("q") else head


def batch_layers(res):
    runs = res["runs"]
    windows = sorted((x["start_us"] // 1000, (x["start_us"] + x["total_us"]) // 1000,
                      (x["start_us"] + x["construct_us"]) // 1000) for x in runs)
    starts = [s for s, _, _ in windows]

    def in_execute(ms):
        i = bisect.bisect_right(starts, ms) - 1
        return i >= 0 and windows[i][2] <= ms <= windows[i][1]

    ph = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    exec_phase_ms = 0.0
    for p in res["phases"]:
        if p["name"] in ph:
            ph[p["name"]] += (p["end_ms"] - p["start_ms"]) / 1000.0
            if in_execute(p["start_ms"]):
                exec_phase_ms += p["end_ms"] - p["start_ms"]
    tasks = res["tasks"]
    fam = {f: 0.0 for f in FAMILIES}
    for x in runs:
        fam[family(x["name"])] += x["total_us"] / 1e6
    out = {
        "batch.construct_s": sum(x["construct_us"] for x in runs) / 1e6,
        "batch.analysis_s": ph["analysis"] + sum(x["df_analysis_ms"] for x in runs) / 1000.0,
        "batch.optimization_s": ph["optimization"],
        "batch.planning_s": ph["planning"],
        "batch.codegen_ms": sum(x["codegen_compiles"] * x["codegen_mean_ms"] for x in runs),
        "batch.codegen_compiles": sum(x["codegen_compiles"] for x in runs),
        "batch.exec_s": sum(x["total_us"] - x["construct_us"] for x in runs) / 1e6 - exec_phase_ms / 1000.0,
        "batch.jobs": len(res["jobs"]),
        "batch.tasks": len(tasks),
        "batch.shuffle_mb": sum(t[1] for t in tasks) / 1048576.0,
        "batch.spill_mb": sum(t[2] for t in tasks) / 1048576.0,
        "batch.gc_s": sum(t[3] for t in tasks) / 1000.0,
        "batch.lambda_nodes": sum(x["lambda_nodes"] for x in runs),
    }
    for f in FAMILIES:
        out[f"batch.family.{f}_s"] = fam[f]
    return out


# ---- traced-run writer ---------------------------------------------------

def history(name):
    """Untraced results of this build only, so the overhead compares runs of the same code."""
    return os.path.join(build.target_dir(), "history", STAMP[:16], f"{name}.jsonl")


def record_untraced(name, e2e):
    os.makedirs(os.path.dirname(history(name)), exist_ok=True)
    with open(history(name), "a") as f:
        f.write(json.dumps(e2e) + "\n")


def overhead_lines(name, traced_e2e):
    try:
        with open(history(name)) as f:
            past = [json.loads(x) for x in f if x.strip()]
    except FileNotFoundError:
        past = []
    if not past:
        return ["Tracing overhead: no untraced run of this workload has been recorded in this "
                "build directory yet, so there is nothing to compare with."]
    lines = [f"Tracing overhead against the median of {len(past)} untraced run(s):", "",
             "| metric | untraced median | traced | change |", "|---|---|---|---|"]
    for k, v in traced_e2e.items():
        base = statistics.median(x[k] for x in past if k in x)
        lines.append(f"| {k} | {base:.4g} | {v:.4g} | {100.0 * (v - base) / base:+.1f} % |")
    return lines


def write_trace(name, runs, layers, e2e, extra_lines):
    d = fresh_dir("trace", name)
    for i, run in enumerate(runs):
        shutil.copyfile(os.path.join(run, "spans.jsonl"), os.path.join(d, f"spans-{i}.jsonl"))
    with open(os.path.join(HERE, "workloads.json")) as f:
        targets = json.load(f)["per_layer_targets"]
    lines = [f"# Per-layer table: {name}", "", "| metric | value | should move |", "|---|---|---|"]
    for k, v in layers.items():
        lines.append(f"| {k} | {v:.6g} | {targets.get(k, '')} |")
    lines += ["", "End-to-end figures of this traced run: " +
              ", ".join(f"{k} = {v:.4g}" for k, v in e2e.items()), ""]
    lines += overhead_lines(name, e2e) + [""] + extra_lines
    with open(os.path.join(d, "layers.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(d, "layers.json"), "w") as f:
        json.dump({"layers": layers, "e2e": e2e}, f, indent=1)
    print(f"trace written to {d}", file=sys.stderr)


def trigger_accounting(batches):
    parts = ("latest_offset_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms")
    trig = sum(x["trigger_ms"] for x in batches)
    covered = sum(x[k] for x in batches for k in parts)
    share = 100.0 * covered / trig if trig else 0.0
    return [f"Trigger accounting over {len(batches)} triggers: latestOffset + queryPlanning + addBatch "
            f"+ walCommit + commitOffsets = {covered} ms of {trig} ms triggerExecution "
            f"({share:.1f} %); the rest is getBatch and the engine's own bookkeeping."]


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    ws = workloads()
    if a.workload not in ws:
        raise SystemExit(f"unknown workload {a.workload}; known: {', '.join(ws)}")
    w = ws[a.workload]
    global STAMP
    STAMP = build.build()
    arm_deadline()
    ncpu = cpus()
    if w["kind"] == "bridge":
        passes = run_passes(a.workload, w, a.seed, a.seconds, a.trace, ncpu, PASSES)
        e2e, n_lat = bridge_e2e(passes)
        attempted, failed = (sum(p[3][k] for p in passes) for k in ("attempted", "failed"))
        print(f"{a.workload}: {n_lat} latency samples; " + "; ".join(
            f"pass {i}: missing {chk['missing']}, wrong {chk['wrong']}, stats off by {chk['stats_off']}"
            for i, (_, _, _, chk) in enumerate(passes)), file=sys.stderr)
        if a.trace:
            layers, batches = bridge_run_layers(passes)
            extra = trigger_accounting(batches)
            if a.workload == "bridge_jsonata":
                # single-threaded baseline, recorded next to the local[nproc] passes; one
                # pass with one set-up, so that the traced run stays within its time limit
                base = run_passes(a.workload, w, a.seed, a.seconds / PASSES, True, 1, 1, setups=1)
                e1, _ = bridge_e2e(base)
                l1, _ = bridge_run_layers(base)
                extra += ["", f"Baseline at local[1], one pass (above: local[{ncpu}], {PASSES} passes), "
                          f"failed = {base[0][3]['failed']}:",
                          "", "| metric | local[1] | local[%d] |" % ncpu, "|---|---|---|"]
                extra += [f"| {k} | {v:.6g} | {e2e[k]:.6g} |" for k, v in e1.items()]
                extra += [f"| {k} | {v:.6g} | {layers[k]:.6g} |" for k, v in l1.items()]
            write_trace(a.workload, [p[0] for p in passes], layers, e2e, extra)
    else:
        run, res, failures = run_batch(a.workload, w, a.seed, a.trace, ncpu)
        e2e = batch_e2e(res)
        attempted, failed = len(w["queries"]), len(failures)
        for q, why in sorted(failures.items()):
            print(f"FAILED {q}: {why}", file=sys.stderr)
        if a.trace:
            layers = batch_layers(res)
            write_trace(a.workload, [run], layers, e2e, [])
    if not a.trace:
        record_untraced(a.workload, e2e)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = layers if a.trace else e2e
    # a layer this workload does not exercise reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
