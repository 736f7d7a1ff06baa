#!/usr/bin/env python3
"""Benchmark of the reference topology and a sampled batch-query mix.

Usage, from the repository root:

    python3 perfbench/run.py --workload stream --seed 1 --seconds 18 --trace 0

Builds the engine and the harness from source (perfbench/build.sh) into
.bench_build/, stages seeded inputs, runs one workload in one JVM at
local[nproc], checks every output, and prints human-readable lines
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones; a traced run also writes its spans and
counts to .bench_build/traces/. Exits non-zero on any wrong output.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("stream", "batch_mix")
BUILD = ".bench_build"
SETUP_REPS = 3
DEADLINE_S = 170
JVM_HEAP = "3g"
# a fixed-size heap and the parallel collector: under G1 the trickle's
# per-batch times crept up during a 40 s run, here they stay level
JVM_GC = ["-XX:+UseParallelGC", f"-Xms{JVM_HEAP}"]

# stream, bulk phase: closed-loop drain of a staged backlog, one file per trigger
BULK_ROWS_PER_FILE = 100_000
BULK_CONTENTS = 2        # distinct payload files; the backlog links to them
BULK_BACKLOG_FILES = 120
BULK_ID_SPACE = 2_500
BULK_WARM_BATCHES = 8
# stream, trickle phase: open loop, one file every INTERVAL_MS. The interval
# is longer than a batch (about 350 ms on 4 cores), so each file is its own
# batch: when drops come faster than batches end, a batch takes one or two
# files depending on where it starts, runs lock into one pattern or the
# other, and freshness jumps between them
TRICKLE_ROWS_PER_FILE = 5_000
TRICKLE_INTERVAL_MS = 500
TRICKLE_WARM_S = 3.0
TRICKLE_ID_SPACE = 2_000_000
# batch_mix
OVERHEAD_PAIRS = 6
# stream traced: the batch-form ladder over this many backlog files
LADDER_FILES = 4
LADDER_REPS = 4

COUNT_KEYS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_ms", "exec.run_ms",
              "exec.gc_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
              "exec.spill_bytes", "exec.peak_exec_mem_bytes")
CENSUS_KEYS = ("planner.joins_bhj", "planner.joins_smj", "planner.joins_shj",
               "planner.joins_bnlj", "planner.exchanges")


def log(msg):
    print(msg, flush=True)


# ------------------------------------------------------------------ build

def jars_dir():
    """The Spark jars the engine builds and runs against: the directory
    build.sbt names as its unmanagedBase."""
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def source_hash():
    h = hashlib.sha256()
    for top in ("src/main/scala", "src/main/resources", "perfbench/harness"):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build(code):
    out = os.path.join(BUILD, "classes-" + code)
    if not os.path.isdir(out):
        if os.path.isdir(BUILD):  # classes of other source states
            for d in os.listdir(BUILD):
                if d.startswith("classes-"):
                    shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
        subprocess.run(["bash", "perfbench/build.sh", jars_dir(), out], check=True,
                       stdout=sys.stderr)
    return out


# ---------------------------------------------------------------- staging

def stage(workload, seed, run_dir, seconds):
    """Write the workload's inputs; returns what the checks need."""
    if workload == "batch_mix":
        return {}
    d = {k: os.path.join(run_dir, *k.split("/"))
         for k in ("warm/src", "bulk/src", "bulk/content", "trickle/src", "trickle/stage")}
    for path in d.values():
        os.makedirs(path)
    paths = [os.path.join(d["bulk/content"], f"c{i}.json") for i in range(BULK_CONTENTS)]
    answers = gen.stage_files(seed, BULK_ID_SPACE, BULK_CONTENTS, BULK_ROWS_PER_FILE,
                              lambda i: paths[i])
    # set-up warms up on one full bulk file; the backlog is many names,
    # each a hard link to one content file
    os.link(paths[0], os.path.join(d["warm/src"], "warm.json"))
    bulk = {}
    for i in range(BULK_BACKLOG_FILES):
        name = f"part-{i:05d}.json"
        os.link(paths[i % BULK_CONTENTS], os.path.join(d["bulk/src"], name))
        bulk[name] = answers[i % BULK_CONTENTS]
    n = math.ceil((TRICKLE_WARM_S + seconds) * 1000 / TRICKLE_INTERVAL_MS)
    names = [f"f{i:05d}.json" for i in range(n)]
    answers = gen.stage_files(seed + 1_000_003, TRICKLE_ID_SPACE, n, TRICKLE_ROWS_PER_FILE,
                              lambda i: os.path.join(d["trickle/stage"], names[i]))
    return {"bulk": {"files": bulk},
            "trickle": {"files": dict(zip(names, answers))},
            "ladder_files": [os.path.join(d["bulk/src"], n) for n in sorted(bulk)[:LADDER_FILES]]}


# ------------------------------------------------------------------- JVM

def die_with_parent():
    """Child set-up: the kernel kills the JVM if this script dies first."""
    try:
        import ctypes
        ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass


def run_jvm(classes, conf, log_path, budget_s):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(conf["run_dir"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{JVM_HEAP}"] + JVM_GC + [f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, "src/main/resources",
                                    os.path.join(jars_dir(), "*")]),
            "perfbench.Harness"] + [f"{k}={v}" for k, v in conf.items()]
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                preexec_fn=die_with_parent)
        # a SIGTERM to this script stops the JVM too, and waits for it
        signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(1)))
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness exceeded {budget_s:.0f}s")
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if rc != 0:
        with open(log_path) as lf:
            tail = lf.read()[-4000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    with open(conf["out"]) as f:
        return json.load(f)


# -------------------------------------------------------------- analysis

def epoch_ms(ts):
    d = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


def p50(xs):
    return stats.median(xs) if xs else 0


def setup_seconds(res, staging_s):
    reps = [s["session_ms"] + s["warmup_ms"] for s in res["setup"]]
    return staging_s + stats.median(reps) / 1000.0


def tail_text(values, unit):
    t = stats.tail(values)
    if t is None:
        return f"n/a (n={len(values)})"
    return f"p{t[0] * 100:.1f} {t[1]:.3f} {unit} (n={len(values)}, {stats.TAIL_SAMPLES} beyond)"


def check_phase(phase, res, staged, phase_dir):
    """Every changelog the sink wrote against the generator's answer over
    the files the source log says were consumed up to that batch."""
    written = check.changelog_batches(os.path.join(phase_dir, "sink"))
    consumed = check.source_log(os.path.join(phase_dir, "ckpt"))
    running = gen.Answer()
    state, lines = {}, []
    failed = 0
    for b in sorted(written):
        prev = running.rows()
        for name in consumed.get(b, []):
            running.merge(staged["files"][name])
        want = running.rows()
        got = written[b]
        changed = {c for c in want if want[c] != prev.get(c)}
        state.update(got)
        if not (all(want.get(c) == v for c, v in got.items()) and changed <= set(got)):
            failed += 1
            lines.append(f"  MISMATCH {phase} batch {b}: wrote {got}, expected {want}")
    if written and state != running.rows():
        failed += 1
        lines.append(f"  MISMATCH {phase} final changelog {state} vs {running.rows()}")
    if phase == "trickle" and sum(len(v) for v in consumed.values()) != len(staged["files"]):
        failed += 1
        lines.append("  MISMATCH the trickle did not consume every dropped file")
    return failed, len(written), state, lines


def bulk_window(res):
    """The drain's batches after the warm ones."""
    return [p for p in res["progress"] if p["numInputRows"] > 0 and p["batchId"] >= BULK_WARM_BATCHES]


def trickle_window(res):
    """Per-file freshness of the files due after the warm-up, and the
    batches that consumed them."""
    progress = sorted((p for p in res["progress"] if p["numInputRows"] > 0),
                      key=lambda p: p["batchId"])
    sink = {b: e for b, _, e in res["sink_spans"]}
    t0 = res["generator"][0][0]
    files = [(due, TRICKLE_ROWS_PER_FILE) for due, _ in res["generator"]]
    batches = [(p["numInputRows"], sink.get(p["batchId"], epoch_ms(p["timestamp"])
                                            + p["durationMs"]["triggerExecution"]))
               for p in progress]
    steady_from = t0 + TRICKLE_WARM_S * 1000
    fresh = [f for (due, _), f in zip(files, stats.freshness(files, batches))
             if due >= steady_from and f is not None]
    first = next(i for i, (due, _) in enumerate(files) if due >= steady_from)
    window, cum = [], 0
    for p in progress:
        cum += p["numInputRows"]
        if cum > first * TRICKLE_ROWS_PER_FILE:
            window.append(p)
    return fresh, window


def rate_text(window):
    rates = [p["numInputRows"] * 1000.0 / max(1, p["durationMs"]["triggerExecution"]) for p in window]
    rows = sum(p["numInputRows"] for p in window)
    busy = sum(p["durationMs"]["triggerExecution"] for p in window) / 1000.0
    return p50(rates), (f"{p50(rates):.1f} rows/s p50 per batch; {rows / busy:.1f} over "
                        f"{busy:.1f} busy s (n={len(window)} batches, {rows} rows)")


def analyse_stream(res, staged, run_dir, trace):
    failed, attempted, lines, finals = 0, 0, [], {}
    for phase in ("bulk", "trickle"):
        f, a, finals[phase], ls = check_phase(phase, res[phase], staged[phase],
                                              os.path.join(run_dir, phase))
        failed, attempted, lines = failed + f, attempted + a, lines + ls
    bulk = bulk_window(res["bulk"])
    lat = [p["durationMs"]["triggerExecution"] for p in bulk]
    rate, text = rate_text(bulk)
    lines.append(f"  stream_rows_per_s   {text}")
    lines.append(f"  trigger_ms_p50      {p50(lat):.1f} ms (n={len(lat)})")
    lines.append("  trigger_ms_tail     " + tail_text(lat, "ms"))
    fresh, trickle = trickle_window(res["trickle"])
    lines.append(f"  freshness_ms_p50    {p50(fresh):.1f} ms (n={len(fresh)} files)")
    lines.append("  freshness_ms_tail   " + tail_text(fresh, "ms"))
    lines.append(f"  trickle_rows_per_s  {rate_text(trickle)[1]}")
    metrics = {"throughput_per_s": rate, "latency_ms": p50(fresh),
               "heap_live_mb": res["trickle"]["heap_live_kb"] / 1024.0}
    layers = {}
    if trace:
        # per-batch and state layers from the trickle, task counts and
        # census from the drain, whose batches are all alike
        layers = phase_layers("trickle", res, trickle, finals["trickle"])
        drain = phase_layers("bulk", res, bulk, finals["bulk"])
        layers.update({k: drain[k] for k in COUNT_KEYS + CENSUS_KEYS + ("trace.overhead_ms",)})
    return failed, max(1, attempted), metrics, lines, layers, {"bulk": bulk, "trickle": trickle}


def phase_layers(phase, res, window, final):
    r = res[phase]
    sink = {b: (s, e) for b, s, e in r["sink_spans"]}
    L = {}
    dm = lambda k: [p["durationMs"].get(k, 0) for p in window]  # noqa: E731
    so = lambda k: [p["stateOperators"][0][k] for p in window if p["stateOperators"]]  # noqa: E731
    L["state.update_ms"] = p50(so("allUpdatesTimeMs"))
    L["state.commit_ms"] = p50(so("commitTimeMs"))
    L["state.memory_bytes"] = p50(so("memoryUsedBytes"))
    L["state.rows_total"] = so("numRowsTotal")[-1] if so("numRowsTotal") else 0
    L["state.rows_updated"] = p50(so("numRowsUpdated"))
    L["state.distinct_ids"] = sum(v[1] for v in final.values())
    L["microbatch.plan_ms"] = p50(dm("queryPlanning"))
    L["microbatch.add_batch_ms"] = p50(dm("addBatch"))
    L["microbatch.wal_ms"] = p50(dm("walCommit"))
    L["microbatch.offsets_ms"] = p50(dm("commitOffsets"))
    L["microbatch.rows_per_batch"] = p50([p["numInputRows"] for p in window])
    L["microbatch.batches"] = len(window)
    L["sources.latest_offset_ms"] = p50(dm("latestOffset"))
    L["sources.get_batch_ms"] = p50(dm("getBatch"))
    L["sink.ms"] = p50([sink[p["batchId"]][1] - sink[p["batchId"]][0]
                        for p in window if p["batchId"] in sink])
    if phase == "trickle":
        drops = [d for _, d in r["generator"]]
        consumed, backlog = 0, []
        ids = {p["batchId"] for p in window}
        for p in sorted(r["progress"], key=lambda p: p["batchId"]):
            if p["batchId"] in ids:
                start = epoch_ms(p["timestamp"])
                backlog.append(sum(1 for d in drops if d <= start) - consumed // TRICKLE_ROWS_PER_FILE)
            consumed += p["numInputRows"]
        L["sources.backlog_files_max"] = max(backlog) if backlog else 0
        L["generator.late_ms_max"] = max(d - due for due, d in r["generator"])
    counts = res.get("counts", {})
    recorded = [counts[k] for k in (f"{phase}-batch-{p['batchId']}" for p in window) if k in counts]
    for k in COUNT_KEYS:
        L[k] = p50([c.get(k, 0) for c in recorded])
    for k in CENSUS_KEYS:
        L[k] = r.get("census", {}).get(k, 0)
    even = [p["durationMs"]["triggerExecution"] for p in window if p["batchId"] % 2 == 0]
    odd = [p["durationMs"]["triggerExecution"] for p in window if p["batchId"] % 2 == 1]
    L["trace.overhead_ms"] = p50(even) - p50(odd) if even and odd else 0
    return L


def analyse_batch(res, queries, run_dir, trace):
    runs = res["queries"]
    failed = 0
    lines = []
    for r in runs:
        exp = queries.get(r["name"])
        if not r["ok"]:
            failed += 1
            lines.append(f"  FAILED {r['id']}: {r.get('error')}")
            continue
        fp, n = check.spark_result_fingerprint(os.path.join(run_dir, "results", r["id"]))
        if exp is None or fp != exp["fingerprint"]:
            failed += 1
            lines.append(f"  MISMATCH {r['id']}: {n} rows, fingerprint {fp[:12]} "
                         f"expected {exp and exp['fingerprint'][:12]} ({exp and exp['rows']} rows)")
    ok_runs = [r for r in runs if r["ok"]]
    lines.append("  per-query s: " + " ".join(
        f"{r['name']}={(r['end_ms'] - r['start_ms']) / 1000:.2f}" for r in ok_runs))
    q_s = [(r["end_ms"] - r["start_ms"]) / 1000.0 for r in ok_runs]
    passes = {}
    for r in ok_runs:
        passes.setdefault(r["id"].split("-")[0], []).append((r["end_ms"] - r["start_ms"]) / 1000.0)
    total = stats.median([sum(v) for v in passes.values()]) if passes else 0
    lines.append(f"  batch_total_s       {total:.3f} s (median of {len(passes)} passes of {len(queries)} queries)")
    lines.append(f"  query_s_p50         {p50(q_s):.3f} s (n={len(q_s)})")
    lines.append("  query_s_tail        " + tail_text(q_s, "s"))
    geo = math.exp(sum(math.log(x) for x in q_s) / len(q_s)) if q_s else 0
    lines.append(f"  query_s_geomean     {geo:.3f} s (n={len(q_s)})")
    metrics = {"latency_ms": geo * 1000.0,
               "throughput_per_s": len(q_s) / sum(q_s) if q_s else 0,
               "heap_live_mb": res["heap_live_kb"] / 1024.0}
    L = {}
    if trace:
        first = [r for r in ok_runs if r["id"].startswith("p0-")]
        L["entry.compose_ms"] = p50([r["compose_end_ms"] - r["start_ms"] for r in first])
        L["planner.plan_ms"] = p50([r["plan_end_ms"] - r["compose_end_ms"] for r in first])
        L["exec.ms"] = sum(r["end_ms"] - r["plan_end_ms"] for r in first)
        counts = res.get("counts", {})
        for k in COUNT_KEYS:
            vals = [counts.get(r["id"], {}).get(k, 0) for r in first]
            L[k] = max(vals) if k == "exec.peak_exec_mem_bytes" else sum(vals)
        census = res.get("census", {})
        for k in CENSUS_KEYS:
            L[k] = sum(census.get(r["id"], {}).get(k, 0) for r in first)
        pairs = res.get("overhead_pairs", [])
        L["trace.overhead_ms"] = p50([t - u for u, t in pairs])
    return failed, max(1, len(runs)), metrics, lines, L


# ------------------------------------------------------------------ trace

def spans_of(workload, res, windows):
    """(name, id, parent, start_ms, end_ms, counts) spans at each layer
    boundary; micro-batch parts are laid out from the progress durations."""
    spans = []
    counts = res.get("counts", {})
    if workload == "batch_mix":
        for r in res["queries"]:
            q = r["id"]
            spans.append({"name": "query", "id": q, "parent": None, "start": r["start_ms"],
                          "end": r["end_ms"], "counts": counts.get(q, {}),
                          "census": res.get("census", {}).get(q, {})})
            for name, s, e in (("entry.compose", r["start_ms"], r["compose_end_ms"]),
                               ("planner.plan", r["compose_end_ms"], r["plan_end_ms"]),
                               ("exec", r["plan_end_ms"], r["end_ms"])):
                spans.append({"name": name, "id": q, "parent": "query", "start": s, "end": e})
        return spans
    for phase, window in windows.items():
        spans += batch_spans(phase, res[phase], window, counts)
    return spans


def batch_spans(phase, res, window, counts):
    spans = []
    sink = {b: (s, e) for b, s, e in res["sink_spans"]}
    for p in window:
        b = f"{phase}-batch-{p['batchId']}"
        t = epoch_ms(p["timestamp"])
        d = p["durationMs"]
        spans.append({"name": "microbatch", "id": b, "parent": None, "start": t,
                      "end": t + d["triggerExecution"], "rows": p["numInputRows"],
                      "counts": counts.get(b, {})})
        for key, name in (("latestOffset", "sources.latest_offset"), ("walCommit", "microbatch.wal"),
                          ("getBatch", "sources.get_batch"), ("queryPlanning", "microbatch.plan"),
                          ("addBatch", "microbatch.add_batch"), ("commitOffsets", "microbatch.offsets")):
            spans.append({"name": name, "id": b, "parent": "microbatch", "start": t,
                          "end": t + d.get(key, 0)})
            if name == "microbatch.add_batch":
                add_start = t
                if p["batchId"] in sink:
                    s0, s1 = sink[p["batchId"]]
                    spans.append({"name": "sink", "id": b, "parent": name, "start": s0, "end": s1})
                for so in p["stateOperators"][:1]:
                    # task time summed over the state partitions, not wall time
                    for k, n in (("allUpdatesTimeMs", "state.update"), ("commitTimeMs", "state.commit")):
                        spans.append({"name": n, "id": b, "parent": name, "start": add_start,
                                      "end": add_start + so[k], "task_time": True,
                                      "rows_updated": so["numRowsUpdated"],
                                      "memory_bytes": so["memoryUsedBytes"]})
            t += d.get(key, 0)
    return spans


def self_times(spans):
    """Median self time per span name: duration minus its children's."""
    kids = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault((s["parent"], s["id"]), []).append(s["end"] - s["start"])
    per = {}
    for s in spans:
        per.setdefault(s["name"], []).append(
            (s["end"] - s["start"]) - sum(kids.get((s["name"], s["id"]), [])))
    return {k: stats.median(v) for k, v in per.items()}


# counts that repeat exactly for the same code and seed; a trickle batch
# takes whatever files have arrived, so its per-batch sizes do not repeat
# (the stream's exec counts are per drain batch, its state counts the
# trickle's final state)
REPEAT_KEYS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_read_bytes",
               "exec.shuffle_write_bytes") + CENSUS_KEYS
REPEAT_KEYS_STREAM = ("state.rows_total", "state.distinct_ids")


# ------------------------------------------------------------------- main

def run(args):
    t_start = time.monotonic()
    for d in ("src/main/scala", "build.sbt"):
        if not os.path.exists(d):
            raise RuntimeError(f"{d} not found: run from the repository root")
    code = source_hash()
    classes = build(code)
    run_dir = os.path.abspath(os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.monotonic()
        staged = stage(args.workload, args.seed, run_dir, args.seconds)
        staging_s = time.monotonic() - t0
        with open(os.path.join(HERE, "queries.json")) as f:
            qcfg = json.load(f)
        conf = {"workload": args.workload, "run_dir": run_dir,
                "out": os.path.join(run_dir, "result.json"),
                "cpus": os.cpu_count(), "seconds": args.seconds, "trace": args.trace,
                "setup_reps": SETUP_REPS}
        if args.workload == "batch_mix":
            names = sorted(qcfg["queries"])
            random.Random(args.seed).shuffle(names)
            conf.update(queries=",".join(names), warmup_queries=",".join(qcfg["warmup"]),
                        data=os.path.abspath(os.path.join(HERE, qcfg["data"])),
                        overhead_pairs=OVERHEAD_PAIRS)
        else:
            conf.update(warm_batches=BULK_WARM_BATCHES, ladder_reps=LADDER_REPS,
                        ladder_files=",".join(staged["ladder_files"]),
                        interval_ms=TRICKLE_INTERVAL_MS,
                        total_rows=len(staged["trickle"]["files"]) * TRICKLE_ROWS_PER_FILE)
        budget = DEADLINE_S - (time.monotonic() - t_start)
        res = run_jvm(classes, conf, os.path.join(run_dir, "harness.log"), budget)

        if args.workload == "batch_mix":
            failed, attempted, metrics, lines, layers = analyse_batch(
                res, qcfg["queries"], run_dir, args.trace)
            windows = None
        else:
            failed, attempted, metrics, lines, layers, windows = analyse_stream(
                res, staged, run_dir, args.trace)
        metrics["setup_s"] = setup_seconds(res, staging_s)
        lines.append(f"  heap_live_mb        {metrics['heap_live_mb']:.1f} MB (after a full GC at the end of the window)")
        lines.append(f"  rss_peak_mb         {res['rss_peak_kb'] / 1024.0:.1f} MB (rss p50 "
                     f"{stats.median(res['rss_kb']) / 1024.0:.1f} MB over {len(res['rss_kb'])} samples)")
        log(f"{args.workload} seed {args.seed}: {attempted} operations, {failed} failed "
            f"(error_rate {failed / attempted:.4f})")
        ph = res["phases_ms"]
        log(f"  wall: staging {staging_s:.1f} s, harness set-up {ph['setup'] / 1000:.1f} s, "
            f"measure {ph['measure'] / 1000:.1f} s, total {time.monotonic() - t_start:.1f} s; set-up reps "
            + ", ".join(f"{s['session_ms']}+{s['warmup_ms']} ms" for s in res["setup"]))
        for line in lines:
            log(line)
        if args.trace:
            layers = trace_report(args, res, layers, windows, code)
            metrics = layers
        return failed, attempted, metrics
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def trace_report(args, res, layers, windows, code):
    w = args.workload
    L = {m["name"]: 0 for m in benchmark()["per_layer"]}
    L.update(layers)
    L["session.start_ms"] = stats.median([s["session_ms"] for s in res["setup"]])
    if "ladder" in res:
        lad = res["ladder"]
        ms = {k: stats.median(v) for k, v in lad["rungs_ms"].items()}
        order = ["scan", "decode", "enrich", "agg", "sink"]
        for prev, cur in zip(order, order[1:]):
            L[f"{cur}.us_per_row"] = (ms[cur] - ms[prev]) * 1000.0 / lad["rows"]
        L["scan.us_per_row"] = ms["scan"] * 1000.0 / lad["rows"]
        total = ms["sink"] * 1000.0 / lad["rows"]
        top = max(order[1:], key=lambda k: L[f"{k}.us_per_row"])
        log(f"  largest per-row layer: {top} {L[top + '.us_per_row']:.3f} us/row = "
            f"{L[top + '.us_per_row'] / total:.0%} of {total:.3f} us/row (ladder, {lad['rows']} rows)")
    if w == "stream":
        parts = {"state.update": L["state.update_ms"], "state.commit": L["state.commit_ms"],
                 "sink": L["sink.ms"]}
        parts["add_batch.rest"] = L["microbatch.add_batch_ms"] - sum(parts.values())
        top = max(parts, key=parts.get)
        add = L["microbatch.add_batch_ms"] or 1
        log(f"  largest per-batch layer: {top} {parts[top]:.1f} ms = {parts[top] / add:.0%} "
            f"of addBatch {add:.1f} ms (p50 over {L['microbatch.batches']} batches)")
    spans = spans_of(w, res, windows)
    selfs = self_times(spans)
    for k in sorted(selfs):
        log(f"  self {k:28s} {selfs[k]:.1f} ms (p50)")
    log(f"  tracing overhead     {L['trace.overhead_ms']:.1f} ms (traced minus untraced p50)")
    repeat = {k: L[k] for k in REPEAT_KEYS + (REPEAT_KEYS_STREAM if w == "stream" else ())}
    drift = {}
    counts_dir = os.path.join(BUILD, "counts")
    os.makedirs(counts_dir, exist_ok=True)
    cpath = os.path.join(counts_dir, f"{w}-{args.seed}-{code}.json")
    if os.path.exists(cpath):
        with open(cpath) as f:
            before = json.load(f)
        drift = {k: [before[k], v] for k, v in repeat.items() if k in before and before[k] != v}
        log(f"  repeat counts vs an earlier run of this code and seed: "
            + ("all equal" if not drift else f"DRIFT {drift}"))
    else:
        with open(cpath, "w") as f:
            json.dump(repeat, f)
    tdir = os.path.join(BUILD, "traces")
    os.makedirs(tdir, exist_ok=True)
    with open(os.path.join(tdir, f"{w}-{args.seed}.json"), "w") as f:
        json.dump({"workload": w, "seed": args.seed, "code": code, "spans": spans,
                   "self_ms_p50": selfs, "counts": res.get("counts", {}),
                   "repeat_counts": repeat, "count_drift": drift, "layers": L}, f)
    return L


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        failed, attempted, metrics = run(args)
    except Exception as e:  # no result line: the run did not complete
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    wanted = benchmark()["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in wanted}
    for k in sorted(out):
        log(f"  {k:30s} {out[k]['value']:.4f} {out[k]['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if failed == 0 else 1


def benchmark():
    with open("BENCHMARK.json") as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
