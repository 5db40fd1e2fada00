#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload stream_ref --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the harness
from source with sbt (offline); later runs reuse the build while no source
changed. Inputs are generated from ``--seed``; the JVM side
(``perfbench/harness``) runs the workload and writes raw timings, and this
script derives the metrics, runs the output checks and prints one JSON
object as the last line of stdout. Exit status is non-zero when a check
fails or anything throws. Workloads and metrics: ``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("stream_ref", "corpus_curation")
SETUPS = 3
EXPECTED = os.path.join(HERE, "expected.json")
JVM_TIMEOUT_S = 170
# The parallel collector with fixed generation sizes: the young generation
# is 256 MB and the old one grows only when what survives does not fit, so
# the peak RSS follows the data the program holds. The heap is not
# pre-touched. G1's adaptive sizing instead grows the heap by how long its
# pauses take, which on a shared 4-core VM spread same-code runs by a quarter.
JVM_HEAP = ["-Xmx2g", "-Xms512m", "-Xmn256m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy"]

# stream_ref shape: the file interval was fixed once, at a third to a half
# of the drain throughput measured on a 4-core host at the commit that
# introduced the benchmark; it stays fixed so later changes show as latency,
# not as load
STREAM = dict(interval_ms=80, drain_files=300, warm_files=50,
              files_per_trigger=50, rate_limit=100)

OPS = ("doc_dedup_exact", "doc_dedup_minhash", "doc_quality", "doc_curate",
       "doc_pack", "doc_token_budget", "emb_lsh_auto", "emb_d4")
STORES = ("ivf", "bitmap", "bm25")


def per_layer():
    """(name, unit) of every per-layer metric, as BENCHMARK.json lists them;
    a traced run prints each (0 where a workload does not exercise the
    layer)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ host

def host_record():
    nproc = len(os.sched_getaffinity(0))
    quota = None
    try:
        with open("/sys/fs/cgroup/cpu.max") as fh:
            q, period = fh.read().split()
            if q != "max":
                quota = int(q) / int(period)
    except (OSError, ValueError):
        pass
    return {"nproc": nproc, "cgroup_quota_cores": quota}


# ----------------------------------------------------------------- build

def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or os.path.join(HERE, "harness", "target")
    if not os.path.isabs(d):
        d = os.path.join(ROOT, d)
    return os.path.join(d, "perfbench")


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties"),
                os.path.join(HERE, "harness", "src"), os.path.join(HERE, "harness", "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build (only when a source changed) and return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"graft sources not found: {need} is missing under {ROOT}")
    out = build_dir()
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("[perfbench] building graft and the harness with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        log(proc.stdout[-4000:])
        raise SystemExit("sbt build failed")
    cp = proc.stdout.strip().splitlines()[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        log(proc.stdout[-2000:])
        raise SystemExit("sbt did not print a usable classpath")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"[perfbench] build done in {time.time() - t0:.0f} s")
    return cp


# ------------------------------------------------------------------- JVM

def run_jvm(cp, work, opts):
    """Run the harness; returns (raw result dict, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "raw.json")
    cmd = (["java"] + JVM_HEAP
           + ["-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", cp, "graftbench.Main", "--out", out, "--work", work]
           + [x for k, v in opts.items() for x in (f"--{k}", str(v))])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
        peak = [0]
        done = threading.Event()

        def watch():
            while not done.is_set():
                try:
                    with open(f"/proc/{proc.pid}/status") as fh:
                        for line in fh:
                            if line.startswith("VmHWM:"):
                                peak[0] = max(peak[0], int(line.split()[1]))
                except OSError:
                    pass
                done.wait(0.1)

        watcher = threading.Thread(target=watch, daemon=True)
        watcher.start()
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
        finally:
            done.set()
            watcher.join()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            log(fh.read()[-6000:])
        raise RuntimeError(f"harness JVM failed ({code})")
    with open(out) as fh:
        return json.load(fh), peak[0] / 1024.0


# ------------------------------------------------------------- workloads

def stream_ref(cp, work, seed, seconds, trace, cores):
    n_warm, n_drain = STREAM["warm_files"], STREAM["drain_files"]
    n_open = max(1, int(seconds * 1000 // STREAM["interval_ms"]))
    files = gen.stream_files(seed, n_warm + n_open + n_drain)
    inp = os.path.join(work, "input")
    names = gen.write_stream(inp, files)
    raw, rss = run_jvm(cp, work, {
        "workload": "stream_ref", "input": inp, "seconds": seconds,
        "trace": trace, "cores": cores, "setups": SETUPS,
        "open-files": n_open, "drain-files": n_drain,
        "warm-files": STREAM["warm_files"],
        "files-per-trigger": STREAM["files_per_trigger"],
        "rate-limit": STREAM["rate_limit"], "interval-ms": STREAM["interval_ms"]})

    # correctness: the alert set of each phase equals the reference replay
    ref = stats.reference_alerts(files, STREAM["rate_limit"])
    phase_of = {r["event_id"]: (i >= n_warm) + (i >= n_warm + n_open)
                for i, rows in enumerate(files) for r in rows if r["orig"]}
    got = {a["event_id"]: a["z"] for a in raw["alerts"]}
    checks = {}
    for ph, label in ((0, "warm_up"), (1, "open_loop"), (2, "drain")):
        want_ph = {k: v for k, v in ref.items() if phase_of[k] == ph}
        got_ph = {k: v for k, v in got.items() if phase_of.get(k) == ph}
        checks[f"alerts_{label}"] = (want_ph == got_ph and len(want_ph) > 0)
    checks["alerts_no_stray"] = set(got) <= set(phase_of)
    # dedup drops exactly the re-sends: every original passes
    resends = sum(1 for rows in files for r in rows if not r["orig"])
    dd = [s for p in raw["progress_all"] for s in p.get("stateOperators", [])
          if s["operatorName"] == "dedupeWithinWatermark"]
    dropped = sum(int(s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0))
                  + int(s.get("numRowsDroppedByWatermark", 0)) for s in dd)
    checks["dedup_drops_only_resends"] = dropped == resends

    ckpt = raw["checkpoint"]
    file_batch = stats.read_source_log(os.path.join(ckpt, "sources", "0"))
    commits = stats.read_commit_times(os.path.join(ckpt, "commits"))
    gen_log = raw["generator"]
    due = {g["file"]: g["due_ms"] for g in gen_log}
    lat = list(stats.file_latencies(due, file_batch, commits).values())
    checks["every_file_consumed"] = all(n in file_batch for n in names)
    drain_rows = sum(len(f) for f in files[n_warm + n_open:])
    e2e = {
        "setup_s": (stats.median(raw["setup_cpu_s"]), "s"),
        "peak_rss_mb": (rss, "MB"),
        "work_cpu_s": (raw["work_cpu_s"], "s"),
    }
    layer = {}
    if trace:
        layer.update(stream_layer(raw, file_batch, gen_log, lat, drain_rows))
        layer.update(raw["spark"])
        layer["setup_wall_s"] = stats.median(raw["setup_s"])
        layer["work_s"] = raw["drain_s"]
        layer["jvm.jit_cpu_s"] = raw["jit_cpu_s"]
    # an operation is one staged file taken through the topology; an
    # exception in the query fails the whole run
    return e2e, layer, checks, (len(files), 0), raw["effective_cores"]


def stream_layer(raw, file_batch, gen_log, lat, drain_rows):
    measured = [p for p in raw["progress"] if p["batchId"] > raw["warm_last_batch"]]
    prog = [p for p in measured if p["numInputRows"] > 0]
    ops = {"dedupeWithinWatermark": "dedup", "flatMapGroupsWithState": "ratelimit",
           "transformWithStateExec": "zscore"}

    def per_trigger(f):
        vals = [f(p) for p in prog]
        return stats.median([v for v in vals if v is not None] or [0])

    def op(p, name):
        for s in p.get("stateOperators", []):
            if ops.get(s["operatorName"]) == name:
                return s
        return None

    out = {
        "stream.trigger_ms_p50": per_trigger(lambda p: p["durationMs"].get("triggerExecution")),
        "stream.triggers": len(prog),
        "stream.latency_p50_ms": stats.percentile(lat, 50),
        "stream.latency_p90_ms": stats.percentile(lat, 90),
        "stream.rows_per_s": drain_rows / raw["drain_s"],
        "stream.alerts": len(raw["alerts"]),
        "stream.gen_late_ms_max": max(g["moved_ms"] - g["due_ms"] for g in gen_log),
    }
    for ph in ("queryPlanning", "latestOffset", "addBatch", "walCommit", "commitOffsets"):
        out[f"stream.phase.{ph}_ms"] = per_trigger(lambda p, ph=ph: p["durationMs"].get(ph))
    for name in ("dedup", "ratelimit", "zscore"):
        out[f"stream.{name}.commit_ms"] = per_trigger(
            lambda p, n=name: (op(p, n) or {}).get("commitTimeMs"))
    out["stream.dedup.dropped_dups"] = sum(
        int((op(p, "dedup") or {}).get("customMetrics", {}).get("numDroppedDuplicateRows", 0))
        for p in prog)
    out["stream.dedup.dropped_late"] = sum(
        int((op(p, "dedup") or {}).get("numRowsDroppedByWatermark", 0)) for p in prog)
    last = measured[-1] if measured else {}
    out["stream.state_bytes"] = sum(s.get("memoryUsedBytes", 0)
                                    for s in last.get("stateOperators", []))
    starts = {p["batchId"]: time_ms(p["timestamp"]) for p in measured}
    moved = {g["file"]: g["moved_ms"] for g in gen_log}
    out["stream.backlog_files_max"] = stats.backlog_max(moved, file_batch, starts)
    return out


def time_ms(iso):
    from datetime import datetime, timezone
    dt = datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def record_expected(p):
    """Write the row counts and content hashes of a pass as the expected
    results (run once, at the commit that fixes the reference)."""
    rec = {kind: {k: {"rows": r["rows"], "hash": r["hash"]} for k, r in sorted(p[kind].items())}
           for kind in ("ops", "stores")}
    with open(EXPECTED, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")


def corpus_curation(cp, work, seed, seconds, trace, cores, record=False):
    inp = os.path.join(work, "input")
    gen.corpus_tables(inp)
    write_split(seed, inp)
    raw, rss = run_jvm(cp, work, {
        "workload": "corpus_curation", "input": inp, "seconds": seconds,
        "trace": trace, "cores": cores, "setups": SETUPS})
    passes = raw["passes"]
    if record:
        record_expected(passes[0])
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    checks = {}
    for i, p in enumerate(passes):
        for err in p["errors"]:
            log(f"[perfbench] pass {i}: {err}")
        # a call that threw has no result, so its check fails as well
        for kind, names in (("store", STORES), ("op", OPS)):
            for name in names:
                r, want = p[kind + "s"][name], expected[kind + "s"][name]
                checks[f"pass{i}.{kind}.{name}"] = (
                    r.get("rows") == want["rows"] and r.get("hash") == want["hash"])
    ok = [dict(p, **{kind: {k: r for k, r in p[kind].items() if "error" not in r}
                     for kind in ("ops", "stores")}) for p in passes]
    calls = [c for p in ok for c in pass_calls(p)]
    e2e = {
        "setup_s": (stats.median(raw["setup_cpu_s"]), "s"),
        "peak_rss_mb": (rss, "MB"),
        "work_cpu_s": (stats.median([p["work_cpu_s"] for p in passes]), "s"),
    }
    layer = {}
    if trace:
        layer["setup_wall_s"] = stats.median(raw["setup_s"])
        layer["work_s"] = stats.median([sum(pass_calls(p)) / 1000 for p in ok])
        layer["curation.call_p50_ms"] = stats.percentile(calls, 50)
        layer["jvm.jit_cpu_s"] = stats.median([p["jit_cpu_s"] for p in passes])
        for name in OPS:
            rs = [p["ops"][name] for p in ok if name in p["ops"]]
            if rs:
                layer[f"op.{name}.ms"] = stats.median([r["ms"] for r in rs])
                layer[f"op.{name}.jobs"] = stats.median([r["jobs"] for r in rs])
        for fam in STORES:
            rs = [p["stores"][fam] for p in ok if fam in p["stores"]]
            if rs:
                layer[f"store.{fam}.write_ms"] = stats.median(
                    [sum(r["steps_ms"].values()) for r in rs])
                layer[f"store.{fam}.serve_ms"] = stats.median([r["serve_ms"] for r in rs])
                layer[f"store.{fam}.bytes"] = stats.median([r["bytes"] for r in rs])
        layer["store.write_s"] = sum(v for k, v in layer.items()
                                     if k.startswith("store.") and k.endswith(".write_ms")) / 1000
        layer["store.serve_s"] = sum(v for k, v in layer.items()
                                     if k.startswith("store.") and k.endswith(".serve_ms")) / 1000
        layer.update(raw["spark"])
    attempted = sum(p["attempted"] for p in passes)
    return e2e, layer, checks, (attempted, sum(len(p["errors"]) for p in passes)), \
        raw["effective_cores"]


def pass_calls(p):
    """Wall ms of every timed call of a curation pass: entries, store steps,
    serves."""
    calls = [r["ms"] for r in p["ops"].values()]
    for r in p["stores"].values():
        calls += list(r["steps_ms"].values()) + [r["serve_ms"]]
    return calls


def write_split(seed, inp):
    """The seed's ingest split: which ids the first build sees and which
    arrive as the ingest batch. The forget sets are fixed, so the
    final corpus -- and every served result -- is the same for any seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = []
    build = gen.split_of(seed, gen.N_DOCS, [])
    for i in range(gen.N_DOCS):
        rows.append(("doc_build" if build[i] else "doc_ingest", i))
        if i % 10 == 3:
            rows.append(("doc_forget", i))
    queries = range(10)  # the IVF serve's query vectors stay in the build
    vb = gen.split_of(seed + 1, gen.N_VECS, [])
    for i in range(gen.N_VECS):
        rows.append(("vec_build" if (vb[i] or i in queries) else "vec_ingest", i))
        if i % 10 == 3 and i not in queries:
            rows.append(("vec_forget", i))
    eb = gen.split_of(seed + 2, gen.N_CORPUS_EVENTS, [])
    rows += [("ev_build" if eb[i] else "ev_ingest", i) for i in range(gen.N_CORPUS_EVENTS)]
    rows += [("user_forget", u) for u in range(gen.N_CORPUS_USERS) if u % 7 == 3]
    pq.write_table(pa.table({"kind": pa.array([k for k, _ in rows], pa.string()),
                             "id": pa.array([i for _, i in rows], pa.int64())}),
                   os.path.join(inp, "split.parquet"))


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    ap.add_argument("--record", action="store_true",
                    help="corpus_curation: record this run's results as expected.json")
    args = ap.parse_args()

    cp = classpath()
    host = host_record()
    cores = host["nproc"]  # Spark cores = nproc, set explicitly
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "stream_ref":
            e2e, layer, checks, (attempted, failed_ops), eff = stream_ref(
                cp, os.path.abspath(work), args.seed, args.seconds, args.trace, cores)
        else:
            e2e, layer, checks, (attempted, failed_ops), eff = corpus_curation(
                cp, os.path.abspath(work), args.seed, args.seconds, args.trace, cores,
                record=args.record)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    failed = [k for k, ok in checks.items() if not ok]
    for k in failed:
        log(f"[perfbench] check failed: {k}")
    print(json.dumps({"host": dict(host, spark_cores=cores, effective_cores=eff),
                      "checks": len(checks), "failed_checks": failed}), flush=True)
    if args.trace:
        # the traced run's own end-to-end figures; against the untraced
        # runs' medians they give the tracing overhead
        layer["traced.work_cpu_s"] = e2e["work_cpu_s"][0]
        listed = per_layer()
        unlisted = set(layer) - {k for k, _ in listed}
        if unlisted:
            raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {sorted(unlisted)}")
        metrics = {k: {"value": layer.get(k, 0), "unit": u} for k, u in listed}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = not failed and failed_ops == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed_ops, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
