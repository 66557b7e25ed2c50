#!/usr/bin/env python3
"""The repo's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload ingest|serve --seed N \
        --seconds S --trace 0|1 [--cores C]

Run from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (the classpath is cached under
`.bench_build/perfbench`, keyed on a digest of the sources). Each run
generates its inputs from the seed, runs the workload in one JVM at
`local[cores]` (default: every core), checks the outputs, writes a full
artifact to `.bench_build/perfbench/artifacts/`, and prints one JSON
line: the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from stats import batch_of, freshness, self_time  # noqa: E402

HEAP = "2g"
JVM_TIMEOUT_S = 170
# ingest traffic is the reference's own (BASELINE.md): 8 devices, each
# reporting once a second. The backlog is five minutes of it, staged in
# files of 5 s each (the reference consumer's commit interval), drained in
# two micro-batches of 30 files by each leg (a micro-batch costs about
# the same whatever its size; each further pair adds about 6 s). In the
# paced phase every message is its own gateway file, dropped when its
# device reports: 8 files/s for --seconds.
INGEST = {"devices": 8, "hz": 1, "backlog": (60, 40), "max_files": 30,
          "warmup": (1, 40)}
# serve: staged table sizes (docs and vectors share ids); the window is a
# fixed count of rounds over every interactive op, 0.3 per --seconds (a
# round takes 4 to 7 s), plus one corpus request
SERVE = {"events": 10000, "docs": 500, "vecs": 500, "rounds_per_s": 0.3}
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath(build_dir):
    """Builds (when the sources changed) and returns the runtime
    classpath of the benchmark and the program."""
    digest = source_digest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    log("building with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + lines[-1])
    return lines[-1]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


def write_files(directory, contents, prefix):
    os.makedirs(directory, exist_ok=True)
    for i, text in enumerate(contents):
        with open(os.path.join(directory, f"{prefix}{i:05d}.json"), "w") as f:
            f.write(text)


def run_jvm(cp, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "raw.json")
    # no perf-data file, so nothing is written outside the checkout
    cmd = (["java", *OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main"]
           + [f"{k}={v}" for k, v in dict(args, work=work, out=out).items()])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        p = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: workload JVM exited {p.returncode}")
    log(f"JVM done {time.time() - T_START:.1f} s after start")
    with open(out) as f:
        return json.load(f)


def ingest(args, cp, work, setup_t0):
    c = INGEST
    rate = c["devices"] * c["hz"]
    plan = gen.ingest_plan(args.seed, c["devices"], c["backlog"],
                           (rate * args.seconds, 1))
    warm = gen.ingest_plan(args.seed + 1000003, c["devices"], c["warmup"],
                           (0, 0))
    write_files(f"{work}/in/drop", plan.backlog, "b")
    write_files(f"{work}/in/paced", plan.paced, "p")
    write_files(f"{work}/in/warmup", warm.backlog, "w")
    raw = run_jvm(cp, work, {
        "workload": "ingest", "cores": args.cores, "trace": args.trace,
        "in": f"{work}/in",
        "max_files": c["max_files"],
        "producer_batches": -(-c["backlog"][0] // c["max_files"]),
        "rate": rate,
        "now": gen.NOW_EPOCH})
    rows = checks.store_rows(checks.duckdb.connect(), raw["store"])
    fails = checks.check_ingest(rows, raw["rollup"], raw["quarantined_rows"],
                                plan.expected)
    key_batch = {(r[0], r[1]): batch_of(r[2]) for r in rows}
    missing = [i for i, keys in enumerate(plan.paced_keys)
               if any(k not in key_batch for k in keys)]
    if missing:
        fails.append(f"{len(missing)} paced files not fully stored")
    visible = {int(k): v for k, v in raw["visible"].items()}
    attempted = len(plan.backlog) + len(plan.paced)
    failed = attempted if fails else 0
    fresh, seen = ([], []) if fails else freshness(
        raw["drops"], plan.paced_keys, key_batch, visible)
    e2e, lat = metrics.ingest_e2e(raw, fresh or [0.0],
                                  (raw["first_timed"] / 1000) - setup_t0)
    lat["consumer_batches"] = len({v for _, v in seen})
    extra = {"freshness": lat, "expected": {
        k: v for k, v in plan.expected.items() if k != "hourly"},
        "consumer_batches": len(visible),
        "drain_topic_files": raw["drain_topic_files"],
        "drain_batches": raw["drain_batches"],
        "vm_hwm_mb": raw["peak_rss_kb"] / 1024}
    layers = None
    if args.trace and not fails:
        layers = metrics.ingest_layers(raw, args.cores, seen, {
            "stored_rows": len(rows),
            "anomaly_rows": sum(1 for r in rows if r[3])})
        if layers["pipeline.valid_rows"] != plan.expected["valid_rows"]:
            fails.append(f"consumer saw {layers['pipeline.valid_rows']} "
                         f"valid rows, {plan.expected['valid_rows']} planted")
            failed = attempted
    return e2e, layers, extra, attempted, failed, fails, raw


def serve(args, cp, work, setup_t0):
    c = SERVE
    tables = f"{work}/in/tables"
    gen.write_tables(args.seed, tables, c["events"], c["docs"], c["vecs"])
    raw = run_jvm(cp, work, {
        "workload": "serve", "cores": args.cores, "trace": args.trace,
        "seed": args.seed, "in": tables, "results": f"{work}/results",
        "rounds": max(1, round(args.seconds * c["rounds_per_s"]))})
    bad = checks.check_serve(ROOT, tables, f"{work}/results",
                             raw["oracle_sql"])
    fails = [f"{op}: {msg}" for op, msg in sorted(bad.items())]
    attempted = len(raw["requests"])
    failed = sum(1 for r in raw["requests"] if r["op"] in bad)
    e2e, lat = metrics.serve_e2e(raw, (raw["first_timed"] / 1000) - setup_t0,
                                 c["docs"] + c["vecs"])
    layers, breakdown = (metrics.serve_layers(raw) if args.trace
                         else (None, None))
    per_op = {}
    for r in raw["requests"]:
        per_op.setdefault(r["op"], []).append((r["end"] - r["start"]) / 1000)
    setup_calls = {s["req"]: (s["end"] - s["start"]) / 1000
                   for s in raw["trace"]["spans"] if s["name"] == "warmup"}
    passes = {}
    for s in raw["trace"]["spans"]:
        if s["name"].startswith("warmup"):
            lo, hi = passes.get(s["name"], (s["start"], s["end"]))
            passes[s["name"]] = (min(lo, s["start"]), max(hi, s["end"]))
    extra = {"latency": lat, "per_op_latency_s": per_op, "per_op": breakdown,
             "setup_calls_s": setup_calls,
             "warmup_passes_s": {k: (hi - lo) / 1000
                                 for k, (lo, hi) in sorted(passes.items())}}
    return e2e, layers, extra, attempted, failed, fails, raw


WORKLOADS = {"ingest": ingest, "serve": serve}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    args = ap.parse_args()
    # a terminated run still stops its JVM: subprocess.run kills the
    # child on the way out of the exception this raises
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit(f"perfbench: no program sources under {ROOT}")
    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(os.path.join(build_dir, "artifacts"), exist_ok=True)
    cp = classpath(build_dir)
    setup_t0 = time.time()
    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        e2e, layers, extra, attempted, failed, fails, raw = \
            WORKLOADS[args.workload](args, cp, work, setup_t0)
        log(f"workload and checks done {time.time() - setup_t0:.1f} s "
            f"after set-up began")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in fails:
        log(f"check failed: {f}")
    spans = raw["trace"]["spans"]
    selfs = self_time(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(selfs[s["id"]])
    artifact = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": args.cores,
        "nproc": os.cpu_count(), "heap": HEAP, "git_sha": git_sha(),
        "build_s": setup_t0 - T_START,
        "live_mem": raw["live_mem"],
        # set-up split: inputs, JVM and session start, warm-up
        "setup_split_s": {
            "inputs": raw["jvm_start"] / 1000 - setup_t0,
            "session": (raw["session_ready"] - raw["jvm_start"]) / 1000,
            "warmup": (raw["first_timed"] - raw["session_ready"]) / 1000},
        "end_to_end": e2e, "per_layer": layers, "checks_failed": fails,
        "attempted": attempted, "failed": failed,
        "span_self_ms": {n: metrics.median(v) for n, v in by_name.items()},
        **extra,
    }
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}"
            f"-cores{args.cores}.json")
    path = os.path.join(build_dir, "artifacts", name)
    if args.trace:  # overhead against the untraced run of the same seed
        base = path.replace("-trace1-", "-trace0-")
        if os.path.exists(base):
            with open(base) as f:
                plain = json.load(f)["end_to_end"]
            artifact["tracing_overhead"] = {
                k: e2e[k] - plain[k] for k in e2e if k in plain}
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = (layers or {}) if args.trace else e2e
    shown = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
             for m in spec}
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
