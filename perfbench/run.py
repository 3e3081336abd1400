#!/usr/bin/env python3
"""graft benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run starts a fresh JVM and
Spark session on local[nproc] over the tables in perfbench/data.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end metrics; with
--trace 1 the listeners are on and the metrics are the per-layer ones,
the span file is written and the traced-minus-untraced overhead is
printed. Everything else goes to stderr and to perfbench/.results/.
See perfbench/README.md for the workloads and the layer map.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# serve runs on sf0.01: a request's latency is per-job overhead at either
# scale, and the smaller tables cut the builders' first touch in set-up;
# ingest replays the sf0.1 documents table (5,000 docs)
DATA = {"serve": os.path.join(HERE, "data", "sf0.01"),
        "ingest": os.path.join(HERE, "data", "sf0.1")}
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, ".results")
EXPECTED = os.path.join(HERE, "expected")

DEFAULT_SEED = 1
# serve: customer ids of the sf0.01 customer table, which the JVM checks
CUSTOMERS = range(1500)
CUSTOMER_DOMAIN = "0..1499/1500"
SERVE_ROUNDS = 200  # far more than one run can send
# ingest: the staged corpus is replayed as this many equal chunk files
INGEST_CHUNKS = 3
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SERVE_CLASSES = stats.CLASSES

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

PER_LAYER = {  # name -> unit; 0 on the workload that does not run it
    "plan_s": "s", "exec_s": "s", "other_s": "s",
    "op_plan_p50_ms": "ms", "op_exec_p50_ms": "ms", "op_other_p50_ms": "ms",
    "jobs": "count", "stages": "count", "tasks": "count",
    "jobs_per_op": "count", "actions_per_op": "count",
    "task_cpu_s": "s", "task_run_s": "s", "shuffle_mb": "MB",
    "spill_mb": "MB", "task_failures": "count",
    "memo_entries": "count", "cached_mb": "MB", "unattributed_pct": "%",
    "jvm_cpu_s": "s", "jvm_gc_s": "s",
    "serve.api_s": "s", "serve.warmup_s": "s",
    "serve.unpersists_per_req": "count",
    "serve.ppr_fixpoints": "count", "serve.ppr_hit_ratio": "fraction",
    "serve.ppr_evictions": "count",
    **{f"serve.{c}_p50_ms": "ms" for c in SERVE_CLASSES},
    "ingest.add_batch_ms": "ms", "ingest.engine_ms": "ms",
    "ingest.first_batch_ms": "ms", "ingest.batch_slope_ms": "ms",
    "ingest.output_mb": "MB", "ingest.state_mb": "MB",
    "ingest.state_files": "count", "ingest.kept_ratio": "fraction",
    "ingest.reported_rows_ratio": "fraction",
}

RECONCILE_PCT = 5.0


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p),
                                          recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_built():
    """Build with sbt when the sources changed; return the classpath."""
    required = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "perfbench/build.sbt"]
    missing = [r for r in required if not os.path.exists(
        os.path.join(ROOT, r))]
    if missing:
        fail(f"not a graft checkout (missing {', '.join(missing)}); "
             "run from the repository root", 2)
    for d in DATA.values():
        if not os.path.isdir(d):
            fail(f"missing benchmark data {d}", 2)
    stamp = tree_hash(source_files())
    cp_file = os.path.join(BUILD, f"classpath-{stamp}")
    if os.path.exists(cp_file):
        return stamp, open(cp_file).read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log(f"perfbench: building sources {stamp} with sbt ...")
    t0 = time.time()
    logf = os.path.join(BUILD, "sbt.log")
    with open(logf, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in open(logf) if l.strip()]
    if rc != 0 or not lines or "scala-2.13" not in lines[-1]:
        fail(f"build failed (rc {rc}); see {logf}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return stamp, lines[-1]


def run_child(cmd, cwd, stdout, timeout):
    """Run a child in its own process group; on timeout kill the group and
    wait for it, so nothing the benchmark started outlives it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ------------------------------------------------------ machine context

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def data_fingerprint(data):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10,
                              ).stdout.strip() or None
    except OSError:
        return None


def nproc():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ workloads

def serve_inputs(seed, work):
    warmup, seq = stats.requests(seed, CUSTOMERS, SERVE_ROUNDS)
    path = os.path.join(work, "requests.txt")
    with open(path, "w") as f:
        f.write(f"round {stats.ROUND_SIZE}\n")
        for c, p in warmup:
            f.write(f"warmup:{c} {p}\n")
        for c, p in seq:
            f.write(f"{c} {p}\n")
    return [f"requests={path}"]


def run_jvm(cp, workload, seed, seconds, trace, work, spans):
    out = os.path.join(work, "raw.json")
    args = [f"workload={workload}", f"data={DATA[workload]}", f"work={work}",
            f"out={out}", f"cpus={nproc()}", f"seconds={seconds}",
            f"trace={trace}", f"seed={seed}",
            f"run={workload}-seed{seed}-{time.strftime('%Y%m%dT%H%M%S')}"]
    if trace:
        args.append(f"spans={spans}")
    if workload == "serve":
        args += serve_inputs(seed, work)
    else:
        args.append(f"chunks={INGEST_CHUNKS}")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp")
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as f:
        try:
            rc = run_child(cmd, cwd=ROOT, stdout=f, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} run exceeded {JVM_TIMEOUT_S} s; see {logf}", 4)
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload} run failed (rc {rc}); see {logf}", 4)
    with open(out) as f:
        return json.load(f)


def load_expected(name):
    p = os.path.join(EXPECTED, name)
    return json.load(open(p)) if os.path.exists(p) else None


def check_serve(raw, seed):
    """Per request: 200, the same body as every other request for its
    path, and for the default seed the body recorded from this tree."""
    errors = []
    expected = load_expected("serve.json") if seed == DEFAULT_SEED else None
    first = {}
    failed = 0
    for op in raw["ops"]:
        bad = None
        if not op["ok"]:
            bad = f"status {op['status']}"
        elif first.setdefault(op["name"], op["digest"]) != op["digest"]:
            bad = "body differs from an earlier response for the path"
        elif expected and op["name"] in expected["digests"] and \
                expected["digests"][op["name"]] != op["digest"]:
            bad = "body differs from the recorded response"
        if bad:
            failed += 1
            errors.append(f"{op['name']}: {bad}")
    info = raw["info"]
    if info["customer_domain"] != CUSTOMER_DOMAIN:
        errors.append(f"customer ids {info['customer_domain']}, "
                      f"generator assumes {CUSTOMER_DOMAIN}")
        failed = len(raw["ops"])
    bad_warm = [(w["cls"], w["status"]) for w in info["warmup"]
                if w["status"] != 200]
    if bad_warm:
        errors.append(f"warm-up statuses {bad_warm}")
        failed = len(raw["ops"])
    return len(raw["ops"]), failed, errors


def check_ingest(raw, seed):
    """Doc-set checks: every chunk ran as one batch, the band store holds
    exactly the kept docs, no two kept docs share a MinHash band bucket,
    and for the default seed the kept rows match the recorded digest."""
    info = raw["info"]
    checks = {
        "one micro-batch per chunk": len(raw["ops"]) == info["chunks"],
        "band store holds exactly the kept docs":
            info["store_kept_mismatch"] == 0,
        "no two kept docs share a band bucket":
            info["shared_buckets"] == 0,
        "some docs kept": info["kept"] > 0,
    }
    expected = load_expected("ingest.json")
    if seed == DEFAULT_SEED and expected:
        checks["kept rows match the recorded digest"] = (
            expected["chunks"] == info["chunks"] and
            expected["kept_digest"] == info["kept_digest"])
    errors = [k for k, ok in checks.items() if not ok]
    return len(checks), len(errors), errors


def end_to_end(raw):
    ms = [op["ms"] for op in raw["ops"]]
    return {
        "setup_s": raw["setup_s"],
        "op_p50_ms": statistics.median(ms),
        "throughput_per_s": raw["units"] / raw["wall_s"],
    }


def per_layer(raw, workload):
    lay, info, ops = raw["layers"], raw["info"], raw["ops"]
    m = {k: 0.0 for k in PER_LAYER}
    for k in PER_LAYER:
        if k in lay:
            m[k] = float(lay[k])
    m.update(raw["jvm"])
    m["memo_entries"] = float(info["memo_entries"])
    m["cached_mb"] = float(info["cached_mb"])
    wall = lay["wall_s"]
    m["unattributed_pct"] = 100.0 * (wall - lay["attributed_s"]) / wall
    if workload == "serve":
        m["serve.api_s"] = info["api_s"]
        m["serve.warmup_s"] = info["warmup_s"]
        m["serve.unpersists_per_req"] = lay["unpersists_per_op"]
        for c in SERVE_CLASSES:
            xs = [op["ms"] for op in ops if op["cls"] == c]
            m[f"serve.{c}_p50_ms"] = statistics.median(xs) if xs else 0.0
        ppr = [op for op in ops if op["cls"] in ("blend", "strategies")]
        fix = evict = 0
        for op in ppr:
            evicted = op["ppr_after"] < op["ppr_before"]
            evict += evicted
            fix += op["ppr_after"] if evicted else \
                op["ppr_after"] - op["ppr_before"]
        m["serve.ppr_fixpoints"] = float(fix)
        m["serve.ppr_evictions"] = float(evict)
        hits = sum(1 for op in ppr if op["ppr_after"] == op["ppr_before"])
        m["serve.ppr_hit_ratio"] = hits / len(ppr) if ppr else 0.0
    else:
        trig = [op["ms"] for op in ops]
        add = [op["add_batch_ms"] for op in ops]
        m["ingest.add_batch_ms"] = float(sum(add))
        m["ingest.engine_ms"] = sum(trig) - sum(add)
        m["ingest.first_batch_ms"] = trig[0]
        m["ingest.batch_slope_ms"] = stats.slope(trig)
        m["ingest.output_mb"] = info["output_mb"]
        m["ingest.state_mb"] = info["state_mb"]
        m["ingest.state_files"] = float(info["state_files"])
        m["ingest.kept_ratio"] = info["kept"] / raw["units"]
        m["ingest.reported_rows_ratio"] = info["reported_rows"] / raw["units"]
    return m


def describe(raw, workload):
    """Human-readable lines: the tail percentile with its sample count,
    and per-class medians."""
    ms = [op["ms"] for op in raw["ops"]]
    t = stats.tail(ms)
    tail = (f"p{t[0]:.0f} {t[1]:.1f} ms" if t else
            "no percentile has 10 samples beyond it")
    log(f"perfbench: {workload} {len(ms)} ops, median "
        f"{statistics.median(ms):.1f} ms, tail {tail} (n={len(ms)})")
    if workload == "serve":
        for c in SERVE_CLASSES:
            xs = [op["ms"] for op in raw["ops"] if op["cls"] == c]
            if xs:
                log(f"perfbench:   {c:16s} n={len(xs):3d} "
                    f"p50 {statistics.median(xs):8.1f} ms")


def record_expected(raw, workload, seed):
    if seed != DEFAULT_SEED:
        fail("--record needs the default seed", 2)
    os.makedirs(EXPECTED, exist_ok=True)
    if workload == "serve":
        body = {"seed": seed, "digests": {
            op["name"]: op["digest"] for op in raw["ops"]}}
    else:
        body = {"seed": seed, "chunks": raw["info"]["chunks"],
                "kept_digest": raw["info"]["kept_digest"]}
    with open(os.path.join(EXPECTED, f"{workload}.json"), "w") as f:
        json.dump(body, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write expected/<workload>.json from this run")
    a = ap.parse_args()

    stamp, cp = ensure_built()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    spans = os.path.join(RESULTS, f"spans-{a.workload}-seed{a.seed}.jsonl")

    load0, (tot0, steal0) = loadavg(), cpu_times()
    raw = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, spans)
    load1, (tot1, steal1) = loadavg(), cpu_times()
    context = {
        "nproc": nproc(), "max_heap_mb": raw["info"]["max_heap_mb"],
        "git_commit": git_commit(), "source_tree": stamp,
        "loadavg_before": load0, "loadavg_after": load1,
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, tot1 - tot0),
        "data": os.path.basename(DATA[a.workload]),
        "data_fingerprint": data_fingerprint(DATA[a.workload]),
    }

    check = check_serve if a.workload == "serve" else check_ingest
    attempted, failed, errors = check(raw, a.seed)
    e2e = end_to_end(raw)
    describe(raw, a.workload)
    if a.trace:
        metrics = per_layer(raw, a.workload)
        unattributed = metrics["unattributed_pct"]
        if abs(unattributed) > RECONCILE_PCT:
            errors.append(f"layer self times leave {unattributed:.1f} % of "
                          f"the wall unattributed (limit {RECONCILE_PCT} %)")
            failed += 1
        log(f"perfbench: spans written to {spans}")
        untraced = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))["end_to_end"]
            for k, v in e2e.items():
                log(f"perfbench: tracing overhead {k}: traced {v:.4g} - "
                    f"untraced {base[k]:.4g} = {v - base[k]:+.4g} "
                    f"({100 * (v - base[k]) / base[k]:+.1f} %)")
        else:
            log("perfbench: no untraced run of this workload and seed "
                "recorded, so no tracing overhead to print")
        units = PER_LAYER
    else:
        metrics = e2e
        units = END_TO_END
    for e in errors:
        log(f"perfbench: CHECK FAILED: {e}")
    if a.record and not a.trace and not errors:
        record_expected(raw, a.workload, a.seed)

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "context": context, "end_to_end": e2e,
              "metrics": metrics, "errors": errors, "info": raw["info"],
              "ops": raw["ops"]}
    name = f"{a.workload}-seed{a.seed}" + ("-traced" if a.trace else "")
    with open(os.path.join(RESULTS, name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    log("perfbench: context " + json.dumps(context))
    for k, v in metrics.items():
        log(f"perfbench: {k:28s} {v:14.4f} {units[k]}")
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
