#!/usr/bin/env python3
"""The repository benchmark: one command per run.

    python3 perfbench/run.py --workload {serving,batch} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (into `target/` dirs and `.bench_build/`);
later runs reuse the build while the sources are unchanged. Each run
generates its inputs from the seed, launches the harness JVM
(`perfbench.Main`) with Spark on local[nproc], checks every output against
DuckDB, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
runs with the outside-in recorder and reports its per-layer metrics. The
line before it is a detail record: provenance (seed, commit, nproc, driver
memory, fixture digest) and the numbers behind each metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks      # noqa: E402
import fixtures    # noqa: E402
import layers      # noqa: E402

WORKLOADS = ("serving", "batch")
# job -> class: one pass over these, in this order, is the batch run. The
# list keeps at least one registered job per class at a size that fits the
# run budget; the DuckDB-checked digests are per fixture and build. The
# order is fixed: a seeded order moved the slowest job's time by up to 40 %
# with its place in the pass (the early jobs of a session run slower).
BATCH_JOBS = {
    "dedup_exact": "dedup", "dedup_substring": "dedup",
    "sim_knn_pq": "vectors",
    "pipeline_gopher_rules": "text", "text_readability": "text",
    "ts_hot_intake_pipeline": "timeseries",
    "stream_topk": "drain",
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem_gb():
    """Half the machine's memory in GB, clamped to [2, 8] (the repo's rule
    for its own test and bench runs)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def tree_digest(paths, exts):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
                           if f.endswith(exts))
        for p in files:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(root, out):
    """Compile the library and the harness; returns (classpath, jvm options)."""
    stamp = tree_digest([os.path.join(root, "build.sbt"), os.path.join(root, "project"),
                         os.path.join(root, "src", "main"), os.path.join(HERE, "build.sbt"),
                         os.path.join(HERE, "project"), os.path.join(HERE, "src")],
                        (".scala", ".sbt", ".properties", ".java"))
    launch = os.path.join(out, "launch.json")
    if os.path.exists(launch):
        with open(launch) as f:
            got = json.load(f)
        if got.get("stamp") == stamp:
            return got["classpath"], got["options"], stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g"
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "launchFile"], cwd=HERE, env=env, stdout=lf, stderr=lf,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("build failed")
    with open(os.path.join(HERE, "target", "launch.txt")) as f:
        lines = f.read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    with open(launch, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp, "options": opts}, f)
    return cp, opts, stamp


def run_jvm(cp, opts, args, work, timeout):
    mem = driver_mem_gb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{mem}g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}"] + opts +
           ["-cp", cp, "perfbench.Main"] + [str(a) for a in args])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=lf,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"harness JVM exited with {rc}")


def percentile_tail(xs):
    """The highest percentile with at least ten samples beyond it: the 11th
    largest value, with its percentile and the sample count (the maximum
    when there are fewer than 11 samples)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return xs[-1], "max", n
    k = n - 11
    return xs[k], f"p{100.0 * k / (n - 1):.1f}", n


def end_to_end(workload, doc, failed_ids):
    """The end-to-end metrics, each over the operation a user waits on.

    serving: latency of a dashboard statement; throughput in good points
    ingested per second of writer time.
    batch: the operation is the pipeline pass, so latency is the pass time
    (the sum of its job times), the tail is its slowest job, and
    throughput is jobs per second of pass time."""
    kind = {"serving": "stmt", "batch": "job"}[workload]
    good = [o for o in doc["ops"] if o["kind"] == kind and o["ok"] and o["id"] not in failed_ids]
    lat = [o["ms"] for o in good] or [float("nan")]
    tail, tail_p, n = percentile_tail(lat)
    if workload == "serving":
        p50 = statistics.median(lat)
        rounds = doc["extra"]["rounds"]
        rate = sum(r["good"] for r in rounds) / max(1e-9, sum(r["ms"] for r in rounds) / 1e3)
    else:
        p50 = sum(lat)
        rate = len(lat) / max(1e-9, p50 / 1e3)
    metrics = {
        "setup_s": (doc["first_op_ms"] / 1000.0, "s"),
        "latency_p50_ms": (p50, "ms"),
        "latency_tail_ms": (tail, "ms"),
        "ops_per_s": (rate, "1/s"),
    }
    detail = {"tail_percentile": tail_p, "samples": n, "setup_phases": doc["setup"],
              "peak_rss_mb": doc["peak_rss_mb"]}
    if workload == "serving":
        span = max(o["start_ms"] + o["ms"] for o in good) - min(o["start_ms"] for o in good)
        detail["stmts_per_s"] = len(good) / max(1e-9, span / 1e3)
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def commit_of(root):
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10).stdout.strip() \
            or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the root of a repository checkout (build.sbt and src/main/scala "
            "not found)")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp, opts, stamp = build(root, out)

    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(inp)
    os.makedirs(work)
    threads = nproc()
    try:
        if a.workload == "serving":
            gen = fixtures.serving(inp, a.seed)
            fixture = tree_digest([inp], (".parquet", ".tsv", ".txt", ".lp", ".csv"))
        else:
            gen = batch_inputs(out, inp, cp, opts, stamp)
            fixture = gen["fixture"]
        doc = measure(a, cp, opts, inp, work, threads)
        failed_ids, check = checks.run(a.workload, doc, gen, inp, work)
        e2e, detail = end_to_end(a.workload, doc, failed_ids)
        if a.trace == 0:
            metrics = e2e
            layers.save_baseline(out, a.workload, e2e["latency_p50_ms"]["value"])
        else:
            base = layers.load_baseline(out, a.workload)
            if base is None:
                # the overhead needs an untraced run of the same inputs
                base_work = os.path.join(run_dir, "work-untraced")
                os.makedirs(base_work)
                plain = measure(argparse.Namespace(**{**vars(a), "trace": 0}), cp, opts, inp,
                                base_work, threads)
                base = end_to_end(a.workload, plain, set())[0]["latency_p50_ms"]["value"]
                layers.save_baseline(out, a.workload, base)
            overhead = e2e["latency_p50_ms"]["value"] / base - 1.0
            metrics = layers.per_layer(a.workload, doc, BATCH_JOBS, overhead)
        attempted = len(doc["ops"])
        failed = sum(1 for o in doc["ops"] if not o["ok"] or o["id"] in failed_ids)
        if not check["ok"]:
            failed = max(failed, 1)
        correct = failed == 0 and check["ok"]
        detail.update({
            "provenance": {"seed": a.seed, "commit": commit_of(root), "build": stamp,
                           "nproc": threads, "driver_mem_gb": driver_mem_gb(),
                           "fixture": fixture, "workload": a.workload,
                           "seconds": a.seconds, "trace": a.trace},
            "failed_frac": failed / max(1, attempted),
            "check": check,
            "workload": layers.workload_detail(a.workload, doc, BATCH_JOBS),
        })
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(a, cp, opts, inp, work, threads):
    out_file = os.path.join(work, "result.json")
    run_jvm(cp, opts, [a.workload, inp, work, out_file, a.seconds, a.trace, threads],
            work, timeout=a.seconds + 120)
    # the last run's full record stays for inspection
    shutil.copy(out_file, os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(work))),
                                       f"last-{a.workload}-t{a.trace}.json"))
    with open(out_file) as f:
        return json.load(f)


def batch_inputs(out, inp, cp, opts, stamp):
    """The batch fixture (built once per checkout, the same for every
    seed), its DuckDB-checked digests (once per fixture and build), and the
    job order."""
    fx = os.path.join(out, "batch-fixture")
    if not os.path.exists(os.path.join(fx, "_done")):
        shutil.rmtree(fx, ignore_errors=True)
        fixtures.batch(os.path.join(fx, "fixture"))
        open(os.path.join(fx, "_done"), "w").close()
    fixture = tree_digest([os.path.join(fx, "fixture")], (".parquet",))
    os.symlink(os.path.join(fx, "fixture"), os.path.join(inp, "fixture"))
    golden_path = os.path.join(fx, f"golden-{stamp}.json")
    if not os.path.exists(golden_path):
        golden = checks.calibrate_batch(fx, list(BATCH_JOBS), cp, opts, run_jvm, nproc())
        with open(golden_path, "w") as f:
            json.dump(golden, f)
    with open(golden_path) as f:
        golden = json.load(f)
    order = list(BATCH_JOBS)
    with open(os.path.join(inp, "jobs.txt"), "w") as f:
        f.write("\n".join(order) + "\n")
    return {"fixture": fixture, "golden": golden, "order": order}


if __name__ == "__main__":
    sys.exit(main())
