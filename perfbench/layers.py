"""Per-layer metrics of the traced run, from the recorder's spans and counters.

Counters arrive keyed by operation scope: `stmt:<req>` (dashboard),
`round:<i>[/<phase>]`, `read:<i>` and `maint:<k>/<step>` (the ingest
side of serving),
`job:<query>` (batch), plus `streaming`, `global` and `unscoped`. Every
metric is reported on every workload; a layer a workload never reaches
reads 0, which is the prediction for that pairing.
"""
import json
import os
import statistics

CLASSES = ("dedup", "vectors", "text", "timeseries", "drain")
SPARK_SUMS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb", "output_mb")
UNITS = (("_per_s", "1/s"), ("_ms", "ms"), ("_mb_peak", "MB"), ("_mb", "MB"),
         ("_frac", "ratio"), ("_s", "s"), (".s", "s"), ("task_skew", "ratio"),
         ("write_amp", "ratio"), ("bytes_per_point", "B"))


def unit(name):
    return next((u for suf, u in UNITS if name.endswith(suf)), "count")


def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def spans_by_name(doc):
    """name -> list of (req, duration ms, self ms)."""
    spans = (doc.get("trace") or {}).get("spans", [])
    kids = {}
    for sid, parent, req, name, s, e in spans:
        kids.setdefault(parent, []).append((s, e))
    out = {}
    for sid, parent, req, name, s, e in spans:
        covered, end = 0.0, s
        for cs, ce in sorted(kids.get(sid, [])):
            cs, ce = max(cs, end), min(ce, e)
            if ce > cs:
                covered += ce - cs
                end = ce
        out.setdefault(name, []).append((req, e - s, (e - s) - covered))
    return out


def per_layer(workload, doc, jobs, overhead):
    tr = doc.get("trace") or {}
    c = tr.get("counters", {})
    ex = doc.get("extra", {})
    sp = spans_by_name(doc)
    m = {}

    def dur(name):
        return [d for _, d, _ in sp.get(name, [])]

    def scoped(prefix, metric):
        return sum(v.get(metric, 0.0) for k, v in c.items() if k.startswith(prefix))

    main = {"serving": "stmt", "batch": "job"}[workload]
    n_main = max(1, sum(1 for o in doc["ops"] if o["kind"] == main))

    for k in ("session_s", "graft_s", "load_s", "warm_s"):
        m[f"setup.{k}"] = doc["setup"].get(k, 0.0)
    m["jvm.peak_rss_mb"] = doc["peak_rss_mb"]

    # influxql: parse, and catalog build minus the parse inside it
    parse = {req: d for req, d, _ in sp.get("influxql.parse", [])}
    m["influxql.parse_ms"] = med(parse.values())
    m["influxql.translate_ms"] = med(d - parse.get(req, 0.0)
                                     for req, d, _ in sp.get("influxql.translate", []))
    m["influxql.first_job_ms"] = med(ex.get("first_job_ms", []))
    m["influxql.statements"] = float(ex.get("statements", 0))
    m["influxql.errors"] = float(ex.get("errors", 0))

    # spark, per main operation: physical planning (forcing the plan) and
    # execution are spans around the harness's own calls
    m["spark.plan_ms"] = sum(dur("spark.plan")) / n_main
    m["spark.exec_ms"] = sum(dur("execute")) / n_main
    for k in SPARK_SUMS:
        m[f"spark.{k}"] = scoped("", k) / n_main
    m["spark.task_skew"] = max([v.get("task_skew", 0.0) for v in c.values()] or [0.0])
    m["spark.cached_mb_peak"] = c.get("global", {}).get("cached_mb_peak", 0.0)
    m["spark.codegen_fallbacks"] = scoped("", "codegen_fallbacks")
    m["spark.codegen_compile_ms"] = tr.get("codegen_compile_ms", 0.0)
    for cls in CLASSES:
        m[f"spark.codegen_fallbacks.{cls}"] = sum(
            scoped(f"job:{q}", "codegen_fallbacks") for q, k in jobs.items() if k == cls)

    # store
    rounds = ex.get("rounds", [])
    landed_mb = sum(r["bytes"] for r in rounds) / 1048576.0
    m["store.upsert_ms"] = med(dur("store.upsert"))
    m["store.partitions_rewritten"] = med(r["upsert_days"] for r in rounds)
    m["store.write_amp"] = sum(r["upsert_bytes"] for r in rounds) / 1048576.0 / landed_mb \
        if landed_mb else 0.0
    m["store.compact_ms"] = med(dur("store.compact"))
    m["store.compact_rewritten_mb"] = med(x["rewritten_bytes"] / 1048576.0
                                          for x in ex.get("compactions", []))
    m["store.retention_ms"] = med(dur("store.retention"))
    m["store.files"] = float(ex.get("store_files", 0))
    m["store.files_per_partition_max"] = float(ex.get("files_per_partition_max", 0))
    readers = ("stmt:", "read:")
    scans = sum(scoped(p, "read_scans") for p in readers)
    m["store.read_files"] = sum(scoped(p, "read_files") for p in readers) / max(1, scans)
    present = sum(scoped(p, "present_partitions") for p in readers)
    m["store.read_prune_frac"] = sum(scoped(p, "read_partitions") for p in readers) / present \
        if present else 0.0

    # ingest
    good = sum(r["good"] for r in rounds)
    bad = sum(r["bad"] for r in rounds)
    m["ingest.parse_ms"] = med(dur("ingest.parse"))
    m["ingest.points"] = float(good)
    m["ingest.quarantined"] = float(bad)
    m["ingest.accept_frac"] = good / (good + bad) if good + bad else 0.0
    m["ingest.bytes_per_point"] = ex.get("store_bytes", 0) / ex["live_points"] \
        if ex.get("live_points") else 0.0
    visible = [r["ms"] for r in rounds]
    m["ingest.rounds"] = float(len(rounds))
    m["ingest.visible_p50_ms"] = med(visible)
    m["ingest.visible_max_ms"] = max(visible or [0.0])
    m["store.read_conflicts"] = float(ex.get("read_conflicts", 0))
    reads = [o["ms"] for o in doc["ops"] if o["kind"] == "read" and o["ok"]]
    m["ingest.reader_p50_ms"] = med(reads)

    # streaming
    s = c.get("streaming", {})
    trig = max(1.0, s.get("triggers", 0.0))
    m["streaming.cq_run_ms"] = med(dur("streaming.cq_run"))
    m["streaming.triggers"] = s.get("triggers", 0.0)
    for k in ("trigger_ms", "addbatch_ms", "walcommit_ms", "planning_ms"):
        m[f"streaming.{k}"] = s.get(k, 0.0) / trig
    for k in ("input_rows", "state_rows", "state_mem_mb", "rows_per_s"):
        m[f"streaming.{k}"] = s.get(k, 0.0)

    # batch jobs and their classes
    times = {}
    for o in doc["ops"]:
        if o["kind"] == "job" and o["ok"]:
            times.setdefault(o["id"], []).append(o["ms"] / 1000.0)
    for q in jobs:
        n = max(1, len(times.get(q, [])))
        m[f"job.{q}.s"] = med(times.get(q, []))
        m[f"job.{q}.cpu_s"] = scoped(f"job:{q}", "task_cpu_s") / n
        m[f"job.{q}.shuffle_mb"] = scoped(f"job:{q}", "shuffle_write_mb") / n
        m[f"job.{q}.jobs"] = scoped(f"job:{q}", "jobs") / n
    m["vectors.ivf_builds"] = float(ex.get("ivf_builds", 0))
    m["dedup.band_index_builds"] = float(ex.get("band_index_builds", 0))
    m["opcaches.release_ms"] = med(ex.get("release_ms", []))
    for cls in CLASSES:
        m[f"batch.{cls}_s"] = sum(m[f"job.{q}.s"] for q, k in jobs.items() if k == cls)
    m["batch.batch_s"] = sum(m[f"batch.{cls}_s"] for cls in CLASSES)

    # tracing overhead: traced vs untraced latency_p50_ms, same workload
    m["trace.overhead_frac"] = overhead
    return {k: {"value": float(v), "unit": unit(k)} for k, v in m.items()}


def workload_detail(workload, doc, jobs):
    """Numbers behind the metrics that the result line has no room for."""
    ex = doc.get("extra", {})
    d = {}
    if workload == "batch":
        times = {}
        for o in doc["ops"]:
            if o["kind"] == "job":
                times.setdefault(o["id"], []).append(round(o["ms"] / 1000.0, 3))
        d["job_s"] = times
        cls = {}
        for q, k in jobs.items():
            cls[k] = cls.get(k, 0.0) + med(times.get(q, []))
        d["class_s"] = cls
    if workload == "serving":
        rounds = ex.get("rounds", [])
        d["rounds"] = len(rounds)
        d["points"] = sum(r["good"] for r in rounds)
        d["reads"] = sum(1 for o in doc["ops"] if o["kind"] == "read")
        d["read_failures"] = [o["err"][:200] for o in doc["ops"]
                              if o["kind"] == "read" and not o["ok"]][:3]
        d["compactions"] = ex.get("compactions")
        d["retention_dropped_days"] = sum(len(x[1]) for x in ex.get("retention", []))
        stmts = [o["id"] for o in doc["ops"] if o["kind"] == "stmt"]
        d["statements"] = len(stmts)
        d["distinct_statements"] = len(set(stmts))
    d["errors"] = [f'{o["kind"]} {o["id"]}: {o["err"][:1500]}' for o in doc["ops"]
                   if not o["ok"]][:3]
    if doc.get("trace"):
        d["self_ms"] = {name: round(sum(x for _, _, x in v), 1)
                        for name, v in spans_by_name(doc).items()}
    return d


def _path(out, workload):
    return os.path.join(out, f"untraced-{workload}.json")


def save_baseline(out, workload, latency_p50_ms):
    """Keep the latest untraced latency, the base of the tracing overhead."""
    with open(_path(out, workload), "w") as f:
        json.dump({"latency_p50_ms": latency_p50_ms}, f)


def load_baseline(out, workload):
    p = _path(out, workload)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["latency_p50_ms"]
