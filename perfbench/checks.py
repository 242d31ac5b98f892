"""Output checks against DuckDB, one per workload.

Results are compared the way `tools/selfcheck.py` compares a query with its
oracle: columns sorted by name, rows sorted, integers and strings exact,
floating-point values within 1e-9 relative difference.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _con(threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    return con


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
    return df.sort_values(by=list(df.columns), na_position="first",
                          kind="mergesort").reset_index(drop=True)


def compare(got, want):
    """None when equal, else a one-line description of the first difference."""
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if g.shape != w.shape:
        return f"shape {g.shape} != {w.shape}"
    for c in g.columns:
        a, b = g[c], w[c]
        num = pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b)
        if num and (pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b)):
            x, y = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            ok = np.isclose(x, y, rtol=1e-9, atol=1e-12, equal_nan=True)
            if not ok.all():
                i = int(np.argmin(ok))
                return f"{c}[{i}]: {x[i]!r} != {y[i]!r}"
        else:
            x, y = a.astype(str).to_numpy(), b.astype(str).to_numpy()
            if not (x == y).all():
                i = int(np.argmin(x == y))
                return f"{c}[{i}]: {x[i]!r} != {y[i]!r}"
    return None


def run(workload, doc, gen, inp, work):
    """Returns (ids of operations whose output is wrong, check summary)."""
    if workload == "batch":
        return batch(doc, gen, inp, work)
    pool, ingest_gen = gen
    bad_d, dash = dashboard(doc, pool, inp, work)
    bad_i, ing = ingest(doc, ingest_gen, inp, work)
    return bad_d | bad_i, {"ok": dash["ok"] and ing["ok"], "dashboard": dash, "ingest": ing}


# ------------------------------------------------------------- dashboard
def dashboard(doc, pool, inp, work):
    con = _con()
    for m in ("events", "alerts"):
        con.execute(f"CREATE VIEW {m} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inp, m + '.parquet')}')")
    by_id = {s["id"]: s for s in pool}
    bad, checked = {}, 0
    with open(os.path.join(work, doc["extra"]["results_file"])) as f:
        for line in f:
            if not line.strip():
                continue
            res = json.loads(line)
            s = by_id[res["id"]]
            want = con.execute(s["sql"]).fetchdf()
            got = pd.DataFrame(res["rows"], columns=res["columns"])
            for c in got.columns:
                if c not in want.columns:
                    continue
                if pd.api.types.is_datetime64_any_dtype(want[c]):
                    got[c] = pd.to_numeric(got[c]).astype("int64")
                elif pd.api.types.is_float_dtype(want[c]) and got[c].dtype == object:
                    got[c] = got[c].astype(float)     # JSON null -> NaN
            diff = compare(got, want)
            checked += 1
            if diff:
                bad[res["id"]] = f"{s['template']}: {diff}"
    return set(bad), {"ok": not bad, "statements_checked": checked,
                      "mismatches": dict(list(bad.items())[:5])}


# ---------------------------------------------------------------- ingest
def ingest(doc, gen, inp, work):
    base, rounds, params = gen
    ex = doc["extra"]
    done = [r["round"] for r in ex["rounds"]]
    ran = [int(o["id"]) for o in doc["ops"] if o["kind"] == "round"]
    if done != ran:
        return set(), {"ok": False, "why": "a round failed; end state unknown"}
    # every good point ever landed, versioned: history -1, round i -> i
    rows = [(k[0], k[1], k[2], v, -1) for k, v in base]
    for i in done:
        rows += [(k[0], k[1], k[2], v, i) for k, v in rounds[i]["points"]]
    landed = pd.DataFrame(rows, columns=["t", "site", "meter", "pulses", "ver"])
    landed["time"] = pd.to_datetime(landed["t"], unit="us")
    dropped = sorted({d for _, days, _ in ex["retention"] for d in days})
    con = _con()
    con.register("landed", landed)
    # a dropped day must not be written again by a later round, or its
    # expected content depends on timing the check does not model
    late = []
    for after_round, days, _ in ex["retention"]:
        for d in days:
            late += [r for r in done if r >= after_round and any(
                pd.Timestamp(k[0], unit="us").strftime("%Y-%m-%d") == d
                for k, _ in rounds[r]["points"])]
    if late:
        return set(), {"ok": False, "why": f"rounds {late[:3]} wrote into dropped days"}
    con.execute("CREATE TABLE want AS SELECT time, site, meter, "
                "arg_max(pulses, ver) AS pulses FROM landed GROUP BY 1, 2, 3")
    if dropped:
        days = ", ".join(f"'{d}'" for d in dropped)
        con.execute(f"DELETE FROM want WHERE strftime(time, '%Y-%m-%d') IN ({days})")
    con.execute("CREATE TABLE got AS SELECT time, site, meter, pulses FROM "
                f"read_parquet('{os.path.join(work, ex['final_flow'])}/*.parquet')")
    raw_diff = con.execute("SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL "
                           "SELECT * FROM got)), (SELECT count(*) FROM (SELECT * FROM got "
                           "EXCEPT ALL SELECT * FROM want)), (SELECT count(*) FROM got)"
                           ).fetchone()
    # the rollup: count and sum of every good round point landed (the CQ
    # aggregates the written stream), per hour and site
    con.execute("CREATE TABLE want_h AS SELECT date_trunc('hour', time) AS time, site, "
                "count(pulses) AS n, sum(pulses) AS total FROM landed WHERE ver >= 0 "
                "GROUP BY 1, 2")
    con.execute("CREATE TABLE got_h AS SELECT time, site, n, total FROM "
                f"read_parquet('{os.path.join(work, ex['final_hourly'])}/*.parquet')")
    roll_diff = con.execute("SELECT (SELECT count(*) FROM (SELECT * FROM want_h EXCEPT ALL "
                            "SELECT * FROM got_h)), (SELECT count(*) FROM (SELECT * FROM got_h "
                            "EXCEPT ALL SELECT * FROM want_h))").fetchone()
    ok = raw_diff[0] == 0 and raw_diff[1] == 0 and roll_diff == (0, 0)
    bad_lines = sum(rounds[i]["bad"] for i in done)
    quarantined = sum(r["bad"] for r in ex["rounds"])
    return set(), {"ok": ok and quarantined == bad_lines,
                   "rounds": len(done), "live_points": raw_diff[2],
                   "raw_missing": raw_diff[0], "raw_extra": raw_diff[1],
                   "rollup_missing": roll_diff[0], "rollup_extra": roll_diff[1],
                   "quarantined": quarantined, "malformed_generated": bad_lines,
                   "dropped_days": len(dropped)}


# ----------------------------------------------------------------- batch
def batch(doc, gen, inp, work):
    golden = gen["golden"]
    bad = {}
    for name, n, h in doc["extra"]["digests"]:
        g = golden[name]
        if g["oracle"] != "pass":
            bad[name] = g["oracle"]
        elif (n, h) != (g["rows"], g["hash"]):
            bad[name] = f"digest ({n}, {h}) != checked ({g['rows']}, {g['hash']})"
    return set(bad), {"ok": not bad, "jobs_checked": len(doc["extra"]["digests"]),
                      "mismatches": bad}


def calibrate_batch(fx, jobs, cp, opts, run_jvm, threads):
    """Run each job once, check its output against `SparkEntry.oracleSql`
    in DuckDB, and keep the digest a timed run must reproduce."""
    import shutil
    tmp = os.path.join(fx, "calibrate")
    shutil.rmtree(tmp, ignore_errors=True)
    inp, work = os.path.join(tmp, "input"), os.path.join(tmp, "work")
    os.makedirs(inp)
    os.makedirs(work)
    os.symlink(os.path.join(fx, "fixture"), os.path.join(inp, "fixture"))
    with open(os.path.join(inp, "jobs.txt"), "w") as f:
        f.write("\n".join(jobs) + "\n")
    out = os.path.join(work, "result.json")
    run_jvm(cp, opts, ["calibrate", inp, work, out, 0, 0, threads], work, timeout=600)
    with open(out) as f:
        doc = json.load(f)
    con = _con(threads)
    for t in glob.glob(os.path.join(fx, "fixture", "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    oracle = doc["extra"]["oracle_sql"]
    golden = {}
    for name, n, h in doc["extra"]["digests"]:
        files = glob.glob(os.path.join(work, "calib", name, "*.parquet"))
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf() if files \
            else pd.DataFrame()
        if name in oracle:
            diff = compare(got, con.execute(oracle[name]).fetchdf())
            verdict = "pass" if diff is None else f"oracle mismatch: {diff}"
        else:
            verdict = "pass" if n > 0 else "no rows"
        golden[name] = {"rows": n, "hash": h, "oracle": verdict}
    shutil.rmtree(tmp, ignore_errors=True)
    return golden
