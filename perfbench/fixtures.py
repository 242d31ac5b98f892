"""Seeded input generators for the three workloads.

Everything a run feeds the program is made here from the run's seed (or,
for the batch fixture, from a fixed seed, since its DuckDB-checked digests
are cached per fixture): the same seed gives byte-identical inputs.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_US = 1704067200 * 1_000_000          # 2024-01-01 00:00:00 UTC
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


# ---------------------------------------------------------------- events
def events_table(rng, n, users=1500, days=30):
    """The `events` fixture shape: n points over `days` days, `users`
    series per event type, values rounded to cents."""
    ts = np.sort(rng.integers(EPOCH_US, EPOCH_US + days * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


# ------------------------------------------------------------- dashboard
def dashboard(out, seed, n_points=100_000, per_template=6, passes=40):
    """The served measurements, the seeded statement pool (`per_template`
    draws of every template) and each client's order: `passes` seeded
    shuffles of the whole pool, so every stretch of a run sees the
    templates in equal shares. Returns the pool."""
    from templates import TEMPLATES, draw
    rng = np.random.default_rng(seed)
    ev = events_table(rng, n_points)
    meas = pa.table({
        "time": ev["ts"],
        "user_id": pa.array([f"u{u:04d}" for u in ev["user_id"].to_numpy()]),
        "event_type": ev["event_type"],
        "value": ev["value"],
    })
    pq.write_table(meas, os.path.join(out, "events.parquet"))
    err = meas.filter(pc.equal(meas["event_type"], "error"))
    pq.write_table(err, os.path.join(out, "alerts.parquet"))
    r = random.Random(seed)
    pool = []
    for name in TEMPLATES:
        for slot in range(per_template):
            stmt, twin = draw(name, r, slot)
            pool.append({"id": f"s{len(pool):03d}", "template": name, "q": stmt, "sql": twin})
    with open(os.path.join(out, "statements.tsv"), "w") as f:
        for s in pool:
            f.write(f"{s['id']}\t{s['template']}\t{s['q']}\n")
    for c in range(2):
        with open(os.path.join(out, f"client{c}.txt"), "w") as f:
            for _ in range(passes):
                ids = [s["id"] for s in pool]
                r.shuffle(ids)
                f.write("\n".join(ids) + "\n")
    return pool


def serving(out, seed):
    """Inputs of the serving workload: the dashboard's and the ingest's."""
    return dashboard(out, seed), ingest(out, seed)


# ---------------------------------------------------------------- ingest
# site ids start with a non-zero digit: the pulse-CSV metadata regex
# (loader.py) absorbs leading zeros into its prefix
SITES = [str(101 + i) for i in range(24)]
METERS = ["1", "2"]
INGEST_START_US = EPOCH_US + 30 * DAY_US      # rounds start after the history


def ingest(out, seed, n_rounds=40, per_series=42, base_days=30,
           base_per_day=2000, resend=0.05, late=0.08, malformed=0.01):
    """History plus one datalogger batch per simulated day. Each round holds
    one day of points for every (site, meter) series, a share of late points
    for the two days before it, a share of re-sent points from earlier
    rounds (same key, new value), and a share of malformed lines. Every
    third round (the second of each three) lands as pulse CSVs, the rest as
    line protocol, so runs of equal length see the same format mix.

    Returns the list of round descriptors with their good points, for the
    end-state check."""
    rng = np.random.default_rng(seed)
    r = random.Random(seed)
    series = [(s, m) for s in SITES for m in METERS]
    # history: base_days days of points
    n = base_days * base_per_day
    t = rng.integers(EPOCH_US, EPOCH_US + base_days * DAY_US, n)
    t = t - t % 1_000_000
    si = rng.integers(0, len(series), n)
    keys = {}
    for tt, ss in zip(t.tolist(), si.tolist()):
        keys[(tt, series[ss][0], series[ss][1])] = float(rng.integers(0, 200))
    base = sorted(keys.items())
    pq.write_table(pa.table({
        "time": _ts([k[0] for k, _ in base]),
        "site": pa.array([k[1] for k, _ in base]),
        "meter": pa.array([k[2] for k, _ in base]),
        "pulses": pa.array([v for _, v in base], type=pa.float64()),
    }), os.path.join(out, "base.parquet"))
    os.makedirs(os.path.join(out, "rounds"), exist_ok=True)
    rounds = []
    sent = []                                   # keys landed so far
    for i in range(n_rounds):
        day0 = INGEST_START_US + i * DAY_US
        pts = {}
        for s, m in series:
            for sec in r.sample(range(86_400), per_series):
                pts[(day0 + sec * 1_000_000, s, m)] = float(r.randrange(0, 200))
        for key in r.sample(list(pts), int(late * len(pts))):
            del pts[key]
            back = day0 - r.randrange(1, 3) * DAY_US + r.randrange(86_400) * 1_000_000
            pts[(back, key[1], key[2])] = float(r.randrange(0, 200))
        if sent:
            for key in r.sample(sent, min(len(sent), int(resend * len(pts)))):
                pts[key] = float(r.randrange(0, 200))
        fmt = "csv" if i % 3 == 1 else "lp"
        name = f"r{i:04d}"
        bad = _write_round(os.path.join(out, "rounds"), name, fmt, pts, r, malformed)
        sent.extend(k for k in pts if k[0] >= day0)
        rounds.append({"round": i, "format": fmt,
                       "path": f"rounds/{name}" + (".lp" if fmt == "lp" else ""),
                       "points": sorted(pts.items()), "bad": bad})
    with open(os.path.join(out, "rounds.tsv"), "w") as f:
        for rd in rounds:
            f.write(f"{rd['round']}\t{rd['format']}\t{rd['path']}\n")
    # the concurrent reader: dashboard statements over raw and rollup
    with open(os.path.join(out, "reader.tsv"), "w") as f:
        for j in range(64):
            site = r.choice(SITES)
            d0 = INGEST_START_US + r.randrange(-5, 5) * DAY_US
            lo, hi = _iso(d0), _iso(d0 + r.choice([1, 2, 3]) * DAY_US)
            if j % 2 == 0:
                f.write(f"flow\tSELECT mean(pulses) AS mp, count(pulses) AS n FROM flow "
                        f"WHERE site = '{site}' AND time >= '{lo}' AND time < '{hi}' "
                        f"GROUP BY time(1h)\n")
            else:
                f.write(f"flow_hourly\tSELECT sum(n) AS n, sum(total) AS total "
                        f"FROM flow_hourly WHERE time >= '{lo}' AND time < '{hi}' "
                        f"GROUP BY time(6h), site\n")
    params = {"compact_every": 2, "retention_rows": base_days * base_per_day,
              "watermark_lag": "4 days"}
    with open(os.path.join(out, "params.tsv"), "w") as f:
        for k, v in params.items():
            f.write(f"{k}\t{v}\n")
    return base, rounds, params


def _iso(us):
    import datetime
    return datetime.datetime.fromtimestamp(us / 1e6, datetime.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def _write_round(dirpath, name, fmt, pts, r, malformed):
    """Write one round's points as line protocol (one file) or as pulse
    CSVs (one file per series); returns the number of malformed lines."""
    bad = 0
    if fmt == "lp":
        lines = [f"flow,site={s},meter={m} pulses={int(v)}i {t * 1000}"
                 for (t, s, m), v in pts.items()]
        r.shuffle(lines)
        out = []
        for ln in lines:
            out.append(ln)
            if r.random() < malformed:
                out.append(ln.replace("pulses=", "pulses=x").rsplit(" ", 1)[0] + " 17x")
                bad += 1
        with open(os.path.join(dirpath, name + ".lp"), "w") as f:
            f.write("\n".join(out) + "\n")
    else:
        os.makedirs(os.path.join(dirpath, name), exist_ok=True)
        by = {}
        for (t, s, m), v in pts.items():
            by.setdefault((s, m), []).append((t, v))
        for (s, m), rows in sorted(by.items()):
            body = [f"Site #: {s}", "Datalogger: 001", f"Meter: {m}", "Time,Pulses"]
            for t, v in sorted(rows):
                body.append(f"{_iso(t)},{int(v)}")
                if r.random() < malformed:
                    body.append(f"{_iso(t)},n/a")
                    bad += 1
            with open(os.path.join(dirpath, name, f"{s}_{m}.csv"), "w") as f:
                f.write("\n".join(body) + "\n")
    return bad


# ----------------------------------------------------------------- batch
def batch(out, seed=20240101):
    """The sf0.1-shaped fixture (events, documents, embeddings), generated
    from a fixed seed."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    pq.write_table(events_table(rng, 100_000), os.path.join(out, "events.parquet"))
    n_docs = 5000
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < 0.03:          # exact and near duplicates
            src = texts[int(rng.integers(0, len(texts)))].split()
            if rng.random() < 0.5 and len(src) > 4:
                j = int(rng.integers(0, len(src)))
                src[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out, "documents.parquet"))
    n_vec = 2000
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[labels] + rng.normal(0, 0.8, (n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), os.path.join(out, "embeddings.parquet"))
