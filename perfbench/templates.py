"""Dashboard statement templates, each with its DuckDB twin.

A template draws its parameters (time range, bucket width, tag filter)
from the run's RNG and returns the InfluxQL statement the program serves
plus the SQL DuckDB runs over the same two measurements (`events`,
`alerts`: time, user_id, event_type, value) to produce the expected rows.
The twins re-derive the engine's documented semantics: epoch-aligned
buckets, a fill() spine from the first bucket of the range to the last
bucket before its end, fill rows only for tags present in the range, and
transforms over non-empty buckets.
"""
import datetime

START = datetime.datetime(2024, 1, 1)
DAYS = 30
TYPES = ["click", "view", "purchase", "signup", "error"]
# (range width, bucket widths that give 4..200 buckets), in seconds
RANGES = [(3600, [60, 300, 600]), (6 * 3600, [600, 1800, 3600]),
          (86400, [1800, 3600, 6 * 3600]), (3 * 86400, [3600, 6 * 3600, 12 * 3600]),
          (7 * 86400, [6 * 3600, 12 * 3600, 86400]), (30 * 86400, [6 * 3600, 86400])]


def dur(s):
    for unit, n in (("d", 86400), ("h", 3600), ("m", 60)):
        if s % n == 0:
            return f"{s // n}{unit}"
    return f"{s}s"


def lit(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def bucket(expr, step):
    return (f"(TIMESTAMP '1970-01-01 00:00:00' + "
            f"((CAST(floor(epoch({expr})) AS BIGINT) // {step}) * {step}) * INTERVAL 1 SECOND)")


def pick_range(r, slot, min_buckets=4, widths=None):
    """A [lo, hi) range inside the 30 days, aligned to whole hours, and a
    bucket width giving at least `min_buckets` buckets. The range width is
    the `slot`-th of the template's allowed widths (cycling), so a pool that
    draws every template once per slot has the same cost mix on every seed;
    its position, the bucket width and the tag filter are random."""
    choices = [x for x in RANGES if widths is None or x[0] in widths]
    width, steps = choices[slot % len(choices)]
    steps = [s for s in steps if width // s >= min_buckets] or steps[:1]
    step = r.choice(steps)
    span = DAYS * 86400 - width
    off = r.randrange(0, span // 3600 + 1) * 3600 if span > 0 else 0
    lo = START + datetime.timedelta(seconds=off)
    return lo, lo + datetime.timedelta(seconds=width), step


def spine(lo, hi, step):
    """Buckets from the one holding `lo` to the last one starting before `hi`."""
    return (f"SELECT unnest(generate_series({bucket(repr_ts(lo), step)}, "
            f"TIMESTAMP '{lit(hi)}' - INTERVAL 1 MICROSECOND, INTERVAL {step} SECOND)) AS time")


def repr_ts(t):
    return f"TIMESTAMP '{lit(t)}'"


def where(lo, hi, extra=""):
    return (f"time >= '{lit(lo)}' AND time < '{lit(hi)}'" + (f" AND {extra}" if extra else ""))


def sql_where(lo, hi, extra=""):
    return (f"time >= {repr_ts(lo)} AND time < {repr_ts(hi)}" + (f" AND {extra}" if extra else ""))


def t_raw(r, slot):
    lo, hi, _ = pick_range(r, slot, widths=[3600, 6 * 3600, 86400, 3 * 86400, 7 * 86400, 30 * 86400])
    u = f"u{r.randrange(1500):04d}"
    q = f"SELECT value FROM events WHERE user_id = '{u}' AND {where(lo, hi)}"
    return q, f"SELECT time, value FROM events WHERE user_id = '{u}' AND {sql_where(lo, hi)}"


def t_fill_null(r, slot):
    lo, hi, step = pick_range(r, slot)
    e = r.choice(TYPES)
    q = (f"SELECT count(value) AS n FROM events WHERE event_type = '{e}' AND {where(lo, hi)} "
         f"GROUP BY time({dur(step)}) fill(null)")
    sql = f"""WITH a AS (SELECT {bucket('time', step)} AS time, COUNT(value) AS n FROM events
      WHERE event_type = '{e}' AND {sql_where(lo, hi)} GROUP BY 1)
      SELECT s.time, a.n FROM ({spine(lo, hi, step)}) s LEFT JOIN a ON a.time = s.time"""
    return q, sql


def t_fill_none(r, slot):
    lo, hi, step = pick_range(r, slot)
    u = f"u{r.randrange(15):02d}"
    q = (f"SELECT mean(value) AS mv, max(value) AS mx FROM events "
         f"WHERE user_id =~ /^u{u[1:]}/ AND {where(lo, hi)} GROUP BY time({dur(step)}) fill(none)")
    sql = f"""SELECT {bucket('time', step)} AS time, AVG(value) AS mv, MAX(value) AS mx
      FROM events WHERE regexp_matches(user_id, '^u{u[1:]}') AND {sql_where(lo, hi)} GROUP BY 1"""
    return q, sql


def t_fill_value(r, slot):
    lo, hi, step = pick_range(r, slot, widths=[86400, 3 * 86400, 7 * 86400])
    q = (f"SELECT count(value) AS n FROM events WHERE {where(lo, hi)} "
         f"GROUP BY time({dur(step)}), event_type fill(0)")
    sql = f"""WITH f AS (SELECT * FROM events WHERE {sql_where(lo, hi)}),
      a AS (SELECT {bucket('time', step)} AS time, event_type, COUNT(value) AS n FROM f GROUP BY 1, 2),
      g AS (SELECT s.time, e.event_type FROM ({spine(lo, hi, step)}) s
            CROSS JOIN (SELECT DISTINCT event_type FROM f) e)
      SELECT g.time, g.event_type, COALESCE(a.n, 0) AS n FROM g
      LEFT JOIN a ON a.time = g.time AND a.event_type = g.event_type"""
    return q, sql


def t_fill_previous(r, slot):
    lo, hi, step = pick_range(r, slot)
    u = f"u{r.randrange(150):03d}"
    q = (f"SELECT mean(value) AS mv FROM events WHERE user_id =~ /^{u}/ AND {where(lo, hi)} "
         f"GROUP BY time({dur(step)}) fill(previous)")
    sql = f"""WITH a AS (SELECT {bucket('time', step)} AS time, AVG(value) AS mv FROM events
      WHERE regexp_matches(user_id, '^{u}') AND {sql_where(lo, hi)} GROUP BY 1)
      SELECT time, LAST_VALUE(mv IGNORE NULLS) OVER (ORDER BY time
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mv
      FROM (SELECT s.time, a.mv FROM ({spine(lo, hi, step)}) s LEFT JOIN a ON a.time = s.time)"""
    return q, sql


def t_fill_linear(r, slot):
    lo, hi, step = pick_range(r, slot)
    u = f"u{r.randrange(150):03d}"
    q = (f"SELECT mean(value) AS mv FROM events WHERE user_id =~ /^{u}/ AND {where(lo, hi)} "
         f"GROUP BY time({dur(step)}) fill(linear)")
    sql = f"""WITH a AS (SELECT {bucket('time', step)} AS time, AVG(value) AS mv FROM events
      WHERE regexp_matches(user_id, '^{u}') AND {sql_where(lo, hi)} GROUP BY 1),
      j AS (SELECT s.time, a.mv FROM ({spine(lo, hi, step)}) s LEFT JOIN a ON a.time = s.time),
      w AS (SELECT time, mv,
        LAST_VALUE(mv IGNORE NULLS) OVER wp AS pv,
        LAST_VALUE(CASE WHEN mv IS NOT NULL THEN time END IGNORE NULLS) OVER wp AS pt,
        FIRST_VALUE(mv IGNORE NULLS) OVER wn AS nv,
        FIRST_VALUE(CASE WHEN mv IS NOT NULL THEN time END IGNORE NULLS) OVER wn AS nt
        FROM j WINDOW
          wp AS (ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wn AS (ORDER BY time ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT time, CASE WHEN mv IS NOT NULL THEN mv
        WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
          pv + (nv - pv) * ((epoch_us(time) - epoch_us(pt)) / (epoch_us(nt) - epoch_us(pt)))
        END AS mv FROM w"""
    return q, sql


def t_group_tag(r, slot):
    lo, hi, step = pick_range(r, slot)
    q = (f"SELECT max(value) AS mx, min(value) AS mn, count(value) AS n FROM events "
         f"WHERE {where(lo, hi)} GROUP BY time({dur(step)}), event_type fill(none)")
    sql = f"""SELECT {bucket('time', step)} AS time, event_type, MAX(value) AS mx,
      MIN(value) AS mn, COUNT(value) AS n FROM events WHERE {sql_where(lo, hi)} GROUP BY 1, 2"""
    return q, sql


def t_selectors(r, slot):
    lo, hi, step = pick_range(r, slot)
    q = (f"SELECT first(value) AS fv, last(value) AS lv FROM events WHERE {where(lo, hi)} "
         f"GROUP BY time({dur(step)}), event_type fill(none)")
    b = bucket("time", step)
    sql = f"""WITH r AS (SELECT {b} AS time, event_type, value,
        ROW_NUMBER() OVER (PARTITION BY {b}, event_type ORDER BY time ASC, value ASC) AS rna,
        ROW_NUMBER() OVER (PARTITION BY {b}, event_type ORDER BY time DESC, value DESC) AS rnd
        FROM events WHERE {sql_where(lo, hi)})
      SELECT time, event_type, MAX(CASE WHEN rna = 1 THEN value END) AS fv,
        MAX(CASE WHEN rnd = 1 THEN value END) AS lv FROM r GROUP BY time, event_type"""
    return q, sql


def _agg_series(r, lo, hi, step, e):
    """Bucket means as the engine accumulates them (decimal sum / count), so
    transforms that round their input see the same values."""
    return (f"SELECT {bucket('time', step)} AS time, "
            f"CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS x "
            f"FROM events WHERE event_type = '{e}' AND {sql_where(lo, hi)} GROUP BY 1")


def t_derivative(r, slot):
    lo, hi, step = pick_range(r, slot, widths=[86400, 3 * 86400, 7 * 86400, 30 * 86400])
    e = r.choice(TYPES)
    q = (f"SELECT derivative(mean(value), 1h) AS rate FROM events WHERE event_type = '{e}' "
         f"AND {where(lo, hi)} GROUP BY time({dur(step)})")
    sql = f"""WITH a AS ({_agg_series(r, lo, hi, step, e)}),
      d AS (SELECT time, ((x - lag(x) OVER w) * 3600.0) /
        (CAST(epoch_us(time) - lag(epoch_us(time)) OVER w AS DOUBLE) / 1e6) AS rate
        FROM a WINDOW w AS (ORDER BY time))
      SELECT time, rate FROM d WHERE rate IS NOT NULL"""
    return q, sql


def t_moving_average(r, slot):
    lo, hi, step = pick_range(r, slot, min_buckets=8, widths=[86400, 3 * 86400, 7 * 86400, 30 * 86400])
    e = r.choice(TYPES)
    q = (f"SELECT moving_average(mean(value), 4) AS ma FROM events WHERE event_type = '{e}' "
         f"AND {where(lo, hi)} GROUP BY time({dur(step)})")
    sql = f"""WITH a AS ({_agg_series(r, lo, hi, step, e)}),
      m AS (SELECT time, CASE WHEN COUNT(x) OVER w = 4 THEN
          CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) OVER w AS DOUBLE) / 4 END AS ma
        FROM a WINDOW w AS (ORDER BY time ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
      SELECT time, ma FROM m WHERE ma IS NOT NULL"""
    return q, sql


def t_holt_winters(r, slot):
    lo, hi, step = pick_range(r, slot, min_buckets=12, widths=[86400, 3 * 86400, 7 * 86400, 30 * 86400])
    e = r.choice(TYPES)
    n = r.choice([4, 8])
    q = (f"SELECT holt_winters(mean(value), {n}, 4) AS hw FROM events WHERE event_type = '{e}' "
         f"AND {where(lo, hi)} GROUP BY time({dur(step)})")
    sql = f"""WITH RECURSIVE agg AS (SELECT {bucket('time', step)} AS time,
          CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS y
        FROM events WHERE event_type = '{e}' AND {sql_where(lo, hi)} GROUP BY 1),
      ser AS (SELECT list(y ORDER BY time) AS ys, list(time ORDER BY time) AS ts FROM agg),
      init AS (SELECT ys, ts,
          list_aggregate(ys[1:4], 'sum') / CAST(4 AS DOUBLE) AS l0,
          list_aggregate(ys[5:8], 'sum') / CAST(4 AS DOUBLE) AS l1
        FROM ser WHERE len(ys) >= 8),
      hw AS (SELECT 5 AS t, ys, ts, l0 AS l, (l1 - l0) / CAST(4 AS DOUBLE) AS b,
          list_transform(ys[1:4], sx -> sx - l0) AS s FROM init
        UNION ALL
        SELECT t + 1, ys, ts,
          0.5 * (ys[t] - s[((t-1) % 4) + 1]) + 0.5 * (l + b),
          0.1 * ((0.5 * (ys[t] - s[((t-1) % 4) + 1]) + 0.5 * (l + b)) - l) + 0.9 * b,
          list_transform(s, (sx, j) -> CASE WHEN j = ((t-1) % 4) + 1
            THEN 0.1 * (ys[t] - (0.5 * (ys[t] - s[((t-1) % 4) + 1]) + 0.5 * (l + b))) + 0.9 * sx
            ELSE sx END)
        FROM hw WHERE t <= len(ys))
      SELECT ts[len(ts)] + to_microseconds(k * {step * 1_000_000}) AS time,
        round(l + CAST(k AS DOUBLE) * b + s[((len(ys) - 1 + k) % 4) + 1], 6) AS hw
      FROM hw, (SELECT unnest(range(1, {n + 1})) AS k) WHERE t = len(ys) + 1"""
    return q, sql


def t_from_regex(r, slot):
    lo, hi, step = pick_range(r, slot, widths=[86400, 3 * 86400, 7 * 86400, 30 * 86400])
    q = (f"SELECT count(value) AS n FROM /^(events|alerts)$/ WHERE {where(lo, hi)} "
         f"GROUP BY time({dur(step)}) fill(none)")
    parts = " UNION ALL ".join(
        f"SELECT '{m}' AS measurement, {bucket('time', step)} AS time, COUNT(value) AS n "
        f"FROM {m} WHERE {sql_where(lo, hi)} GROUP BY 2" for m in ("events", "alerts"))
    return q, f"SELECT * FROM ({parts})"


def t_show(r, slot):
    k = slot % 3
    if k == 0:
        return ("SHOW TAG VALUES FROM events WITH KEY = event_type",
                "SELECT DISTINCT 'event_type' AS key, event_type AS value FROM events")
    if k == 1:
        return ("SHOW SERIES EXACT CARDINALITY",
                "SELECT * FROM (SELECT 'events' AS measurement, CAST(COUNT(*) AS BIGINT) AS count "
                "FROM (SELECT DISTINCT user_id, event_type FROM events) UNION ALL "
                "SELECT 'alerts', CAST(COUNT(*) AS BIGINT) "
                "FROM (SELECT DISTINCT user_id, event_type FROM alerts))")
    return ("SHOW TAG VALUES EXACT CARDINALITY WITH KEY = event_type",
            "SELECT * FROM (SELECT 'events' AS measurement, CAST(COUNT(DISTINCT event_type) AS BIGINT) "
            "AS count FROM events UNION ALL SELECT 'alerts', "
            "CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM alerts)")


TEMPLATES = {
    "raw": t_raw, "fill_null": t_fill_null, "fill_none": t_fill_none,
    "fill_value": t_fill_value, "fill_previous": t_fill_previous,
    "fill_linear": t_fill_linear, "group_tag": t_group_tag, "selectors": t_selectors,
    "derivative": t_derivative, "moving_average": t_moving_average,
    "holt_winters": t_holt_winters, "from_regex": t_from_regex,
    "show": t_show,
}


def draw(name, r, slot):
    return TEMPLATES[name](r, slot)
