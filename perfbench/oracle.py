"""Correctness gate: each materialized result against DuckDB.

Query results are compared with their `SparkEntry.oracleSql` text the
way `tools/check.py` does (columns sorted by name, rows sorted, cells
compared as strings), except that a decimal sum the oracle casts to
DOUBLE is converted correctly rounded (`_exact_sum_casts`). The entry
chain, which has no declared oracle, and the ingest store get the
DuckDB recomputations defined here.
Every check returns (name, ok, detail).

A query's expected result depends only on the generated inputs and the
oracle text, so it is computed once and kept under the cache directory,
keyed by a digest of both.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

# SparkEntry.entry's chain, recomputed: keep-first by (ts_ms, payload),
# time derivations, frequency rank, minute/user flag propagation and the
# side-of-town bearing (the q8 oracle's formula) of the synthetic point.
ENTRY_CHAIN_SQL = """
WITH k AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT event_id, epoch_ms(ts) AS ts_ms, ts, user_id, event_type, value, props,
      row_number() OVER (PARTITION BY event_id
        ORDER BY epoch_ms(ts), ts, user_id, event_type, value, props) AS rn
    FROM events) WHERE rn = 1),
r AS (SELECT event_type, rank() OVER (ORDER BY count(*) DESC) AS type_rank
      FROM k GROUP BY event_type),
f AS (
  SELECT k.*, dayofweek(ts) + 1 AS day_of_week, hour(ts) AS time_of_day,
    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS flag, r.type_rank,
    35.2226 + CAST(user_id % 10 AS DOUBLE) * 0.01 AS lat,
    -97.4395 + CAST(user_id % 7 AS DOUBLE) * 0.01 AS lon
  FROM k JOIN r USING (event_type)),
b AS (
  SELECT *,
    max(flag) OVER (PARTITION BY date_trunc('minute', ts), user_id) AS flag_propagated,
    fmod(degrees(atan2(
      cos(radians(lat)) * sin(radians(lon) - radians(-97.4395)),
      cos(radians(35.2226)) * sin(radians(lat))
        - sin(radians(35.2226)) * cos(radians(lat)) * cos(radians(lon) - radians(-97.4395))
    )) + 360.0, 360.0) AS bearing
  FROM f)
SELECT event_id, ts_ms, user_id, event_type, value, props, day_of_week,
  time_of_day, flag, type_rank, flag_propagated, round(lat, 4) AS lat,
  round(lon, 4) AS lon,
  ['N','NE','E','SE','S','SW','W','NW'][CAST(floor(fmod(bearing + 22.5, 360.0) / 45.0) AS INTEGER) + 1]
    AS side_of_town
FROM b"""


def _scan(path):
    """A DuckDB table expression for a parquet file or directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet')"
    return f"read_parquet('{path}')"


def _connect(input_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for entry in sorted(os.listdir(input_dir)):
        if entry.endswith(".parquet"):
            con.execute(f"CREATE VIEW {entry[:-8]} AS SELECT * FROM "
                        f"{_scan(os.path.join(input_dir, entry))}")
    return con


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(got, exp):
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"column mismatch: got {list(g.columns)} expected {list(e.columns)}"
    if len(g) != len(e):
        return f"row count: got {len(g)} expected {len(e)}"
    gs, es = g.astype(str).values, e.astype(str).values
    bad = [(r, c) for r in range(len(gs)) for c in range(gs.shape[1])
           if gs[r][c] != es[r][c]]
    if bad:
        cells = "; ".join(f"row {r} {g.columns[c]}: got {gs[r][c]} expected {es[r][c]}"
                          for r, c in bad[:3])
        return f"{len(bad)} cells differ: {cells}"
    return ""


def _digest(input_dir):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(input_dir)):
        for f in sorted(files):
            path = os.path.join(root, f)
            h.update(os.path.relpath(path, input_dir).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _exact_sum_casts(sql):
    """`CAST(sum(x) AS DOUBLE)` rewritten as a cast through the sum's
    decimal text. DuckDB converts a 128-bit DECIMAL sum to DOUBLE in two
    roundings, so the result can be one ulp off the nearest double (sum
    187415642.775000000000 gives 187415642.77499998), and an oracle's
    `floor(x * 100 + 0.5)` then rounds a half-cent tie down. Spark
    converts a decimal to the nearest double, and so does DuckDB's
    parse of the exact decimal text, so the expected value is the
    correctly rounded one."""
    out, i = [], 0
    while (j := sql.find("CAST(sum(", i)) >= 0:
        depth, quoted = 0, False
        for k in range(j + 4, len(sql)):
            ch = sql[k]
            if ch == "'":
                quoted = not quoted
            elif not quoted and ch == "(":
                depth += 1
            elif not quoted and ch == ")":
                depth -= 1
                if depth == 0:
                    break
        inner = sql[j + 5:k]
        if depth == 0 and inner.endswith(" AS DOUBLE"):
            out.append(sql[i:j] + f"CAST(CAST({inner[:-len(' AS DOUBLE')]} AS VARCHAR) AS DOUBLE)")
            i = k + 1
        else:
            out.append(sql[i:j + 9])
            i = j + 9
    return "".join(out) + sql[i:]


def _expected(con, sql, cache):
    """The oracle's result, through a parquet file kept in `cache`, so
    a first and a cached run compare the same values."""
    if not os.path.exists(cache):
        tmp = f"{cache}.{os.getpid()}.tmp"
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
        os.replace(tmp, cache)
    return con.sql(f"SELECT * FROM read_parquet('{cache}')").df()


def check_queries(input_dir, checks, cache_dir):
    con = _connect(input_dir)
    os.makedirs(cache_dir, exist_ok=True)
    inputs = _digest(input_dir)
    out = []
    for c in checks:
        name = c["name"]
        sql = ENTRY_CHAIN_SQL if name == "entry_chain" else _exact_sum_casts(c["sql"] or "")
        if not sql:
            out.append((name, False, "no oracle declared"))
            continue
        files = sorted(glob.glob(os.path.join(c["path"], "*.parquet")))
        if not files:
            out.append((name, False, "result not produced"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        key = hashlib.sha256(f"{inputs}\n{sql}".encode()).hexdigest()
        try:
            exp = _expected(con, sql, os.path.join(cache_dir, f"{key}.parquet"))
        except Exception as e:  # an oracle that cannot run is a failed check
            out.append((name, False, f"oracle error: {e}"))
            continue
        diff = _compare(got, exp)
        out.append((name, not diff, diff or f"{len(exp)} rows"))
    return out


def check_ingest(input_dir, checks, lookback_days=2):
    """Keep-first, re-send and enrichment checks of the final stored
    table, against a DuckDB replay of every offered batch."""
    paths = {c["name"]: c for c in checks}
    failed = [(n, False, "result not produced")
              for n, c in paths.items() if not os.path.isdir(c["path"])]
    if failed:
        return failed
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    batches = sorted(glob.glob(os.path.join(input_dir, "batches", "b*")))
    offered = [f"SELECT 0 AS batch, * FROM read_parquet('{input_dir}/base/events.parquet')"]
    for i, b in enumerate(batches, start=1):
        src = f"read_parquet('{b}/events.parquet')"
        offered.append(
            f"SELECT {i} AS batch, * FROM {src} WHERE CAST(ts AS DATE) > "
            f"(SELECT max(CAST(ts AS DATE)) FROM {src}) - {lookback_days}")
    con.execute(f"""
      CREATE TABLE expected AS
      WITH found AS ({' UNION ALL '.join(offered)}),
      first_in_batch AS (
        SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY batch, event_id
            ORDER BY epoch_ms(ts), ts, user_id, event_type, value, props) AS rn
          FROM found) WHERE rn = 1),
      first AS (
        SELECT * EXCLUDE (rn, rb) FROM (SELECT *, row_number() OVER (
            PARTITION BY event_id ORDER BY batch) AS rb FROM first_in_batch)
        WHERE rb = 1)
      SELECT batch, event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value,
        props, dayofweek(ts) + 1 AS day_of_week, hour(ts) AS time_of_day,
        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS flag,
        max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
          PARTITION BY batch, date_trunc('minute', ts), user_id) AS flag_propagated
      FROM first""")
    store = paths["ingest_store"]["path"]
    con.execute(f"""
      CREATE VIEW stored AS SELECT CAST(batch AS INTEGER) AS batch, event_id, ts_ms,
        user_id, event_type, value, props, day_of_week, time_of_day, flag,
        flag_propagated
      FROM read_parquet('{store}/*/*.parquet', hive_partitioning = true)""")
    one = lambda q: con.sql(q).fetchone()[0]
    res = []
    n, keys = con.sql("SELECT count(*), count(DISTINCT event_id) FROM stored").fetchone()
    res.append(("ingest_one_row_per_key", n == keys, f"{n} rows, {keys} keys"))
    offered_ids = one("SELECT count(DISTINCT event_id) FROM ("
                      + " UNION ALL ".join(q.split(" WHERE ")[0] for q in offered) + ")")
    res.append(("ingest_resent_add_nothing", n == offered_ids,
                f"{n} stored rows for {offered_ids} distinct offered keys"))
    cols = ("batch, event_id, ts_ms, user_id, event_type, value, props, "
            "day_of_week, time_of_day, flag, flag_propagated")
    extra = one(f"SELECT count(*) FROM (SELECT {cols} FROM stored EXCEPT ALL "
                f"SELECT {cols} FROM expected)")
    missing = one(f"SELECT count(*) FROM (SELECT {cols} FROM expected EXCEPT ALL "
                  f"SELECT {cols} FROM stored)")
    res.append(("ingest_keep_first_rows", extra == 0 and missing == 0,
                f"{extra} unexpected rows, {missing} missing rows"))
    rank_got = pd.read_parquet(paths["ingest_rank"]["path"],
                               columns=["event_id", "event_type", "type_rank"])
    rank_exp = con.sql("""
      SELECT event_id, e.event_type, r.type_rank FROM expected e JOIN (
        SELECT event_type, rank() OVER (ORDER BY count(*) DESC) AS type_rank
        FROM expected GROUP BY event_type) r USING (event_type)""").df()
    diff = _compare(rank_got, rank_exp)
    res.append(("ingest_freq_rank", not diff, diff or f"{len(rank_exp)} rows"))
    health_got = pd.read_parquet(paths["ingest_health"]["path"])
    health_exp = con.sql("""
      SELECT count(*) FILTER (WHERE value IS NULL) AS null_value,
        count(*) FILTER (WHERE props IS NULL) AS null_props,
        count(*) FILTER (WHERE flag_propagated IS NULL) AS null_flag_propagated,
        count(*) AS total_rows FROM expected""").df()
    diff = _compare(health_got, health_exp)
    res.append(("ingest_null_health", not diff, diff or "1 row"))
    dim_got = con.sql(f"SELECT * FROM {_scan(paths['ingest_dim']['path'])}").df()
    dim_exp = con.sql(f"""
      SELECT * FROM read_parquet('{input_dir}/users.parquet')
      UNION ALL
      SELECT user_id, 'user_' || user_id AS name, 'fetched' AS src
      FROM (SELECT DISTINCT user_id FROM expected) WHERE user_id NOT IN (
        SELECT user_id FROM read_parquet('{input_dir}/users.parquet'))""").df()
    diff = _compare(dim_got, dim_exp)
    res.append(("ingest_dim_upsert", not diff, diff or f"{len(dim_exp)} rows"))
    return res
