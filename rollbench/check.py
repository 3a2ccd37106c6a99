"""Output checks of the rollup-engine benchmark, computed apart from the
engine with DuckDB over the same seeded inputs.

Each check returns a list of error strings; an empty list means the
program's outputs are correct.
"""
import json
import math
import os

import duckdb

TIER_SECONDS = {"rollup_1m": 60, "rollup_1h": 3600, "rollup_1d": 86400}
TIER_UNIT = {"rollup_1m": "minute", "rollup_1h": "hour", "rollup_1d": "day"}
# Columns of a stitch result, in order (Rollup.stitchRange* output).
STITCH_COLS = ["conv_id", "turn_count", "user_turns", "assistant_turns",
               "tool_calls", "char_len_sum", "char_len_min", "char_len_max",
               "token_sum", "min_turn_idx", "max_turn_idx", "first_text",
               "last_text", "char_len_avg"]
TIER_COLS = (STITCH_COLS[:1] + ["window_start"] + STITCH_COLS[1:]
             + ["turn_rate"])

AGGS = """
  CAST(COUNT(*) AS BIGINT) AS turn_count,
  CAST(COUNT(*) FILTER (WHERE role = 'user') AS BIGINT) AS user_turns,
  CAST(COUNT(*) FILTER (WHERE role = 'assistant') AS BIGINT) AS assistant_turns,
  CAST(COUNT(tool) AS BIGINT) AS tool_calls,
  CAST(SUM(length(text)) AS BIGINT) AS char_len_sum,
  CAST(MIN(length(text)) AS BIGINT) AS char_len_min,
  CAST(MAX(length(text)) AS BIGINT) AS char_len_max,
  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS token_sum,
  CAST(MIN(turn_idx) AS INTEGER) AS min_turn_idx,
  CAST(MAX(turn_idx) AS INTEGER) AS max_turn_idx,
  arg_min(text, turn_idx) AS first_text,
  arg_max(text, turn_idx) AS last_text,
  CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS char_len_avg"""


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def load_turns(con, input_dir, where="TRUE"):
    """View `turns` over the seeded input parquet (naive-UTC ts)."""
    con.execute(f"""CREATE OR REPLACE VIEW turns AS
      SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts)
      FROM read_parquet('{input_dir}/*.parquet') WHERE {where}""")


def tier_sql(tier):
    return f"""SELECT conv_id, date_trunc('{TIER_UNIT[tier]}', ts) AS window_start,
      {AGGS},
      CAST(COUNT(*) AS DOUBLE) / {TIER_SECONDS[tier]}.0 AS turn_rate
    FROM turns GROUP BY 1, 2"""


def _diff(con, a_sql, b_sql):
    """Rows of a not in b and of b not in a (multiset), capped."""
    missing = con.execute(f"SELECT * FROM ({a_sql}) EXCEPT ALL SELECT * FROM ({b_sql}) LIMIT 3").fetchall()
    extra = con.execute(f"SELECT * FROM ({b_sql}) EXCEPT ALL SELECT * FROM ({a_sql}) LIMIT 3").fetchall()
    return missing, extra


def check_tiers(con, tables, day_from=None, only=TIER_SECONDS):
    """Each committed tier table equals DuckDB's aggregation of `turns`
    at that tier. `day_from` restricts a tier to windows on or after a
    day (its retention horizon): {tier: 'yyyy-mm-dd'}."""
    errors = []
    for tier in only:
        files = tables.get(tier, [])
        if not files:
            errors.append(f"{tier}: no committed files")
            continue
        cols = ", ".join("CAST(window_start AS TIMESTAMP) AS window_start"
                         if c == "window_start" else c for c in TIER_COLS)
        listed = ", ".join(f"'{f}'" for f in files)
        got = f"SELECT {cols} FROM read_parquet([{listed}])"
        want = f"SELECT {', '.join(TIER_COLS)} FROM ({tier_sql(tier)})"
        if day_from and tier in day_from:
            want += f" WHERE window_start >= TIMESTAMP '{day_from[tier]}'"
        missing, extra = _diff(con, want, got)
        if missing or extra:
            errors.append(f"{tier}: differs from DuckDB; missing {missing[:1]}, unexpected {extra[:1]}")
    return errors


def check_decoded(con, decoded_dir):
    """BlockRollup.decode of blocks_1h gives back every input point
    (conv_id, ts, char_len) exactly: the codec is lossless."""
    got = f"""SELECT conv_id, CAST(ts AS TIMESTAMP) AS ts, CAST(value AS BIGINT) AS v
      FROM read_parquet('{decoded_dir}/*.parquet')"""
    want = "SELECT conv_id, ts, CAST(length(text) AS BIGINT) AS v FROM turns"
    missing, extra = _diff(con, want, got)
    if missing or extra:
        return [f"blocks_1h decode: missing {missing[:1]}, unexpected {extra[:1]}"]
    return []


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def stitch_rows(con, lo, hi):
    """DuckDB's per-conversation aggregation of turns in [lo, hi)."""
    rows = con.execute(f"""SELECT conv_id, {AGGS} FROM turns
      WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'
      GROUP BY conv_id ORDER BY conv_id""").fetchall()
    return [tuple(_norm(v) for v in r) for r in rows]


def _pick(read, names):
    idx = [read["columns"].index(c) for c in names]
    return sorted(tuple(_norm(r[i]) for i in idx) for r in read["rows"])


def check_reads(con, reads):
    """Every distinct serve read equals DuckDB over the raw turns: a
    stitch equals the direct aggregation of [from, to); a key lookup
    equals the 1h aggregation of that conversation."""
    errors = []
    for i, read in enumerate(reads):
        if read["kind"] == "key":
            sel = ", ".join("strftime(window_start, '%Y-%m-%dT%H:%M:%SZ')"
                            if c == "window_start" else c for c in TIER_COLS)
            want = sorted(tuple(_norm(v) for v in r) for r in con.execute(
                f"SELECT {sel} FROM ({tier_sql('rollup_1h')}) WHERE conv_id = ?",
                [read["key"]]).fetchall())
            if want != _pick(read, TIER_COLS):
                errors.append(f"read {i} (key {read['key']}): differs from DuckDB's 1h rows")
        else:
            want = stitch_rows(con, read["from"], read["to"])
            got = _pick(read, STITCH_COLS)
            if want != got:
                wk = {r[0] for r in want}
                gk = {r[0] for r in got}
                errors.append(
                    f"read {i} ({read['kind']} [{read['from']}, {read['to']})): "
                    f"{len(got)} rows vs {len(want)} from DuckDB; "
                    f"missing {sorted(wk - gk)[:3]}, unexpected {sorted(gk - wk)[:3]}")
    return errors


def expected_recompute(con, day):
    """Day partitions a catch-up run over arrivals up to `day` must
    recompute: the new day, the previously open day and every earlier
    day that late turns arriving on `day` fall into."""
    days = {r[0] for r in con.execute(
        "SELECT DISTINCT strftime(ts, '%Y-%m-%d') FROM turns_all WHERE arr = ?", [day]).fetchall()}
    prev = con.execute("SELECT strftime(DATE '2024-01-01' + ?::INTEGER - 1, '%Y-%m-%d')", [day]).fetchone()[0]
    return days | {prev}


def check_recomputed(con, input_dir, recomputed):
    con.execute(f"""CREATE OR REPLACE VIEW turns_all AS
      SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM read_parquet('{input_dir}/*.parquet')""")
    errors = []
    for rec in recomputed:
        want = expected_recompute(con, rec["day"])
        for tier, parts in rec.items():
            if tier != "day" and set(parts) != want:
                errors.append(f"day {rec['day']} {tier}: recomputed {sorted(parts)}, "
                              f"arrival schedule implies {sorted(want)}")
    return errors


def frames_equal(spark_df, duck_df):
    """The verify recipe's compare: same columns, rows sorted by every
    column, exactly equal values."""
    import pandas as pd
    cols = sorted(spark_df.columns)
    if cols != sorted(duck_df.columns) or len(spark_df) != len(duck_df):
        return f"columns {cols} / {sorted(duck_df.columns)}, rows {len(spark_df)} / {len(duck_df)}"
    sc = spark_df[cols].sort_values(by=cols).reset_index(drop=True)
    dc = duck_df[cols].sort_values(by=cols).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(sc, dc, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).split("\n")[0]
    return None


def check_queries(data_dir, q_dir, oracle):
    """Each query's output equals its oracleSql run by DuckDB."""
    import pandas as pd
    con = connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    errors = []
    for name, sql in sorted(oracle.items()):
        spark_df = pd.read_parquet(os.path.join(q_dir, name))
        duck_df = con.execute(sql).fetchdf()
        err = frames_equal(spark_df, duck_df)
        if err:
            errors.append(f"{name}: {err}")
    return errors


def check_components(labels):
    """A chain 0-1-...-60 is one component labelled 0."""
    want = [[i, 0] for i in range(61)]
    return [] if sorted(labels) == want else ["Dedup.components: chain not one component"]


def check_run(workload, out_dir, data_dir=None):
    """All checks of one run, from the files the JVM wrote."""
    res = json.load(open(os.path.join(out_dir, "result.json")))
    info = res["check"]
    chk = os.path.join(out_dir, "check")
    con = connect()
    errors = []
    if workload in ("backfill", "serve"):
        load_turns(con, info["input"])
    if workload == "backfill":
        tables = json.load(open(os.path.join(chk, "tables.json")))
        errors += check_tiers(con, tables)
        errors += check_decoded(con, os.path.join(chk, "decoded"))
    elif workload == "catchup":
        last = int(info["last_day"])
        load_turns(con, info["input"], f"arr <= {last}")
        tables = json.load(open(os.path.join(chk, "tables.json")))
        horizon = con.execute(
            "SELECT strftime(DATE '2024-01-01' + ?::INTEGER - 7, '%Y-%m-%d')", [last]).fetchone()[0]
        errors += check_tiers(con, tables, day_from={"rollup_1m": horizon})
        # blocks_1h keeps 3650 days, so every arrived turn comes back
        errors += check_decoded(con, os.path.join(chk, "decoded"))
        errors += check_recomputed(con, info["input"], info["recomputed"])
    elif workload == "serve":
        errors += check_reads(con, json.load(open(os.path.join(chk, "reads.json"))))
    elif workload == "query_mix":
        oracle = json.load(open(os.path.join(chk, "oracle_sql.json")))
        errors += check_queries(data_dir, os.path.join(chk, "q"), oracle)
        if "components" in info:
            errors += check_components(info["components"])
    return errors
