"""Output gate: checks each step's dumped output against a DuckDB oracle
run on the same seeded inputs.

- Registry rows with linear-cost oracle SQL are compared exactly: same
  columns, same dtypes, same rows (as sorted multisets), equal values.
- Rows whose oracle SQL is quadratic (all-pairs Jaccard joins, closed-form
  EMA self-joins) use the linear invariant checks of
  scripts/scale_oracles.py instead.
- The keyless as-of merge step is checked against DuckDB's ASOF JOIN.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import scale_oracles  # noqa: E402

INVARIANT = {"pipeline_e2e", "dedup_against_index", "dedup_minhash_lsh",
             "ema_rows_es_current_core"}

# Backward as-of join without a key, tolerance 1h inclusive (the engine's
# event times are microseconds carried as nanoseconds).
KEYLESS_SQL = """
WITH ev AS (
  SELECT epoch_ns(ts) AS time, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS value100 FROM events),
l AS (SELECT time, event_id FROM ev WHERE event_type = 'click'),
r AS (SELECT time AS r_time, event_id AS r_id, value100 AS r_v FROM ev
      WHERE event_type = 'purchase')
SELECT l.time, l.event_id,
       CASE WHEN l.time - r.r_time <= 3600000000000 THEN r.r_id END AS p_event_id,
       CASE WHEN l.time - r.r_time <= 3600000000000 THEN r.r_v END AS p_value100
FROM l ASOF LEFT JOIN r ON l.time >= r.r_time
"""


def read_dump(dump_dir, name):
    files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def compare(got, exp):
    """None when `got` and `exp` hold the same rows, else the first
    difference."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns differ: got {list(got.columns)} expected {list(exp.columns)}"
    if len(got) != len(exp):
        return f"row count differs: got {len(got)} expected {len(exp)}"
    keys = sorted(got.columns, key=lambda c: (got[c].dtype.kind == "f", c))
    g = got.sort_values(keys).reset_index(drop=True)
    e = exp.sort_values(keys).reset_index(drop=True)
    for c in g.columns:
        if g[c].dtype != e[c].dtype:
            return f"dtype differs on {c}: {g[c].dtype} vs {e[c].dtype}"
        neq = ~((g[c].isna() & e[c].isna()) | (g[c] == e[c]))
        if neq.any():
            i = neq.idxmax()
            return (f"column {c}: {int(neq.sum())}/{len(g)} differ; first at row "
                    f"{i}: got {g[c][i]!r} expected {e[c][i]!r}")
    return None


def check(names, oracle_sql, data_dir, dump_dir):
    """Returns {name: None on pass, else the reason it failed}."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(dump_dir, '.duckdb_tmp')}'")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        table = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in names:
        try:
            if name in INVARIANT:
                out[name] = scale_oracles.run(name, con, dump_dir, data_dir)
                continue
            got = read_dump(dump_dir, name)
            if got is None:
                out[name] = "no output dump"
                continue
            sql = KEYLESS_SQL if name == "keyless_asof_merge" else oracle_sql.get(name)
            if sql is None:
                out[name] = "no oracle"
                continue
            out[name] = compare(got, con.execute(sql).fetchdf())
        except Exception as e:  # an oracle error is a failed check, not a crash
            out[name] = f"check error: {type(e).__name__}: {e}"
    con.close()
    return out
