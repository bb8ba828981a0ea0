"""Seeded input generation for the benchmark workloads.

Every table mirrors the schema and value conventions of the engine's
synthetic test tables, because the registry rows and their DuckDB oracles
rely on them for bit-exact comparison:

- events: time-ordered microsecond timestamps spanning January 2024 (the
  registry rows filter on fixed day offsets from 2024-01-01), five
  equally likely event types, `value` with two decimals (so value*100 is
  integral and its sums are exact), `props` as a small JSON object.
  Timestamps are strictly increasing, so as-of joins have no ties.
- lineitem: TPC-H-like columns with integral quantities and line numbers.
- documents: 10-100 tokens drawn from a 30-word vocabulary; about 5% of
  documents are a copy of an original document plus a trailing "dup"
  token (the near-duplicates the dedup operators find), and a few of
  those are repeated verbatim (exact duplicates).

The same (table, size, seed) always gives byte-identical rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VOCAB = np.array(
    "the a spark join stream small order merge column group customer part "
    "value window big scan table vector row filter sort hash batch agg "
    "fast slow line data query key".split())
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])


def events(n, rng):
    n_users = max(150, n // 66)
    ts = T0_US + np.sort(rng.choice(SPAN_US, size=n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(n, rng):
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n), 2)
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(n // 4, 1), n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"),
                               type=pa.timestamp("us")),
    })


def documents(n, rng):
    lengths = rng.integers(10, 101, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # near-duplicates: an original document plus a trailing "dup" token,
    # and a few verbatim repeats of those (exact duplicates). Copies come
    # from originals only, so every duplicate cluster is a star of depth
    # one and the label rounds do not depend on the seed.
    dup = rng.random(n)
    originals = np.flatnonzero(dup >= 0.052)
    near = np.flatnonzero(dup < 0.05)
    for i in near:
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    for i in np.flatnonzero((dup >= 0.05) & (dup < 0.052)):
        texts[i] = texts[near[rng.integers(0, len(near))]]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


TABLES = {"events": events, "lineitem": lineitem, "documents": documents}


def generate(out_dir, sizes, seed):
    """Write one parquet file per table in `sizes` ({table: rows}) into
    `out_dir`. Each table draws from its own stream of `seed`, so a table's
    rows do not depend on which other tables are generated."""
    os.makedirs(out_dir, exist_ok=True)
    for name, n in sizes.items():
        rng = np.random.default_rng([seed, list(TABLES).index(name)])
        pq.write_table(TABLES[name](n, rng), os.path.join(out_dir, f"{name}.parquet"))
