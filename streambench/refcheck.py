"""Inputs and oracle check for the benchmark's reference keys.

`write_events` makes the `events` table the reference keys read, from the
run's seed, shaped like the repository's fixture table (one parquet file,
one row group, microsecond timestamps). `check` compares each key's Spark
output, written as parquet, against its DuckDB oracle SQL: columns sorted by
name, rows sorted by value, every cell equal (doubles bit for bit).
"""
import json
import math
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
SPAN_US = 30 * 86400 * 1_000_000


def write_events(path, seed, n):
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(START_US, START_US + SPAN_US, n))
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, row_group_size=n)


def _canon(rows):
    def key(row):
        return tuple((v is None, str(type(v)), str(v)) for v in row)
    return sorted((tuple(r) for r in rows), key=key)


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if not (isinstance(a, float) and isinstance(b, float)):
            return False
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


def compare_key(con, sql, out_dir):
    """'OK' or the reason the key's output differs from its oracle."""
    try:
        tbl = pads.dataset(str(out_dir)).to_table()
    except Exception as e:  # missing or unreadable output
        return f"SPARK-READ-FAIL {e}"
    cols = sorted(tbl.column_names)
    got = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
    try:
        cur = con.execute(sql)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
    except Exception as e:
        return f"DUCK-FAIL {e}"
    if sorted(dcols) != cols:
        return f"COLS spark={cols} duck={sorted(dcols)}"
    idx = [dcols.index(c) for c in cols]
    want = [tuple(r[i] for i in idx) for r in drows]
    if len(want) != len(got):
        return f"ROWS spark={len(got)} duck={len(want)}"
    for i, (g, w) in enumerate(zip(_canon(got), _canon(want))):
        for c, x, y in zip(cols, g, w):
            if not _same(x, y):
                return f"VALUE row {i} {c}: spark={x!r} duck={y!r}"
    return "OK"


def check(tables_dir, ref_dir):
    """Every key named in `ref_dir/oracle_sql.json`: key -> status."""
    oracle = json.loads((Path(ref_dir) / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tables_dir}/events.parquet'")
    try:
        return {k: compare_key(con, sql, Path(ref_dir) / k)
                for k, sql in sorted(oracle.items())}
    finally:
        con.close()
