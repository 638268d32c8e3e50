#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Usage: python3 tools/check.py [sf_dir] [verify_out_dir]

Checks every expected key — the keys of oracle_sql.json and
bounded_oracles.json that `graft.Verify` writes beside its dumps — and
nothing else, so a stray subdirectory (a plan dump, say) is ignored. For
each key it reads the parquet result dumped under `<verify_out_dir>/<key>`,
runs the matching oracle SQL in DuckDB over the same fixture tables,
canonicalizes both sides (columns sorted by name, rows sorted by all
columns), and compares values exactly; bounded keys are compared within
their documented bound. An expected key with no result directory is a
FAIL (MISSING). Exit 0 iff all expected keys match.
"""
import json
import math
import sys
from pathlib import Path

import duckdb
import pyarrow.dataset as pads

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    def key(row):
        return tuple((v is None, str(type(v)), str(v)) for v in row)
    return sorted((tuple(r) for r in rows), key=key)


def cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, float) and isinstance(b, float):
            if math.isnan(a) and math.isnan(b):
                return True
            return a == b  # exact: the engine is designed for bit-parity
        return False
    return a == b


def check_bounded(con, spec, spark_cols, spark_rows):
    """Bounded-error gate for spec-approximate sketches (HLL, GK): every
    numeric cell must land within rtol of the exact-SQL twin's value;
    non-numeric cells must match exactly."""
    import decimal
    rtol = spec["rtol"]
    try:
        duck = con.execute(spec["sql"])
        duck_cols_raw = [d[0] for d in duck.description]
        duck_rows_raw = duck.fetchall()
    except Exception as e:
        return f"DUCK-FAIL {e}"
    duck_cols = sorted(duck_cols_raw)
    if duck_cols != spark_cols:
        return f"COLS spark={spark_cols} duck={duck_cols}"
    # a typo'd key / exact_cols entry must fail THIS query, not abort
    # the whole gate with a ValueError traceback
    missing = [k for k in list(spec["keys"]) + list(spec.get("exact_cols", []))
               if k not in duck_cols]
    if missing:
        return f"BOUND-BADSPEC columns not in output: {missing}"
    idx = [duck_cols_raw.index(c) for c in duck_cols]
    duck_rows = [tuple(r[i] for i in idx) for r in duck_rows_raw]
    if len(duck_rows) != len(spark_rows):
        return f"ROWS spark={len(spark_rows)} duck={len(duck_rows)}"

    def num(v):
        return (float(v)
                if isinstance(v, (int, float, decimal.Decimal))
                and not isinstance(v, bool) else None)

    # align rows by their EXACT key columns — approximate cells must not
    # participate in row ordering (engines estimate differently)
    key_idx = [duck_cols.index(k) for k in spec["keys"]]
    # exact-aggregate control columns must NOT inherit the sketch's slack
    exact_cols = set(spec.get("exact_cols", []))

    def by_key(rows):
        return sorted(rows, key=lambda r: tuple(str(r[i]) for i in key_idx))

    # the zip-by-sorted-key alignment below assumes key tuples are unique;
    # duplicates would silently compare misaligned rows and masquerade as
    # BOUND-VALUE/BOUND-EXCEEDED — that's a spec error, name it as one
    for side, rows in (("spark", spark_rows), ("duck", duck_rows)):
        keys = [tuple(str(r[i]) for i in key_idx) for r in rows]
        if len(keys) != len(set(keys)):
            return (f"BOUND-BADSPEC duplicate key tuples on {side} side: "
                    f"keys {spec['keys']} do not uniquely identify rows")

    max_rel = 0.0
    for sr, dr in zip(by_key(spark_rows), by_key(duck_rows)):
        for c, a, b in zip(duck_cols, sr, dr):
            fa, fb = num(a), num(b)
            if fa is None or fb is None:
                if a != b:
                    return f"BOUND-VALUE {c}: {a!r} != {b!r}"
                continue
            if c in exact_cols:
                if fa != fb:
                    return f"BOUND-EXACTCOL {c}: spark={fa} != exact={fb}"
                continue
            rel = abs(fa - fb) / max(abs(fb), 1.0)
            max_rel = max(max_rel, rel)
            if rel > rtol:
                return (f"BOUND-EXCEEDED {c}: spark={fa} exact={fb} "
                        f"rel={rel:.4f} > rtol={rtol}")
    return (f"BOUNDED-OK rows={len(spark_rows)} "
            f"maxrel={max_rel:.4f} rtol={rtol}")


def run(sf_dir, out_dir):
    """{key: status} for every expected key of the Verify run in
    `out_dir`, checked against the fixture tables in `sf_dir`."""
    out_dir = Path(out_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    bounded_path = out_dir / "bounded_oracles.json"
    bounded = (json.loads(bounded_path.read_text())
               if bounded_path.exists() else {})
    results = {}
    for name in sorted(set(oracle) | set(bounded)):
        qdir = out_dir / name
        if not qdir.is_dir():
            results[name] = "MISSING no result directory"
            continue
        try:
            tbl = pads.dataset(str(qdir)).to_table()
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL {e}"
            continue
        spark_cols = sorted(tbl.column_names)
        spark_rows = [tuple(row[c] for c in spark_cols)
                      for row in tbl.to_pylist()]
        if name not in oracle:
            # spec-approximate sketch: compare every numeric cell
            # against the EXACT twin within the documented bound
            results[name] = check_bounded(
                con, bounded[name], spark_cols, spark_rows)
            continue
        try:
            duck = con.execute(oracle[name])
            duck_cols_raw = [d[0] for d in duck.description]
            duck_rows_raw = duck.fetchall()
        except Exception as e:
            results[name] = f"DUCK-FAIL {e}"
            continue
        duck_cols = sorted(duck_cols_raw)
        if duck_cols != spark_cols:
            results[name] = f"COLS spark={spark_cols} duck={duck_cols}"
            continue
        idx = [duck_cols_raw.index(c) for c in duck_cols]
        duck_rows = [tuple(r[i] for i in idx) for r in duck_rows_raw]
        if len(duck_rows) != len(spark_rows):
            results[name] = (f"ROWS spark={len(spark_rows)} "
                             f"duck={len(duck_rows)}")
            continue
        s, d = canon(spark_rows), canon(duck_rows)
        bad = None
        for i, (sr, dr) in enumerate(zip(s, d)):
            if not all(cell_eq(a, b) for a, b in zip(sr, dr)):
                bad = (i, sr, dr)
                break
        if bad:
            i, sr, dr = bad
            detail = "; ".join(
                f"{c}: {a!r} != {b!r}"
                for c, a, b in zip(duck_cols, sr, dr)
                if not cell_eq(a, b))
            results[name] = f"VALUE row{i} {detail[:300]}"
        else:
            results[name] = f"OK rows={len(spark_rows)}"
    return results


def main(argv):
    """Print the per-key report and summary; return the exit code."""
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    out_dir = argv[1] if len(argv) > 1 else "/tmp/vout"
    results = run(sf_dir, out_dir)
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    n_bounded = sum(1 for v in results.values()
                    if v.startswith("BOUNDED-OK"))
    for k in sorted(results):
        v = results[k]
        mark = "✓" if v.startswith(("OK", "BOUNDED-OK")) else "✗"
        print(f"{mark} {k}: {v}")
    n_fail = len(results) - n_ok - n_bounded
    print(f"\n{n_ok} OK, {n_bounded} bounded-ok, "
          f"{n_fail} FAIL of {len(results)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
