#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tool only; the
shipped library is pure Scala). Run graft.Verify first, then this script:

    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_verify"
    python3 tools/check.py /root/testdata/sf0.01 /tmp/graft_verify [keys...]

Compares each Spark parquet result against DuckDB running the registered
oracle SQL over the same tables: column set, schema, row count, and exact
values (row order respected, columns sorted by name). Prints `PASS n: keys`,
then `FAIL n:` and one `  <key>: <why>` line per failed key; exits 1 on any
failure. The same compare serves every key at every scale (`tools/gate.sh`
runs it at sf1 and sf10): each column is compared whole, and only columns
of nested values (arrays, maps, structs) go element by element.

Every `graph_*` oracle embeds the same grouped 4-table join as its `pairs`
CTE. It is staged once per key as the temp table `pair_w`, and the embedded
CTE is stubbed to read it (see `stub_pairs`): that changes HOW the oracle
is evaluated, never WHAT it computes."""
import sys, json, glob, math
import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# The `pairs` CTE every graph oracle embeds, staged once per key. DuckDB
# 1.0.0's optimizer stalls (>180 s, tens of GB) whenever a DISTINCT or
# filter layer sits directly over this grouped join in one statement, and
# at sf0.01 `graph_core_decompose` runs out of memory on it. Materialized,
# it is 625 rows at any scale, and every oracle variant built on it (`ed`,
# weighted `wedges`, self-joins) runs over those rows.
PAIRS_SQL = """SELECT CAST(c_nationkey AS BIGINT) AS a,
         CAST(s_nationkey AS BIGINT) AS b, count(*) AS w
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2"""
PAIRS_OPEN = "pairs AS ("


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    ok, fail = [], []
    for k in sorted(oracle):
        if only and k not in only:
            continue
        why = check(sf, out, k, oracle[k])
        if why:
            fail.append((k, why))
        else:
            ok.append(k)
    print(f"PASS {len(ok)}: {' '.join(ok)}")
    if fail:
        print(f"FAIL {len(fail)}:")
        for k, why in fail:
            print(f"  {k}: {why}")
        sys.exit(1)


def check(sf, out, k, sql):
    """None when key `k`'s Spark output matches its oracle, else why not."""
    files = glob.glob(f"{out}/{k}/*.parquet")
    if not files:
        return "spark output unreadable: no spark output"
    # pagerank's directed edges and triangles' basket graph embed no `pairs`
    staged = k.startswith("graph_") and PAIRS_OPEN in sql
    if staged:
        sql = stub_pairs(sql)
        if sql is None:
            return (f"pairs-CTE stub did not match: the text from "
                    f"`{PAIRS_OPEN}` to `GROUP BY 1, 2)` is not the staged join")
    try:
        sdf = pq.read_table(files[0]).to_pandas()
    except Exception as e:
        return f"spark output unreadable: {e}"
    try:
        with connect(sf, out) as con:
            if staged:
                con.execute(f"CREATE TEMP TABLE pair_w AS {PAIRS_SQL}")
            ddf = con.sql(sql).df()
    except Exception as e:
        return f"duckdb error: {e}"
    return frame_diff(sdf, ddf)


def frame_diff(sdf, ddf):
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"columns differ: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"row count differs: spark={len(sdf)} duck={len(ddf)}"
    sdf = sdf[sorted(sdf.columns)].reset_index(drop=True)
    ddf = ddf[sorted(ddf.columns)].reset_index(drop=True)
    # dtype gate: duckdb returns HUGEINT sums that pandas widens to
    # float64 while Spark emits int64 — equal values, different t2-gate
    # hash. Catch int-vs-float kind mismatches locally (fix: wrap the
    # oracle sum in CAST(... AS BIGINT)).
    for c in sdf.columns:
        sk, dk = sdf[c].dtype.kind, ddf[c].dtype.kind
        if sk != dk and {sk, dk} & {"i", "u"} and "f" in (sk, dk):
            return (f"col {c} dtype kind differs: spark={sdf[c].dtype} "
                    f"duck={ddf[c].dtype} (un-cast HUGEINT sum? "
                    f"use CAST(... AS BIGINT))")
        # a Spark DECIMAL column lands as object (java BigDecimal) while
        # the oracle is float64 — equal values, but the t2 gate hashes
        # them differently. Spark SQL literals like `8.0` are DECIMAL;
        # divide by CAST(8 AS DOUBLE) / 8.0D instead.
        if sk != dk and "O" in (sk, dk) and {sk, dk} & {"f", "i", "u"}:
            return (f"col {c} dtype kind differs: spark={sdf[c].dtype} "
                    f"duck={ddf[c].dtype} (DECIMAL leaking to the "
                    f"boundary? cast to DOUBLE/BIGINT in both SQLs)")
    for c in sdf.columns:
        a, b = sdf[c].to_numpy(), ddf[c].to_numpy()
        same = column_eq(a, b)
        if not same.all():
            i = int(np.argmin(same))
            return f"col {c} row {i}: spark={a[i]!r} duck={b[i]!r}"
    return None


def column_eq(a, b):
    """Per-row equality of two columns, a null on both sides counting as
    equal: one vectorized compare for scalars, `eq` per element for nested
    values. Exact for floats: the driver hash-compares."""
    if not any(nested(x) for x in (first_valid(a), first_valid(b))):
        try:
            same = a == b
        except (TypeError, ValueError):  # e.g. tz-aware against naive times
            same = None
        # numpy answers a scalar when it cannot compare element-wise
        if isinstance(same, np.ndarray):
            return same.astype(bool) | (pd.isna(a) & pd.isna(b))
    return np.fromiter(map(eq, a, b), bool, len(a))


def first_valid(col):
    """The first non-null value of a column, or None. Parquet and DuckDB
    columns hold one type, so it tells whether the column is nested."""
    i = pd.Series(col).first_valid_index()
    return None if i is None else col[i]


def nested(x):
    return isinstance(x, (list, tuple, dict, np.ndarray))


def stub_pairs(sql):
    """`sql` with its embedded `pairs` CTE body replaced by a read of the
    staged `pair_w`. The body runs from `pairs AS (` to the next
    `GROUP BY 1, 2)` and must be PAIRS_SQL, whitespace aside; None when it
    is not: the oracle would then be checked against a different join, and
    the unstubbed oracle is the query that runs out of memory."""
    start = sql.find(PAIRS_OPEN)
    body = start + len(PAIRS_OPEN)
    end = sql.find("GROUP BY 1, 2)", body)
    if end < 0:
        return None
    end += len("GROUP BY 1, 2")
    if sql[body:end].split() != PAIRS_SQL.split():
        return None
    return sql[:start] + "pairs AS (SELECT a, b, w FROM pair_w" + sql[end:]


def connect(sf, out):
    """A fresh DuckDB connection per oracle, so one oracle's memory is
    released before the next runs. It spills under the output dir, not to
    DuckDB's default `.tmp` in the working directory."""
    con = duckdb.connect(config={"temp_directory": f"{out}/duckdb_tmp"})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def eq(a, b):
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        an = a is None or (isinstance(a, float) and math.isnan(a))
        bn = b is None or (isinstance(b, float) and math.isnan(b))
        return an == bn
    if isinstance(a, (list, tuple)) or type(a).__name__ == "ndarray":
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(eq(x, y) for x, y in zip(la, lb))
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return fa == fb  # exact: the driver hash-compares
    try:
        return a == b
    except Exception:
        return str(a) == str(b)


if __name__ == "__main__":
    main()
