#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tool only; the
shipped library is pure Scala). Run graft.Verify first, then this script:

    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_verify"
    python3 tools/check.py /root/testdata/sf0.01 /tmp/graft_verify [keys...]

Compares each Spark parquet result against DuckDB running the registered
oracle SQL over the same tables: column set, schema, row count, and exact
values (row order respected, columns sorted by name)."""
import sys, json, glob, math
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    ok, fail = [], []
    for k in sorted(oracle):
        if only and k not in only:
            continue
        try:
            files = glob.glob(f"{out}/{k}/*.parquet")
            assert files, "no spark output"
            sdf = pq.read_table(files[0]).to_pandas()
        except Exception as e:
            fail.append((k, f"spark output unreadable: {e}")); continue
        try:
            with connect(sf, out) as con:
                ddf = con.sql(oracle[k]).df()
        except Exception as e:
            fail.append((k, f"duckdb error: {e}")); continue
        if sorted(sdf.columns) != sorted(ddf.columns):
            fail.append((k, f"columns differ: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")); continue
        if len(sdf) != len(ddf):
            fail.append((k, f"row count differs: spark={len(sdf)} duck={len(ddf)}")); continue
        sdf = sdf[sorted(sdf.columns)].reset_index(drop=True)
        ddf = ddf[sorted(ddf.columns)].reset_index(drop=True)
        bad = None
        # dtype gate: duckdb returns HUGEINT sums that pandas widens to
        # float64 while Spark emits int64 — equal values, different driver
        # hash. Catch int-vs-float kind mismatches locally (fix: wrap the
        # oracle sum in CAST(... AS BIGINT)).
        for c in sdf.columns:
            sk, dk = sdf[c].dtype.kind, ddf[c].dtype.kind
            if sk != dk and {sk, dk} & {"i", "u"} and "f" in (sk, dk):
                bad = (f"col {c} dtype kind differs: spark={sdf[c].dtype} "
                       f"duck={ddf[c].dtype} (un-cast HUGEINT sum? "
                       f"use CAST(... AS BIGINT))")
                break
            # a Spark DECIMAL column lands as object (java BigDecimal) while
            # the oracle is float64 — equal values, but the driver hashes
            # them differently. Spark SQL literals like `8.0` are DECIMAL;
            # divide by CAST(8 AS DOUBLE) / 8.0D instead.
            if sk != dk and "O" in (sk, dk) and {sk, dk} & {"f", "i", "u"}:
                bad = (f"col {c} dtype kind differs: spark={sdf[c].dtype} "
                       f"duck={ddf[c].dtype} (DECIMAL leaking to the "
                       f"boundary? cast to DOUBLE/BIGINT in both SQLs)")
                break
        if bad:
            fail.append((k, bad)); continue
        for c in sdf.columns:
            sv, dv = sdf[c], ddf[c]
            for i in range(len(sv)):
                a, b = sv.iloc[i], dv.iloc[i]
                if not eq(a, b):
                    bad = f"col {c} row {i}: spark={a!r} duck={b!r}"
                    break
            if bad:
                break
        if bad:
            fail.append((k, bad))
        else:
            ok.append(k)
    print(f"PASS {len(ok)}: {' '.join(ok)}")
    if fail:
        print(f"FAIL {len(fail)}:")
        for k, why in fail:
            print(f"  {k}: {why}")
        sys.exit(1)

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
