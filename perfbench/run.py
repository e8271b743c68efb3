#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ops-sf1 --seed 1 --seconds 8 --trace 0

The first run in a checkout builds the library and the harness with sbt and
prepares the data under `.perfbench/`; later runs reuse both while the
sources are unchanged, and launch the JVM directly. Each run gets fresh
temp, warehouse, stage and checkpoint directories and deletes them at the
end. The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). A traced run also writes its full
record to `.perfbench/traces/<workload>.json`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench"
# the project's reference tables (see TESTDATA.md), read only
REFERENCE = Path.home() / "testdata" / "sf0.1"
# the project's own tools: the sf1 generator and the oracle comparison
GEN_SF = ROOT / "tools" / "gen_sf.py"
CHECK = ROOT / "tools" / "check.py"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Registry keys per operator workload; README.md gives the reason for each.
OPS_SF1 = [
    "sql_tpch_q6", "sql_tpch_q12", "sort_multi", "agg_lorenz",
    "privacy_tcloseness", "agg_sign_test", "text_entropy", "dq_expectations",
]
WORKLOADS = {
    "ops-sf1": {"kind": "ops", "data": "sf1", "keys": OPS_SF1},
    "ingest": {"kind": "ingest"},
}

RUN_BUDGET_S = 160       # JVM attempts and checks of one run, at most
BUILD_TIMEOUT_S = 800
DATA_TIMEOUT_S = 300     # sf1 generation, at most
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
OPTIMIZE_SKIPPED = "[ingest] optimize skipped"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, log, **kw):
    """Runs `cmd` in a process group of its own with output to `log`; on
    timeout, or when this process is interrupted, kills the whole group.
    Waits for it either way and returns the exit code, or None on
    timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True,
                             **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def duckdb_in(base):
    """A DuckDB connection whose memory is bounded and whose spill stays
    bounded inside `base`."""
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    con.sql("SET threads TO 4")
    con.sql("SET memory_limit = '2GB'")
    con.sql(f"SET temp_directory = '{base / 'duckdb'}'")
    con.sql("SET max_temp_directory_size = '2GB'")
    return con


# ---------------------------------------------------------------- build


def source_files():
    """Every file the build reads from this checkout."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "project/*.scala", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(str(ROOT / p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Classpath of the harness, compiling only when a source changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main").is_dir():
        fail(f"no library sources at {ROOT} (build.sbt, src/main)")
    for tool in (GEN_SF, CHECK):
        if not tool.is_file():
            fail(f"missing {tool.relative_to(ROOT)}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(Path(f).read_bytes())
    digest = h.hexdigest()
    stamp = WORK / "build.json"
    if stamp.is_file():
        b = json.loads(stamp.read_text())
        if b.get("digest") == digest:
            return b["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = Path.home() / ".sbt" / "repositories"
        opts = ["-Xmx2g", "-Dsbt.offline=true"]
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt", file=sys.stderr)
    WORK.mkdir(exist_ok=True)
    log = WORK / "build.log"
    code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                      "export Runtime/fullClasspath"],
                     BUILD_TIMEOUT_S, log, cwd=BENCH, env=env)
    lines = log.read_text(errors="replace").strip().splitlines()
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    stamp.write_text(json.dumps({"digest": digest, "classpath": lines[-1]}))
    return lines[-1]


# ----------------------------------------------------------------- data


def prepare_data(name):
    """The table directory of a workload: a copy of the reference sf0.1
    tables, or sf1 built from them by `tools/gen_sf.py --rep 10`. Built
    once per checkout."""
    out = WORK / "data" / name
    done = out / "_DONE"
    if done.is_file():
        return out
    for t in TABLES:
        if not (REFERENCE / f"{t}.parquet").is_file():
            fail(f"reference table missing: {REFERENCE}/{t}.parquet")
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    if name == "sf0.1":
        for t in TABLES:
            shutil.copyfile(REFERENCE / f"{t}.parquet", out / f"{t}.parquet")
    else:
        log = out.parent / f"{name}.log"
        code = run_child([sys.executable, str(GEN_SF), "--src", str(REFERENCE),
                          "--out", str(out), "--rep", "10"],
                         DATA_TIMEOUT_S, log, cwd=ROOT)
        if code != 0:
            sys.stderr.write(log.read_text(errors="replace")[-4000:])
            fail(f"tools/gen_sf.py failed for {name}")
    done.write_text("ok\n")
    return out


# Landing batches of the ingest workload, cut from the sf0.1 copy by seed.
APPENDS, APPEND_ROWS = 3, 2000
MERGES, MERGE_ROWS, MERGE_STEP = 3, 4000, 3000
STREAM_ROWS = 3000
OVERWRITE_ROWS = 80000
GATED_ROWS = 5000


def cut_landing(data, landing, seed):
    """Writes the ingest landing batches and returns {batch: SQL of rows}.

    events rows are ranked by a seeded hash and dealt out in disjoint runs
    to the appends, the two stream drains, the overwrite and the gated
    append. orders rows are ranked the same way; merge batch j takes ranks
    [j*MERGE_STEP, j*MERGE_STEP + MERGE_ROWS), so consecutive batches share
    keys, with o_totalprice moved by j + 1 and one row in ten a tombstone
    (op = 'D')."""
    con = duckdb_in(landing.parent)
    con.sql(f"""CREATE TABLE ev AS SELECT *, row_number() OVER
                (ORDER BY hash(event_id, {seed}), event_id) - 1 AS rk
                FROM '{data}/events.parquet'""")
    con.sql(f"""CREATE TABLE od AS SELECT *, row_number() OVER
                (ORDER BY hash(o_orderkey, {seed}), o_orderkey) - 1 AS rk
                FROM '{data}/orders.parquet'""")
    batches = {}
    at = 0

    def events(name, n):
        nonlocal at
        batches[name] = (f"SELECT * EXCLUDE (rk) FROM ev "
                         f"WHERE rk >= {at} AND rk < {at + n}")
        at += n

    for i in range(APPENDS):
        events(f"append_{i}", APPEND_ROWS)
    for i in range(2):
        events(f"stream_{i}", STREAM_ROWS)
    events("overwrite", OVERWRITE_ROWS)
    events("gated", GATED_ROWS)
    for j in range(MERGES):
        lo = j * MERGE_STEP
        batches[f"merge_{j}"] = f"""
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + {j + 1} AS o_totalprice,
                   o_orderdate, o_orderpriority,
                   CASE WHEN hash(o_orderkey, {seed}, {j}) % 10 = 0
                        THEN 'D' ELSE 'U' END AS op
            FROM od WHERE rk >= {lo} AND rk < {lo + MERGE_ROWS}
            ORDER BY o_orderkey"""
    for name, sql in batches.items():
        (landing / name).mkdir(parents=True)
        # file names are unique across batches: the stream source skips a
        # name it has already seen
        con.sql(f"COPY ({sql}) TO '{landing}/{name}/part-{name}.parquet' "
                "(FORMAT PARQUET)")
    return con, batches


# ------------------------------------------------------------------ run


def launch(spec, data, landing, run, seconds, trace, attempt, timeout):
    """One JVM: setup, cold pass, check pass, warm passes. Returns the
    parsed result and the JVM's log text."""
    jvm = run / "jvm"
    shutil.rmtree(jvm, ignore_errors=True)
    (jvm / "tmp").mkdir(parents=True)
    out = jvm / "result.json"
    log = jvm / "log.txt"
    args = {
        "workload": spec["kind"], "data": data,
        "keys": ",".join(spec.get("keys", [])), "landing": landing,
        "run": jvm, "out": out, "seconds": seconds, "trace": trace,
        "attempt": attempt}
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={jvm / 'tmp'}", "-cp", spec["classpath"],
            "perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    now = time.time()
    # the JVM starts no pass it expects to end after the deadline; the
    # margin covers stopping Spark and the JVM
    cmd += [f"launch_ms={int(now * 1000)}",
            f"deadline_ms={int((now + timeout - 10) * 1000)}"]
    code = run_child(cmd, timeout, log, cwd=jvm)
    text = log.read_text(errors="replace")
    if code != 0 or not out.is_file():
        sys.stderr.write("\n".join(
            l for l in text.splitlines()[-60:] if "\tat " not in l) + "\n")
        fail(f"JVM exited with {code}" if code is not None
             else f"JVM timed out after {timeout:.0f} s")
    return json.loads(out.read_text()), text


def med(xs):
    return statistics.median(xs) if xs else 0.0


def summarise(res, spec, source_rows):
    """End-to-end and per-layer metrics from one JVM's raw record."""
    passes = res["passes"]
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "warm" and not p["rerun"]]

    def per_pass(f):
        return med([f(p) for p in warm])

    def ops_sum(p, layer):
        return sum(o["layers"].get(layer, 0.0) for o in p["ops"])

    def wall_of(p, kind):
        return sum(o["wall_s"] for o in p["ops"] if o["kind"] == kind)

    ingest = spec["kind"] == "ingest"
    end_to_end = {
        "setup_s": (res["setup_s"], "s"),
        "cold_s": (cold["wall_s"], "s"),
        "warm_s": (per_pass(lambda p: p["wall_s"]), "s"),
        "task_cpu_s": (per_pass(lambda p: p["task_cpu_s"]), "s"),
    }
    layer = {
        "operators.build_s": (per_pass(lambda p: ops_sum(p, "build_s")), "s"),
        "operators.build_jobs":
            (per_pass(lambda p: ops_sum(p, "build_jobs")), "count"),
        "plan.plan_s": (per_pass(lambda p: ops_sum(p, "plan_s")), "s"),
        "plan.exchanges": (per_pass(lambda p: ops_sum(p, "exchanges")), "count"),
        "plan.scans": (per_pass(lambda p: ops_sum(p, "scans")), "count"),
        "exec.jobs": (per_pass(lambda p: p["jobs"]), "count"),
        "exec.stages": (per_pass(lambda p: p["stages"]), "count"),
        "exec.tasks": (per_pass(lambda p: p["tasks"]), "count"),
        "exec.task_run_s": (per_pass(lambda p: p["task_run_s"]), "s"),
        "exec.idle_core_s": (per_pass(lambda p: p["idle_core_s"]), "s"),
        "exec.skew": (per_pass(lambda p: p["skew"]), "ratio"),
        "scan.records": (per_pass(lambda p: p["scan_records"]), "count"),
        "shuffle.write_records":
            (per_pass(lambda p: p["shuffle_write_records"]), "count"),
        "shuffle.read_records":
            (per_pass(lambda p: p["shuffle_read_records"]), "count"),
        "shuffle.write_bytes":
            (per_pass(lambda p: p["shuffle_write_bytes"]), "B"),
        "shuffle.spill_bytes": (per_pass(lambda p: p["spill_bytes"]), "B"),
        "mats.cached_blocks":
            (per_pass(lambda p: ops_sum(p, "cached_blocks")), "count"),
        "mats.cached_bytes":
            (per_pass(lambda p: ops_sum(p, "cached_bytes")), "B"),
        "mats.release_s": (per_pass(lambda p: ops_sum(p, "release_s")), "s"),
    }
    for kind in ("append", "merge", "stream", "overwrite", "gate"):
        layer[f"pipeline.{kind}_s"] = (
            per_pass(lambda p, k=kind: wall_of(p, k)), "s")
    layer.update({
        "pipeline.idle_s": (per_pass(lambda p: ops_sum(p, "idle_s"))
                            if ingest else 0.0, "s"),
        "pipeline.rows_written": (per_pass(lambda p: p["records_written"])
                                  if ingest else 0.0, "count"),
        "pipeline.rewrite_ratio":
            (per_pass(lambda p: p["records_written"]) / source_rows
             if ingest else 0.0, "ratio"),
        "pipeline.files_per_table":
            (per_pass(lambda p: p["facts"].get("files_per_table", 0.0)),
             "count"),
        "jvm.jit_s": (res["jit_s"], "s"),
        "jvm.gc_s": (per_pass(lambda p: p["gc_s"]), "s"),
        "jvm.driver_cpu_s": (per_pass(lambda p: p["driver_cpu_s"]), "s"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "host.steal_s": (sum(p["steal_s"] for p in passes), "s"),
    })
    return end_to_end, layer


COUNTS = ["jobs", "stages", "tasks", "scan_records",
          "shuffle_write_records", "shuffle_read_records"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind: run_child kills the JVM and the run dir is deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.monotonic()
    spec = dict(WORKLOADS[a.workload])
    spec["classpath"] = build()
    data = prepare_data(spec.get("data", "sf0.1"))
    run = WORK / "runs" / f"{os.getpid()}-{time.time_ns()}"
    run.mkdir(parents=True)
    try:
        landing, source_rows, con, batches = None, 0, None, {}
        if spec["kind"] == "ingest":
            landing = run / "landing"
            con, batches = cut_landing(data, landing, a.seed)
            source_rows = sum(
                con.sql(f"SELECT count(*) FROM ({b})").fetchone()[0]
                for b in batches.values())
        t_jvm = time.monotonic()
        attempts = []
        # the JVM asks for a relaunch when its cold pass was stolen and time
        # is left; Main.MaxAttempts bounds the launches
        relaunch = True
        while relaunch:
            # the checks after the JVM need some of the budget
            left = RUN_BUDGET_S - 20 - (time.monotonic() - t_jvm)
            res, log = launch(spec, data, landing, run, a.seconds, a.trace,
                              len(attempts) + 1, left)
            attempts.append(res["passes"][0]["steal_share"])
            relaunch = res["relaunch"]
        t_check = time.monotonic()
        ops = [o for p in res["passes"] for o in p["ops"]]
        errors = [f"{o['name']}: {o['error']}" for o in ops if o["error"]]
        skipped = log.count(OPTIMIZE_SKIPPED)
        attempted = len(ops)
        failed = len(errors) + skipped
        if spec["kind"] == "ops":
            problems = check_ops(data, res["outputs"], spec["keys"], run,
                                 RUN_BUDGET_S - (t_check - t_jvm))
        else:
            problems = check_ingest(con, batches, res)
        timings = {"prepare_s": t_jvm - t_start, "jvm_s": t_check - t_jvm,
                   "check_s": time.monotonic() - t_check}
        for e in errors[:10] + problems[:20]:
            print(f"perfbench: {e}", file=sys.stderr)
        e2e, layer = summarise(res, spec, source_rows)
        record = {
            "workload": a.workload, "seed": a.seed, "cores": res["cores"],
            "cold_attempts_steal": attempts,
            "reruns": sum(p["rerun"] for p in res["passes"]),
            "passes": [{k: p[k] for k in
                        ["kind", "wall_s", "task_cpu_s", "steal_share",
                         "rerun", "facts"] + COUNTS} for p in res["passes"]],
            "problems": problems, "errors": errors,
            "optimize_skipped": skipped, "timings": timings,
        }
        print(json.dumps({"record": record}))
        if a.trace:
            warm = [p for p in res["passes"] if p["kind"] == "warm"]
            record["counts_repeat"] = len(warm) >= 2 and all(
                len({p[c] for p in warm}) == 1 for c in COUNTS)
            record["per_layer"] = {k: {"value": v, "unit": u}
                                   for k, (v, u) in layer.items()}
            # outputs name this checkout's paths; the checks already ran
            record["raw"] = {k: v for k, v in res.items() if k != "outputs"}
            (WORK / "traces").mkdir(exist_ok=True)
            (WORK / "traces" / f"{a.workload}.json").write_text(
                json.dumps(record, indent=1))
        metrics = layer if a.trace else e2e
        print(json.dumps({
            "correct": not problems, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


# ---------------------------------------------------------------- checks


def check_ops(data, outputs, keys, run, timeout):
    """Each key's check-pass output against DuckDB running its oracle SQL
    over the same tables, compared by `tools/check.py`: same columns and
    dtype kinds, rows in the same order, exact values."""
    oracle = {k: outputs["oracle"].get(k) for k in keys}
    problems = [f"{k}: no oracle SQL" for k, sql in oracle.items() if not sql]
    out = Path(outputs["dir"])
    (out / "oracle_sql.json").write_text(
        json.dumps({k: sql for k, sql in oracle.items() if sql}))
    log = run / "check.log"
    code = run_child([sys.executable, str(CHECK), str(data), str(out), *keys],
                     timeout, log, cwd=ROOT)
    text = log.read_text(errors="replace")
    if code not in (0, 1):
        return problems + [f"tools/check.py exited with {code}: {text[-2000:]}"]
    # check.py prints "PASS n: <keys>", then "  <key>: <why>" per failed key
    lines = text.splitlines()
    failed = [l.strip() for l in lines if l.startswith("  ")]
    seen = {l.split(":", 1)[0] for l in failed}
    for l in lines:
        if l.startswith("PASS "):
            seen.update(l.split(":", 1)[1].split())
    return problems + failed + [f"{k}: not checked" for k, sql in oracle.items()
                                if sql and k not in seen]


def check_ingest(con, batches, res):
    """Every table of the check pass against a DuckDB fold of the landing
    batches, every run() count against the fold's row counts, and the
    clustered table's part files against disjoint user_id ranges."""
    con.sql("SET TimeZone = 'UTC'")
    out = res["outputs"]
    files = out["tables"]
    problems = []

    def rel(fs):
        return ("(SELECT * FROM read_parquet([" +
                ",".join(f"'{f.removeprefix('file:')}'" for f in fs) + "]))")

    def same_rows(name, got, want):
        cols = [c for c in con.sql(f"SELECT * FROM {want} LIMIT 0").columns]
        sel = ", ".join(f'"{c}"' for c in cols)
        g = f"(SELECT {sel} FROM {got})"
        w = f"(SELECT {sel} FROM {want})"
        n = [con.sql(f"SELECT count(*) FROM ({x} EXCEPT ALL {y})")
             .fetchone()[0] for x, y in ((g, w), (w, g))]
        if n != [0, 0]:
            problems.append(f"{name}: {n[0]} rows not expected, "
                            f"{n[1]} expected rows missing")

    def count(sql):
        return con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    expected = {}
    appends = sorted(b for b in batches if b.startswith("append_"))
    for b in appends:
        expected[b] = count(batches[b])
    same_rows("events_log", rel(files["events_log"]),
              "(" + " UNION ALL ".join(batches[b] for b in appends) + ")")

    con.sql("CREATE OR REPLACE TABLE cur AS SELECT * FROM (" +
            batches["merge_0"] + ") WHERE false")
    for b in sorted(x for x in batches if x.startswith("merge_")):
        con.sql(f"""CREATE OR REPLACE TABLE cur AS
                    SELECT * FROM ({batches[b]}) WHERE op <> 'D'
                    UNION ALL
                    SELECT * FROM cur WHERE o_orderkey NOT IN
                        (SELECT o_orderkey FROM ({batches[b]}))""")
        expected[b] = count("SELECT * FROM cur")
    same_rows("orders_cur", rel(files["orders_cur"]), "cur")

    for b in ("stream_0", "stream_1"):
        expected[b] = count(batches[b])
    same_rows("events_stream", rel(files["events_stream"]),
              f"({batches['stream_0']} UNION ALL {batches['stream_1']})")

    expected["overwrite"] = count(batches["overwrite"])
    same_rows("events_clustered", rel(files["events_clustered"]),
              f"({batches['overwrite']})")
    # clusterBy: range-partitioned part files, each sorted by user_id
    names = ",".join(repr(f.removeprefix("file:"))
                     for f in files["events_clustered"])
    parts = f"read_parquet([{names}], filename = true, file_row_number = true)"
    ranges = con.sql(f"""SELECT min(user_id), max(user_id) FROM {parts}
                          GROUP BY filename ORDER BY 1""").fetchall()
    if len(ranges) < 2:
        problems.append(f"events_clustered: {len(ranges)} part file; the "
                        f"layout check needs two or more")
    if any(ranges[i][1] >= ranges[i + 1][0] for i in range(len(ranges) - 1)):
        problems.append(f"events_clustered: part files overlap in user_id: "
                        f"{ranges}")
    unsorted = con.sql(f"""SELECT count(*) FROM (
        SELECT user_id < lag(user_id) OVER (PARTITION BY filename
                                            ORDER BY file_row_number) AS down
        FROM {parts}) WHERE down""").fetchone()[0]
    if unsorted:
        problems.append(f"events_clustered: {unsorted} rows out of user_id "
                        f"order within their part file")

    clean = f"SELECT * FROM ({batches['gated']}) WHERE (value <= 150) IS NOT FALSE"
    expected["gate"] = count(clean)
    same_rows("events_gated", rel(files["events_gated"]), f"({clean})")
    same_rows("quarantine", rel(out["quarantine"]),
              f"(SELECT *, 'value_cap' AS graft_violations FROM "
              f"({batches['gated']}) WHERE value > 150)")

    for p in res["passes"]:
        for o in p["ops"]:
            if o["error"] is None and o["value"] != expected[o["name"]]:
                problems.append(f"pass {p['kind']} {o['name']}: run() returned "
                                f"{o['value']}, expected {expected[o['name']]}")
    return problems


if __name__ == "__main__":
    main()
