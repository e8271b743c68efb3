#!/usr/bin/env python3
"""Where the driver's time goes during a benchmark's warm passes.

Run from the root of a checkout:

    python3 tools/driver_samples.py --workload ingest --seconds 30 --seed 1

Runs `perfbench/run.py --trace 0` with the given workload, seed and seconds,
and, while the benchmark JVM runs its warm passes, asks for a `jstack` of it
every 50 ms, with two dumps at most in flight. One dump takes
0.1-0.25 s, so a 4-core host gets about one sample per 0.15 s; the rate
achieved is printed. It keeps the stack of the JVM's `main` thread, which
runs the workload, and prints:

  - the share of samples per bucket, the first that matches anywhere in the
    stack: schema inference (Spark's, or the driver-side footer read), stream
    drain (`awaitTermination`), forked shell (a child process, e.g. Hadoop's
    `Shell.runCommand`), codegen (Janino compiling a generated class), job
    wait, catalog, analysis, other;
  - the share of samples per innermost `graft.` frame (method, no line);
  - the share of samples per pair of the two;
  - the CPU seconds the JVM's threads used over the sampled window, from
    `/proc/<pid>/task/*/stat`, grouped by thread name: the JIT's C2 and C1
    compiler threads, Spark's executor task threads, `main` and the rest.
    The times are read every 0.5 s, so a thread that exits inside the
    window counts up to its last read.

Warm passes are told apart on disk: for `ingest`, the pass directory
`ingest/p<index>` with index 2 or more exists (0 is the cold pass, 1 the
check pass); for `ops-sf1`, the check pass has written its last key's
output. The sampling slows the benchmark down, so its result line, printed
first, is not a timing to compare with other runs.
"""
import argparse
import collections
import concurrent.futures
import os
import re
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAX_INFLIGHT = 2
INTERVAL_S = 0.05  # between dump requests; jstack's own latency bounds the rate
TOP = 15  # rows per table
CPU_INTERVAL_S = 0.5  # between reads of the JVM's per-thread CPU times
CLK_TCK = os.sysconf("SC_CLK_TCK")
# (group, thread names); /proc cuts a name at 15 characters, and the JVM's
# main thread keeps the launcher's name, java
THREAD_GROUPS = [
    ("C2 CompilerThre", ("C2 CompilerThre",)),
    ("C1 CompilerThre", ("C1 CompilerThre",)),
    ("Executor task l", ("Executor task l",)),
    ("main", ("java",)),
]

# (bucket, frame substrings); a sample goes to the first bucket with a match
BUCKETS = [
    ("schema inference", ("mergeSchemasInParallel", ".inferSchema(",
                          "LandingRead$.footerRead")),
    ("stream drain", (".awaitTermination(",)),
    ("forked shell", ("Shell.runCommand", "ProcessImpl.", "ProcessBuilder.start")),
    ("codegen", ("CodeGenerator$.doCompile", "org.codehaus.janino.")),
    # adaptive execution waits for its query stages on a queue
    ("job wait", ("DAGScheduler.runJob", "JobWaiter.", "LinkedBlockingQueue.take")),
    ("catalog", ("SessionCatalog.", "ExternalCatalog", "InMemoryCatalog.")),
    ("analysis", ("analysis.Analyzer", "CheckAnalysis", "QueryExecution.assertAnalyzed")),
]


def children(ppid):
    """Pids whose parent is `ppid`."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == ppid:
                out.append(int(d))
    return out


def jvm_args(pid):
    """The `key=value` arguments of a perfbench JVM, or None."""
    try:
        argv = Path(f"/proc/{pid}/cmdline").read_bytes().decode().split("\0")
    except OSError:
        return None
    if "perfbench.Main" not in argv:
        return None
    return dict(a.split("=", 1) for a in argv[argv.index("perfbench.Main") + 1:]
                if "=" in a)


def warm(args):
    run = Path(args["run"])
    if args["workload"] == "ingest":
        return any(int(p.name[1:]) >= 2 for p in (run / "ingest").glob("p*")
                   if p.name[1:].isdigit())
    last = args["keys"].split(",")[-1]
    return (run / "outputs" / last / "_SUCCESS").exists()


def main_frames(dump):
    """The frames of the `main` thread in a jstack dump, innermost first."""
    frames, inside = [], False
    for line in dump.splitlines():
        if line.startswith('"'):
            inside = line.startswith('"main" ')
        elif inside and line.strip().startswith("at "):
            frames.append(line.strip()[3:])
    return frames


def bucket(frames):
    for name, marks in BUCKETS:
        if any(m in f for f in frames for m in marks):
            return name
    return "other"


def innermost_graft(frames):
    for f in frames:
        if f.startswith("graft."):
            return re.sub(r"\(.*\)$", "", f)
    return "(no graft. frame)"


def thread_cpu(pid):
    """{tid: (thread name, CPU seconds)} for the threads of `pid`."""
    out = {}
    try:
        tasks = list(Path(f"/proc/{pid}/task").iterdir())
    except OSError:
        return out
    for t in tasks:
        try:
            stat = (t / "stat").read_text()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat.rsplit(")", 1)[1].split()
        # utime and stime, fields 14 and 15 of stat(5)
        out[int(t.name)] = (name, (int(fields[11]) + int(fields[12])) / CLK_TCK)
    return out


def thread_group(name):
    for group, names in THREAD_GROUPS:
        if name in names:
            return group
    return "other"


def main_stack(pid):
    """The `main` thread's frames from one `jstack` of `pid`."""
    try:
        return main_frames(subprocess.run(
            ["jstack", str(pid)], capture_output=True, text=True,
            timeout=15).stdout)
    except subprocess.TimeoutExpired:
        return []


def sample(bench):
    """Main-thread stacks of the benchmark JVM during its warm passes, the
    seconds from the first sample to the last, and the CPU seconds per
    thread group over that window."""
    dumps, pid, args, t0 = [], None, None, None
    cpu0, cpu1, t_cpu = {}, {}, 0.0
    with concurrent.futures.ThreadPoolExecutor(MAX_INFLIGHT) as pool:
        while bench.poll() is None:
            if pid is None or not os.path.exists(f"/proc/{pid}"):
                # the JVM is relaunched once when its cold pass was stolen
                pid, args = None, None
                for c in children(bench.pid):
                    args = jvm_args(c)
                    if args:
                        pid = c
                        break
                if pid:
                    cpu0, cpu1 = {}, {}
            if (pid and sum(not d.done() for d in dumps) < MAX_INFLIGHT
                    and warm(args)):
                t0 = t0 or time.time()
                dumps.append(pool.submit(main_stack, pid))
            if t0 and pid and time.time() - t_cpu >= CPU_INTERVAL_S:
                t_cpu = time.time()
                now = thread_cpu(pid)
                if not cpu0:
                    cpu0 = now
                else:
                    cpu1.update(now)
            time.sleep(INTERVAL_S)
    span = time.time() - t0 if t0 else 0.0
    cpu = collections.Counter()
    for tid, (name, secs) in cpu1.items():
        cpu[thread_group(name)] += secs - cpu0.get(tid, (name, 0.0))[1]
    return [d.result() for d in dumps if d.result()], span, cpu


def table(title, counts, total):
    print(f"\n{title}")
    for name, n in counts.most_common(TOP):
        print(f"  {100.0 * n / total:5.1f}%  {n:5d}  {name}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "ops-sf1"])
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", "0"]
    with tempfile.TemporaryFile("w+") as out:
        bench = subprocess.Popen(cmd, cwd=ROOT, stdout=out)
        try:
            stacks, span, cpu = sample(bench)
        finally:
            if bench.poll() is None:
                bench.terminate()
                bench.wait()
        out.seek(0)
        lines = out.read().splitlines()
    if lines:
        print(lines[-1])
    if bench.returncode != 0:
        sys.exit(f"driver_samples: run.py exited with {bench.returncode}")
    if not stacks:
        sys.exit("driver_samples: no warm-pass sample taken")
    print(f"\n{len(stacks)} samples of the driver's main thread in "
          f"{span:.1f} s, one every {1000 * span / len(stacks):.0f} ms")
    table("bucket", collections.Counter(map(bucket, stacks)), len(stacks))
    table("innermost graft. frame",
          collections.Counter(map(innermost_graft, stacks)), len(stacks))
    table("bucket, innermost graft. frame",
          collections.Counter(f"{bucket(s)}: {innermost_graft(s)}" for s in stacks),
          len(stacks))
    print("\nCPU seconds of the JVM's threads over the window")
    for group, secs in cpu.most_common():
        print(f"  {secs:7.1f}  {group}")


if __name__ == "__main__":
    main()
