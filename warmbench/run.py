#!/usr/bin/env python3
"""Warm-pass benchmark of the graft engine: one workload at one seed.

Usage: python3 warmbench/run.py --workload NAME --seed N --seconds S
                                --trace 0|1

Steps, all inside the checkout:
  1. build the engine and the benchmark's JVM runner (warmbench/build.py);
  2. generate the seeded inputs in a separate process (gen_inputs.py);
  3. run the JVM runner (graftbench.WarmBench): untimed warm-up passes,
     the last of which writes every call's result, then timed passes of
     the workload's call list for S seconds;
  4. check every result against DuckDB running the call's oracle SQL, or
     against the call's own `check` column (oracle.py);
  5. print each metric by name with its unit and sample count, and as the
     last line one JSON object: correct, attempted, failed, metrics.

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the timed passes run traced and the metrics are its
per-layer metrics. Exits non-zero without a result line on any error.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

# Limits: the build (a cold compile of the engine took 19 s on 4 vCPUs),
# then the rest of the run, inputs and JVM, once the build is done.
BUILD_LIMIT_S = 700
RUN_LIMIT_S = 170
# Untimed passes before the timed ones (the last writes the results for the
# output check), and the fewest timed passes a run reports a median over.
WARMUP_PASSES = 2
MIN_PASSES = 3
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def run_child(cmd, deadline, log):
    """Run cmd in its own process group; kill the group at the deadline."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{cmd[0]} exited with {rc}:\n{tail}")


def sample_note(xs):
    return f"median of {len(xs)}, min {min(xs):.4f}, max {max(xs):.4f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload}; have {sorted(workloads)}")
    calls = workloads[a.workload]

    classpath = build.ensure_built(timeout=BUILD_LIMIT_S)
    build_s = time.monotonic() - t_start
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.join(HERE, ".work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        run_child([sys.executable, os.path.join(HERE, "gen_inputs.py"),
                   "--seed", str(a.seed), "--out", inputs],
                  deadline, os.path.join(work, "gen.log"))
        cores = min(4, os.cpu_count() or 1)
        run_child(
            ["java", *[x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
             f"-Xmx{HEAP}", "-XX:G1HeapRegionSize=16m",
             # every pass loads freshly generated classes; at the default
             # 240 MB the code cache fills and its flushing stalls passes
             "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", ":".join(classpath), "graftbench.WarmBench",
             "--data", inputs, "--out", work,
             "--calls", ",".join(f"{c}={l}" for c, l in calls.items()),
             "--seconds", str(a.seconds), "--warmup", str(WARMUP_PASSES),
             "--min-passes", str(MIN_PASSES), "--trace", str(a.trace),
             "--cores", str(cores),
             "--clk-tck", str(os.sysconf("SC_CLK_TCK"))],
            deadline, os.path.join(work, "jvm.log"))
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        verdict = oracle.check(inputs, os.path.join(work, "results"),
                               list(calls), res["oracle_sql"])
    finally:
        for d in ("inputs", "results", "tmp", "local", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    # A call that fails the check failed in every pass that ran it.
    passes_run = len(res["passes"])
    bad = sorted(c for c, v in verdict.items() if v)
    attempted = res["attempted"]
    failed = min(attempted, res["threw"] + passes_run * len(bad))

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(calls)} calls, local[{res['cores']}], "
          f"{sum(p['kind'] in ('timed', 'traced') for p in res['passes'])} "
          f"measured "
          f"passes")
    for c in bad:
        print(f"CHECK FAILED {c}: {verdict[c]}")
    for c, errs in res["errors"].items():
        print(f"CALL THREW {c}: {errs[0]}")
    for p in res["passes"]:
        print("pass " + json.dumps(
            {k: (round(v, 4) if isinstance(v, float) else v)
             for k, v in p.items() if k != "call_s"}))

    metrics = {}
    if a.trace == 0:
        values = {
            "pass_s": (statistics.median(res["pass_s"]), res["pass_s"]),
            "cpu_s": (statistics.median(res["cpu_s"]), res["cpu_s"]),
            "setup_s": (res["setup_s"], [res["setup_s"]]),
            "heap_live_mb": (res["heap_live_mb"], [res["heap_live_mb"]]),
        }
        for m in spec["end_to_end"]:
            v, xs = values[m["name"]]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']} = {v:.4f} {m['unit']} ({sample_note(xs)})")
        print(f"failed_frac = {failed / attempted:.4f} ratio "
              f"({failed} of {attempted} calls)")
    else:
        tr = res["trace"]
        for m in spec["per_layer"]:
            v = tr.get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']} = {v} {m['unit']} "
                  f"(traced run of {int(tr['trace.passes'])} passes)")
    print(f"build {build_s:.1f} s, total {time.monotonic() - t_start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    # SIGTERM unwinds like an exception, so run_child kills the JVM's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (build.BuildError, RuntimeError, OSError, KeyError,
            subprocess.TimeoutExpired) as e:
        sys.exit(f"benchmark failed: {e}")
