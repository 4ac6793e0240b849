"""Benchmark runner.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (``build.py``), generates the workload's
inputs from the seed (``gen.py``), runs the JVM harness
(``scala/Main.scala``) once, checks its outputs and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  Untraced runs report
the end-to-end metrics, traced runs the per-layer ones (BENCHMARK.json
lists both, README.md says what each means).  A failed check prints
``"correct": false`` and the failures on stderr; the exit code is non-zero
only when the build or the run itself fails and no result is printed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("suite-sf0.01", "velib-incremental", "velib-recompute")

# Spark runs local[N] with N = the host's cores, shuffle partitions N.
CORES = os.cpu_count() or 4

# The suite's generated tables (fixed data; the seed orders the queries).
SUITE_SF = 0.01

# Velib feed shape: one poll of every station per tick, 5 min of event
# time per tick; the backlog is drained in one call before the open loop.
STATIONS = 1500
BACKLOG_TICKS = 24
# Four ticks per second: a drain (about 2 s, mostly fixed cost) finds
# several ticks pending, so freshness is sampled many times per run.
TICK_INTERVAL_S = 0.25
# The ticks due in the loop's first 2 s let the JIT settle: drained and
# checked like the rest, not timed.
WARMUP_TICKS = 8
# A run whose generator published any tick later than this after its due
# time is invalid: the open loop was not honest.
LATE_BOUND_S = 0.5

JVM_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = ("setup_s", "cold_s", "warm_s", "latency_p50_s",
              "latency_tail_s", "cpu_s", "space_amp")


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, n)``.  Below 21 samples that percentile is not
    above the median, so the maximum is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    i = n - 11 if n >= 21 else n - 1
    return s[i], 100.0 * (i + 1) / n, n


def per_layer_names():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)["per_layer"]]


def units():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def suite_data(bdir):
    """The suite tables, generated once per checkout."""
    out = os.path.join(bdir, "data", f"sf{SUITE_SF}")
    stamp = os.path.join(out, ".stamp")
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        want = hashlib.sha256(fh.read()).hexdigest()
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        gen.suite_tables(out, SUITE_SF)
        with open(stamp, "w") as fh:
            fh.write(want)
    return os.path.abspath(out)


def stage_ticks(work, seed, live):
    staged = os.path.join(work, "staged")
    warm = os.path.join(work, "warm")
    os.makedirs(staged)
    os.makedirs(warm)
    for i, b in enumerate(gen.velib_ticks(seed, STATIONS,
                                          BACKLOG_TICKS + live)):
        with open(os.path.join(staged, f"tick-{i:06d}.jsonl"), "wb") as fh:
            fh.write(b)
    # the warm-up feed is a different station set's first poll
    for i, b in enumerate(gen.velib_ticks(seed + 7919, STATIONS, 1)):
        with open(os.path.join(warm, f"tick-{i:06d}.jsonl"), "wb") as fh:
            fh.write(b)


def run_jvm(cp, work, args):
    log = os.path.join(work, "jvm.log")
    # a fixed-size heap: no heap growth during the timed phase
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
           "-cp", cp, "graft.perfbench.Main", *args]
    os.makedirs(os.path.join(work, "tmp"))
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise RuntimeError(f"harness exited with {code}")


def suite_result(r, expected):
    failures = []
    for q, got in sorted(r["checks"].items()):
        want = expected.get(q)
        if want != got:
            failures.append(f"{q}: got {got}, expected {want}")
    for q, fs in sorted(r["plan_violations"].items()):
        failures.append(f"{q}: executed plan has {fs} outside "
                        "PlanAudit.allowlist")
    for q in r["unaudited"]:
        failures.append(f"{q}: no executed plan reached the plan-trap gate")
    warm = r["warm_s"]
    # latency pools each query's first warm runs, the same count for every
    # query, so the sample (and the tail's percentile) has a fixed size
    samples = [t for ts in warm.values() for t in ts[:r["min_warm"]]]
    p50 = median(samples)
    tail_v, tail_p, n = tail(samples)
    metrics = {
        "setup_s": median(r["setup_s"]),
        "cold_s": sum(r["cold_s"].values()),
        "warm_s": sum(median(ts) for ts in warm.values()),
        "latency_p50_s": p50,
        "latency_tail_s": tail_v,
        "cpu_s": sum(median(ts) for ts in r["warm_cpu_s"].values()),
        "space_amp": r["space_bytes"] / r["input_bytes"],
    }
    info = {"queries": len(warm),
            "warm_runs": sum(len(ts) for ts in warm.values()),
            "setup_total_s": round(sum(r["setup_s"]), 2),
            "measured_s": round(r["measured_s"], 2),
            "latency_n": n, "latency_tail_pct": round(tail_p, 1)}
    # operations: each query's cold run and row check, and each warm run
    attempted = info["warm_runs"] + 2 * len(r["checks"])
    return metrics, info, attempted, failures


def stream_result(r):
    failures = []
    c = r["checks"]
    if not c["silver"]:
        failures.append(f"silver is missing rows of {c['missing_ticks']} "
                        "tick(s)")
    if not c["gold"]:
        failures.append("gold differs from the batch recompute")
    if not c["serving"]:
        failures.append("serving differs from the batch recompute")
    if r["late_max_s"] > r["late_bound_s"]:
        failures.append(f"generator ran {r['late_max_s']:.3f} s behind "
                        f"schedule (bound {r['late_bound_s']} s)")
    fresh = r["freshness_s"]
    tail_v, tail_p, n = tail(fresh)
    metrics = {
        "setup_s": median(r["setup_s"]),
        "cold_s": median(r["backfill_s"]),
        "warm_s": median(r["drain_s"]),
        "latency_p50_s": median(fresh),
        "latency_tail_s": tail_v,
        "cpu_s": median(r["drain_cpu_s"]),
        "space_amp": r["space_bytes"] / r["input_bytes"],
    }
    info = {"ticks": r["ticks"], "drains": r["drains"], "latency_n": n,
            "setup_runs_s": [round(t, 2) for t in r["setup_s"]],
            "backfill_runs_s": [round(t, 2) for t in r["backfill_s"]],
            "drain_runs_s": [round(t, 2) for t in r["drain_s"]],
            "measured_s": round(r["measured_s"], 2),
            "checks_s": round(r["checks_s"], 2),
            "latency_tail_pct": round(tail_p, 1),
            "late_max_s": round(r["late_max_s"], 4)}
    failed = r["failed"] + (r["late_max_s"] > r["late_bound_s"])
    return metrics, info, r["attempted"], failures, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="suite: store this run's row checks as expected")
    a = ap.parse_args()

    bdir = build.build_dir()
    try:
        cp = build.classpath()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    work = os.path.abspath(os.path.join(
        bdir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(bdir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(CORES), "--work", work, "--out", out,
            "--spans", os.path.join(trace_dir,
                                    f"{a.workload}-seed{a.seed}.jsonl")]
    expected_file = os.path.join(HERE, "expected", f"suite-sf{SUITE_SF}.json")
    try:
        if a.workload == "suite-sf0.01":
            args += ["--data", suite_data(bdir)]
        else:
            live = int(math.ceil(a.seconds / TICK_INTERVAL_S)) + 1
            stage_ticks(work, a.seed, live)
            args += ["--stations", str(STATIONS),
                     "--backlog", str(BACKLOG_TICKS), "--live", str(live),
                     "--interval", str(TICK_INTERVAL_S),
                     "--warmup_ticks", str(WARMUP_TICKS),
                     "--late_bound", str(LATE_BOUND_S)]
        t0 = time.time()
        run_jvm(cp, work, args)
        wall = time.time() - t0
        with open(out) as fh:
            r = json.load(fh)
    except Exception as e:  # the run produced no result
        sys.exit(f"run failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.workload == "suite-sf0.01":
        if a.record_expected:
            with open(expected_file, "w") as fh:
                json.dump(r["checks"], fh, indent=1, sort_keys=True)
        expected = {}
        if os.path.exists(expected_file):
            with open(expected_file) as fh:
                expected = json.load(fh)
        metrics, info, attempted, failures = suite_result(r, expected)
        failed = len(failures)
    else:
        metrics, info, attempted, failures, failed = stream_result(r)

    u = units()
    if a.trace:
        layers = r["layers"]
        names = per_layer_names()
        missing = [m for m in names if m not in layers]
        applicable = [m for m in missing if not not_applicable(a.workload, m)]
        if applicable:
            failures.append(f"per-layer metrics not produced: {applicable}")
            failed += 1
        shown = {m: {"value": layers.get(m, 0.0), "unit": u[m]}
                 for m in names}
    else:
        shown = {m: {"value": metrics[m], "unit": u[m]} for m in END_TO_END}
    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)
    info["wall_s"] = round(wall, 2)
    print("# " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": shown}))


def not_applicable(workload, metric):
    """Per-layer metrics of layers a workload never calls (reported 0)."""
    stream_only = ("stream.", "velib.", "lake.", "generator.")
    suite_only = ("ops.", "construct_s", "materialized.", "functions.")
    if workload.startswith("velib-"):
        return metric.startswith(suite_only)
    return metric.startswith(stream_only)


if __name__ == "__main__":
    main()
