#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <batch_suite|live_pipeline>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness (sbt, the
engine's sources plus perfbench/src) and caches the DuckDB oracle answers,
both under perfbench/.cache; later runs reuse them. The tables are the
read-only fixture of TESTDATA.md, held in perfbench/fixtures (checked
against fixtures/SHA256SUMS before every run). Each run starts one JVM
(perfbench.Main) that sets up, runs the workload for --seconds and dumps
the outputs it must check; this script checks them and prints a report
followed by the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the per-layer ones, and the spans (spans.jsonl, self_times.json)
and tracing overhead land in perfbench/.runs/<workload>-<seed>-trace1/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
FIXTURES = os.path.join(HERE, "fixtures")
RUNS = os.path.join(HERE, ".runs")
sys.path.insert(0, HERE)

WORKLOADS = ("batch_suite", "live_pipeline")
# the fixture scale each workload reads
SCALES = {"batch_suite": "sf0.01", "live_pipeline": "sf0.1"}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest() -> str:
    """Digest of everything the harness build compiles."""
    h = hashlib.sha256()
    pats = ["src/main/scala/**/*.scala", "src/main/resources/**/*",
            "perfbench/src/**/*", "perfbench/build.sbt", "perfbench/project/build.properties"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                    if os.path.isfile(f)})
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build() -> str:
    """Compile the harness when its sources changed; return the classpath."""
    os.makedirs(CACHE, exist_ok=True)
    stamp = os.path.join(CACHE, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building harness (sbt)")
    os.makedirs(os.path.join(HERE, "target", "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.server.forcestart=false", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(HERE, "target", "tmp")] + (
        ["-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else [])))
    rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                        timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"harness build failed (sbt exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


def fixture(scale: str) -> str:
    """The fixture tables of one scale, after checking them against their
    recorded digests."""
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            if not name.startswith(scale + "/"):
                continue
            with open(os.path.join(FIXTURES, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    raise SystemExit(f"fixture {name} does not match SHA256SUMS")
    return os.path.join(FIXTURES, scale)


def run_jvm(cp: str, args: argparse.Namespace, run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), fixture(SCALES[args.workload]), run_dir]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def pct(xs, p: float) -> float:
    """p-th percentile, linear interpolation between closest ranks."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(xs) -> float:
    return math.exp(sum(math.log(max(x, 1e-3)) for x in xs) / len(xs))


def end_to_end(w: str, res: dict) -> tuple:
    """(uniform metrics for the result line, workload-named report lines)."""
    s = res["samples"]
    sc = res["scalars"]
    if w == "batch_suite":
        # each key's time is its fastest pass (the graft.Bench rule)
        best = {k[4:]: min(v) for k, v in s.items() if k.startswith("key:")}
        lat = list(best.values())
        round_s = sum(lat) / 1000.0
        report = {"suite_total_s": round_s, "suite_geomean_ms": geomean(lat),
                  "panel_keys_geomean_ms": geomean([best[k] for k in res["panel_keys"] if k in best]),
                  "keys": len(lat), "passes": sc.get("passes")}
    else:
        lat = s["fresh_ms"]
        # the fastest burst, by the same rule as the suite's keys: drain
        # time moves in whole micro-batch cycles, and a burst that catches
        # a host stall loses one or two of them
        round_s = min(s["drain_s"])
        panels = s.get("live_panel_ms", [])
        report = {"fresh_p50_ms": pct(lat, 50), "fresh_p90_ms": pct(lat, 90),
                  "fresh_p99_ms": pct(lat, 99), "drain_rows_per_s": sc["burst_rows"] / round_s,
                  "live_panel_p50_ms": pct(panels, 50) if panels else None,
                  "live_panels": len(panels)}
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "geomean_ms": (geomean(lat), "ms"),
        "p90_ms": (pct(lat, 90), "ms"),
        "round_s": (round_s, "s"),
    }
    report["samples"] = len(lat)
    return metrics, report


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        log("the engine's sources (src/main/scala/graft) are not next to perfbench/")
        return 2
    import oracle
    cp = build()
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-trace{args.trace}")
    subprocess.run(["rm", "-rf", run_dir], check=True)
    os.makedirs(run_dir)
    t0 = time.monotonic()
    res = run_jvm(cp, args, run_dir)
    log(f"workload JVM finished in {time.monotonic() - t0:.1f}s")

    failures = list(res["failures"])
    bad_keys = oracle.check(res, run_dir, FIXTURES, CACHE, failures)
    attempted = int(res["attempted"])
    failed = len(res["failures"]) + int(res["scalars"].get("rows_bad", 0))
    # a key whose output fails its check fails every timed run of it
    failed += sum(int(res["key_attempts"].get(k, 0)) for k in bad_keys)
    if not failures:
        for d in ("work", "tmp", "out"):
            subprocess.run(["rm", "-rf", os.path.join(run_dir, d)], check=True)
    metrics, report = end_to_end(args.workload, res)
    report["error_rate"] = failed / attempted if attempted else 1.0
    report["setup_phases_s"] = res["setup_phases"]
    for f in failures:
        print(f"FAILED {f}")
    print("report " + json.dumps(report, default=float))
    if args.trace:
        out = {k: (float(v), unit) for k, (v, unit) in layer_metrics(res).items()}
        overhead(args, run_dir, metrics)
    else:
        out = metrics
        with open(os.path.join(run_dir, "end_to_end.json"), "w") as fh:
            json.dump({k: v for k, (v, _) in metrics.items()}, fh)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


def layer_metrics(res: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json; 0 where the workload does
    not run that layer."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer"]
    return {m["name"]: (res["layer"].get(m["name"]) or 0.0, m["unit"]) for m in spec}


def overhead(args, run_dir: str, traced: dict) -> None:
    """Tracing overhead: this traced run's end-to-end numbers minus the
    untraced run's for the same workload and seed, when one exists."""
    base = os.path.join(RUNS, f"{args.workload}-{args.seed}-trace0", "end_to_end.json")
    if not os.path.exists(base):
        log("no untraced run of this workload and seed: tracing overhead not computed")
        return
    untraced = json.load(open(base))
    diff = {k: traced[k][0] - untraced[k] for k in untraced if k in traced}
    with open(os.path.join(run_dir, "tracing_overhead.json"), "w") as fh:
        json.dump({"traced": {k: v for k, (v, _) in traced.items()},
                   "untraced": untraced, "overhead": diff}, fh, indent=1)
    print("tracing_overhead " + json.dumps(diff))


if __name__ == "__main__":
    sys.exit(main())
