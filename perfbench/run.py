#!/usr/bin/env python3
"""The repository benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload lab_enrich --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine and the harness
(perfbench/build.py), starts one JVM at local[<cores>] that runs the
workload in a closed loop (one client, one epoch in flight), checks the
outputs, and prints a table of every metric with its unit and sample
count, then one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
runs with spans and the Spark listener on and reports the per-layer
metrics (plus, for the streaming workloads, a second single-core JVM
for exec.local1_epoch_p50_ms). Each run keeps result.json (and, traced,
spans.jsonl) under .perfbench/runs/; perfbench/diff.py compares them.

Workloads: lab_enrich and batch_families are the measured set in
BENCHMARK.json; dim_churn and changelog_agg run the same way by hand
(see perfbench/README.md for why they are not in the measured set).
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

STREAMING = ("lab_enrich", "dim_churn", "changelog_agg")
WORKLOADS = STREAMING + ("batch_families",)
HERE = os.path.dirname(os.path.abspath(__file__))
STATE = ".perfbench"
RUN_LIMIT_S = 175  # a whole run, both JVMs of a traced run included
# (set-ups, untimed warm-up epochs) per workload. A batch_families set-up
# is a whole cold pass that rebuilds the shared LSH/cluster tables, so it
# runs once and doubles as the warm-up pass (the harness runs none after).
PROFILE = {"lab_enrich": (3, 4), "dim_churn": (3, 1), "changelog_agg": (3, 1),
           "batch_families": (1, 0)}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fixture_dir(scale):
    """The fixture tables for batch_families: $PERFBENCH_SF_DIR, else the
    directory TESTDATA.md documents for `scale`."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    if os.path.exists("TESTDATA.md"):
        for line in open("TESTDATA.md"):
            m = re.match(r"\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`", line)
            if m:
                return m.group(1).rstrip("/")
    die(f"no fixture directory for sf{scale}: set PERFBENCH_SF_DIR")


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def java_cmd(classpath, out):
    """The command line of a perfbench.Main JVM whose temp root is out/tmp."""
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    # a fixed heap, and the throughput collector: G1's concurrent threads
    # compete with the four task threads and left epochs noisier
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                  f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}", "-cp", classpath, "perfbench.Main"]


def run_jvm(classpath, out, workload, seed, seconds, trace, n_cores, sf_dir, timeout, extra=()):
    """One perfbench.Main process; returns its result.json."""
    shutil.rmtree(out, ignore_errors=True)
    cmd = java_cmd(classpath, out) + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--out", out, "--cores", str(n_cores), "--sf-dir", sf_dir, *extra]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{workload} JVM exceeded {timeout:.0f} s; log in {out}/jvm.log")
    # data roots go; result, spans and the JVM log stay
    for name in os.listdir(out):
        if name not in ("result.json", "spans.jsonl", "epochs.jsonl", "jvm.log"):
            shutil.rmtree(os.path.join(out, name), ignore_errors=True)
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        tail = open(os.path.join(out, "jvm.log")).read()[-3000:]
        die(f"{workload} JVM exited {rc}:\n{tail}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    # tag the result with the build, so diff.py never mixes builds
    res["build"] = open(os.path.join(build.BUILD, "stamp")).read()[:16]
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(res, f)
    return res


def check_determinism(res, workload, seed, traced):
    """Same code and seed must give the same output digest (for the same
    number of epochs) and, traced, the same per-epoch job counts, across
    runs in this checkout. Job counts are compared only for epochs that
    ran as many micro-batches in both runs: the statements' trigger loop
    runs concurrently with staging and now and then splits one staged
    slice into two micro-batches (9 jobs became 17 once in six traced
    lab_enrich runs). Returns (attempted, failures)."""
    path = os.path.join(STATE, "determinism.json")
    code = open(os.path.join(build.BUILD, "stamp")).read()
    seen = json.load(open(path)) if os.path.exists(path) else {}
    if seen.get("code") != code:
        seen = {"code": code}
    rec = seen.setdefault(f"{workload}/{seed}", {})
    d = res["details"]
    fails = []
    digests = rec.setdefault("digests", {})
    if "digest" in d:
        key, val = str(d["digest"]["epochs"]), d["digest"]["value"]
        if digests.setdefault(key, val) != val:
            fails.append(f"output digest after {key} epochs changed across runs: {digests[key]} vs {val}")
    if traced and "jobs_per_epoch" in d:
        now = list(zip(d["jobs_per_epoch"], d.get("batches_per_epoch") or [1] * len(d["jobs_per_epoch"])))
        prev = [tuple(p) for p in rec.get("jobs_batches", [])]
        diff = [(i, p[0], q[0]) for i, (p, q) in enumerate(zip(prev, now)) if p[1] == q[1] and p[0] != q[0]]
        if diff:
            fails.append(f"jobs per epoch changed across runs (epoch, before, now): {diff}")
        if len(now) > len(prev):
            rec["jobs_batches"] = now
    os.makedirs(STATE, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return 1, fails


def check_golden(res, scale):
    """batch_families digests against the committed golden digests."""
    golden = json.load(open(os.path.join(HERE, "golden.json"))).get(f"sf{scale}", {})
    got = res["details"].get("digests", {})
    fails = [f"{q}: digest {got.get(q)} != golden {want}" for q, want in golden.items() if got.get(q) != want]
    if not golden:
        fails.append(f"no golden digests for sf{scale}")
    return len(golden) or 1, fails


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists("BENCHMARK.json"):
        die("BENCHMARK.json not found: run from the root of a checkout")
    spec = json.load(open("BENCHMARK.json"))
    try:
        classpath = build.build()
    except build.BuildError as e:
        die(str(e))

    scale = "0.01"
    sf_dir = fixture_dir(scale) if a.workload == "batch_families" else ""
    n_cores = cores()
    out = os.path.join(STATE, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    t0 = time.time()
    setups, warmup = PROFILE[a.workload]
    res = run_jvm(classpath, os.path.abspath(out), a.workload, a.seed, a.seconds, a.trace,
                  n_cores, sf_dir, RUN_LIMIT_S - 25, ("--setups", str(setups), "--warmup", str(warmup)))
    attempted, failures = res["attempted"], list(res["failures"])
    for n, f in (check_determinism(res, a.workload, a.seed, a.trace == 1),
                 check_golden(res, scale) if a.workload == "batch_families" else (0, [])):
        attempted += n
        failures += f

    values = {k: (v["value"], v.get("samples")) for k, v in res["e2e"].items()}
    values.update({k: (v["value"], None) for k, v in res["layers"].items()})
    if a.trace == 1:
        local1 = 0.0
        if a.workload in STREAMING:
            r1 = run_jvm(classpath, os.path.abspath(out + "-local1"), a.workload, a.seed,
                         min(a.seconds, 3), 0, 1, sf_dir, RUN_LIMIT_S - (time.time() - t0),
                         ("--setups", "1", "--warmup", "1"))
            attempted += r1["attempted"]
            failures += [f"local[1]: {f}" for f in r1["failures"]]
            local1 = r1["e2e"]["epoch_p50_ms"]["value"]
        values["exec.local1_epoch_p50_ms"] = (local1, None)
    wanted = spec["per_layer"] if a.trace == 1 else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"{a.workload} did not report {missing}")

    d = res["details"]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cores={n_cores} "
          f"wall={time.time() - t0:.1f}s rows/epoch={d.get('rows_per_epoch')} "
          f"tail=p{d.get('tail_percentile')} loop=closed,1 client")
    for m in wanted:
        v, n = values[m["name"]]
        v = float("nan") if v is None else v  # no timed epoch completed
        print(f"  {m['name']:<40} {v:>16.4f} {m['unit']:<8}" + (f" n={n}" if n else ""))
    # reported, not gated: the tail is only as high a percentile as the
    # sample supports (ten epochs beyond it), and pass_s is batch_families'
    # wall per pass over its query set
    prefix = "trace." if a.trace == 1 else ""
    tail = res["e2e"].get(f"{prefix}epoch_tail_ms")
    if tail:
        print(f"  {prefix + 'epoch_tail_ms':<40} {tail['value']:>16.4f} {'ms':<8} "
              f"n={tail['samples']} p{d.get('tail_percentile')}")
    if d.get("pass_s"):
        print(f"  {'pass_s':<40} {statistics.median(d['pass_s']):>16.4f} {'s':<8} n={len(d['pass_s'])}")
    for f in failures:
        print(f"  FAILED {f}")
    print(f"  failed_frac {len(failures)}/{attempted}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {m["name"]: {"value": values[m["name"]][0], "unit": m["unit"]} for m in wanted}}))


if __name__ == "__main__":
    main()
