#!/usr/bin/env python3
"""The graft benchmark: times the paper's pipeline and the query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. Inputs are generated from the seed, the JVM half
(`perfbench.Main`) times the workload in a closed loop, and the outputs
are checked against DuckDB after the JVM has exited. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with `--trace 1` the per-layer
ones). Everything the run writes stays under `perfbench/.work` and the
build directories.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import collections  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target")

WORKLOADS = ("daily_full", "daily_incremental", "registry_interactive")
PLAYS = 34_000      # daily workloads: plays in the 30-day history
SMALL_PLAYS = 3_000  # smoke run, and the registry trace's pipeline layers
REGISTRY_DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170
# `registry_interactive` is not declared in BENCHMARK.json; by hand it
# reports these besides `setup_s` and `storage_peak_mb`
REGISTRY_UNITS = {"query_p50_ms": "ms", "query_p90_ms": "ms"}



def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build reads: the program and the harness."""
    files = [os.path.join(d, n) for r in (os.path.join(ROOT, "src", "main"),
                                          os.path.join(HERE, "src"))
             for d, _, names in os.walk(r) for n in names]
    for d in (ROOT, HERE):
        for pattern in ("*.sbt", "project/*.sbt", "project/*.scala", "project/*.properties"):
            files += glob.glob(os.path.join(d, pattern))
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Build with sbt unless the last build saw the same sources; returns
    (classpath, JVM options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the program's sources are not next to perfbench/ (run from a repository checkout)")
    spec = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "launch.digest")
    digest = sources_digest()
    fresh = os.path.exists(spec) and os.path.exists(stamp) and open(stamp).read() == digest
    if not fresh:
        os.makedirs(BUILD, exist_ok=True)
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            try:
                rc = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true",
                                     "-Dsbt.log.noformat=true", "launchSpec"],
                                    cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    env={"COURSIER_MODE": "offline", **os.environ},
                                    timeout=max(1, deadline - time.time())).returncode
            except subprocess.TimeoutExpired:
                die("build timed out")
        if rc != 0:
            die(f"build failed, see {os.path.join(BUILD, 'build.log')}")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(spec) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(launch, args, work, deadline):
    """Run perfbench.Main; returns its result.json."""
    classpath, opts = launch
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=f"{work}/spark-local")
    cmd = [java, *opts, "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "perfbench.Main", f"work={work}"] + [f"{k}={v}" for k, v in args.items()]
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the run did not finish in time, see {work}/jvm.log")
    if rc != 0 or not os.path.exists(f"{work}/result.json"):
        die(f"the JVM exited with {rc}, see {work}/jvm.log")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def bench(workload, seed, seconds, trace, launch, deadline, plays=PLAYS):
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs, small = f"{work}/inputs", f"{work}/small"
    t0 = time.perf_counter()
    daily = workload != "registry_interactive"
    if daily:
        gen.generate(inputs, seed, plays)
    # the cold day's warm-up, and the registry trace's pipeline layers
    if workload == "daily_full" or (trace and not daily):
        gen.generate(small, seed, SMALL_PLAYS)
    gen_s = time.perf_counter() - t0
    r = run_jvm(launch, {"workload": workload, "seconds": seconds,
                         "trace": trace, "in": inputs, "small": small,
                         "registry": REGISTRY_DATA}, work, deadline)

    failures = list(r["failures"])
    if daily:
        history = sorted(f"{inputs}/streams/{f}" for f in os.listdir(f"{inputs}/streams"))
        files = history + ([f"{inputs}/new/streams_day31.csv"]
                           if workload == "daily_incremental" else [])
        failures += oracle.check_kpis(files, f"{inputs}/songs.csv", f"{inputs}/users.csv",
                                      r["kpi_dir"], r["kpi_rows"])
        checks = len(oracle.KPI_SQL)
        if trace:
            with open(f"{inputs}/truth.json") as f:
                truth = json.load(f)
            # the program's row counts at the validation boundary against
            # the generator's (`validate.rows_in` is the input's size)
            day = "new_" if workload == "daily_incremental" else ""
            want = {"validate.rows_quarantined": truth[day + "corrupt"],
                    "validate.rows_clean": truth[day + "plays"] - truth[day + "corrupt"]
                    - truth[day + "null_track"]}
            for k, v in want.items():
                checks += 1
                if r["layers"][k] != v:
                    failures.append(f"{k} is {r['layers'][k]}, the generator wrote {v}")
    else:
        failures += oracle.check_registry(REGISTRY_DATA, r["registry_dir"], r["oracle_sql"])
        checks = len(r["oracle_sql"])
    attempted = r["attempted"] + checks
    # keep the logs, the result and the spans; the inputs and outputs of
    # one run are tens of MB, and a series of seeds would pile them up
    for name in os.listdir(work):
        if os.path.isdir(f"{work}/{name}"):
            shutil.rmtree(f"{work}/{name}")

    if trace:
        values = r["layers"]
    else:
        values = {"setup_s": gen_s + r["setup_jvm_s"],
                  "storage_peak_mb": max(r["storage_peak_mb"])}
        if daily:
            values["pipeline_s"] = statistics.median(r["job_s"])
        else:
            by_name = collections.defaultdict(list)
            for name, ms in zip(r["op_names"], r["ops_ms"]):
                by_name[name].append(ms)
            # the typical query's median: with a handful of distinct
            # queries, the median of the pooled samples would jump between
            # the latencies of the two middle queries
            values["query_p50_ms"] = statistics.median(
                statistics.median(v) for v in by_name.values())
            values["query_p90_ms"] = percentile(r["ops_ms"], 0.9)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    units = {m["name"]: m["unit"] for m in declared["per_layer" if trace else "end_to_end"]}
    if workload in {w["name"] for w in declared["workloads"]}:
        if set(values) != set(units):
            die(f"measured {sorted(values)}, BENCHMARK.json declares {sorted(units)}")
    else:  # run by hand: the end-to-end metrics of its own
        units.update(REGISTRY_UNITS)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in sorted(values)}
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    summary = ", ".join(f"{k}={m['value']:.6g} {m['unit']}" for k, m in metrics.items())
    print(f"{workload} seed={seed} trace={trace} ops={len(r['ops_ms'])}: {summary}, "
          f"failed_ratio={len(failures) / attempted:.6g} ratio "
          f"({len(failures)} of {attempted})")
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}


def smoke(launch, deadline):
    """Small inputs: the generator is deterministic per seed, and a small
    daily run finishes with nothing failed."""
    digests = []
    for n, seed in enumerate((1, 1, 2)):
        d = os.path.join(WORK, f"smoke-gen-{n}")
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, SMALL_PLAYS)
        h = hashlib.md5()
        for dirpath, _, names in sorted(os.walk(d)):
            for name in sorted(names):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
        digests.append(h.hexdigest())
    ok = digests[0] == digests[1] and digests[0] != digests[2]
    print(f"generator: seed 1 twice -> {digests[0]} {digests[1]}, seed 2 -> {digests[2]}: "
          f"{'ok' if ok else 'FAILED'}")
    res = bench("daily_full", 1, 1, 1, launch, deadline, plays=SMALL_PLAYS)
    res["correct"] = res["correct"] and ok
    res["attempted"] += 1
    res["failed"] += 0 if ok else 1
    return res


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()
    if not a.smoke and not a.workload:
        p.error("--workload or --smoke is required")
    started = time.time()
    launch = build(started + 700)
    deadline = time.time() + RUN_LIMIT_S
    if a.smoke:
        res = smoke(launch, deadline)
    else:
        res = bench(a.workload, a.seed, a.seconds, a.trace, launch, deadline)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
