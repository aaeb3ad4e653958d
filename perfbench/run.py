#!/usr/bin/env python3
"""graft benchmark: one run of one workload at one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness (sbt, the
repository's own sources) into perfbench/.build; inputs are generated from
the seed into perfbench/.cache (outside every timer); each run works in a
scratch directory under perfbench/.work that it removes on exit.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (BENCHMARK.json lists both).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(BENCH, ".build")
CACHE = os.path.join(BENCH, ".cache")
WORK = os.path.join(BENCH, ".work")
HARNESS = os.path.join(BENCH, "harness")
JVM_TIMEOUT_S = 165

TIERS = {"ingest_etl": "etl", "query_mix": "query"}

# Metric -> unit, for every metric the benchmark prints.
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "rows_per_s": "rows/s"}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


# ---------------------------------------------------------------- build

def _source_key():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), HARNESS]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    files.append(os.path.join(HARNESS, "project", "build.properties"))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the harness (once per source state); return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("graft sources not found: run from the repository root")
    key = _source_key()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    oracles = os.path.join(BUILD, "oracles.json")
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(oracles):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export harness/Runtime/fullClasspath"],
                           cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=fh,
                           text=True, timeout=840)
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die("build failed")
    cp = lines[-1].strip()
    subprocess.run(java_cmd(cp, "2g", []) + ["perfbench.Harness", "--oracles", oracles],
                   check=True, timeout=120, stdout=subprocess.DEVNULL)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(key)
    return cp


def java_cmd(cp, heap, props):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    return ["java"] + opens + [f"-Xmx{heap}", "-XX:-UsePerfData"] + props + ["-cp", cp]


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, data, work, seconds, trace, seed):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(cp, "3g", [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]) + [
        "perfbench.Harness", workload, data, work, str(seconds), str(trace), str(seed), out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"harness exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def tail_percentile(xs):
    """The highest percentile with at least ten samples beyond it (max when
    there are too few samples), and that percentile."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    pct = 100.0 * (n - 10) / n
    return xs[n - 11], pct


def metrics(res, rows_fn, trace, fail_frac):
    ops = res["ops"]
    secs = [o["seconds"] for o in ops]
    total = sum(secs)
    if not trace:
        # the first set-up includes JVM start and is reported per layer
        # (setup.cold_s); setup_s is the median of the rebuilds after it
        m = {"setup_s": statistics.median(res["setup_s"][1:]),
             "op_p50_s": statistics.median(secs),
             "ops_per_s": len(ops) / total,
             "rows_per_s": sum(rows_fn(o) for o in ops) / total}
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}
    units = per_layer_names()
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    vals = {k: 0.0 for k in units}
    keys = {k for o in traced for k in o["layers"]}
    for k in keys & set(units):
        xs = [o["layers"][k] for o in traced if o["layers"].get(k) is not None]
        if xs:
            vals[k] = statistics.median(xs)
    vals["trace.untagged_jobs"] = sum(o["layers"].get("trace.untagged_jobs", 0) for o in traced)
    for name in {o["name"] for o in ops}:
        if f"query.{name}_s" in units:
            vals[f"query.{name}_s"] = statistics.median(
                o["seconds"] for o in ops if o["name"] == name)
    vals["trace_overhead_frac"] = (statistics.median(o["seconds"] for o in traced) /
                                   statistics.median(o["seconds"] for o in plain) - 1.0)
    vals["op.tail_s"], vals["op.tail_pct"] = tail_percentile(secs)
    vals["setup.cold_s"] = res["setup_s"][0]
    # single samples that spread too widely across runs for a bound
    vals["cold_op_s"] = res["cold"]["seconds"]
    vals["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    vals["fail_frac"] = fail_frac
    return {k: {"value": v, "unit": units[k]} for k, v in sorted(vals.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TIERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    data, manifest = gen.generate(TIERS[a.workload], a.seed, os.path.join(CACHE, "data"))
    with open(os.path.join(BUILD, "oracles.json")) as fh:
        oracle_sql = json.load(fh)
    expected = oracle.expected(a.workload, data, manifest, oracle_sql)

    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, a.seed)
        verdicts = oracle.check(a.workload, res, expected, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"session_confs": res["confs"]}))
    bad = [v for v in verdicts if not v[1]]
    for name, _, why in bad[:10]:
        print(f"perfbench: wrong output: {name}: {why}", file=sys.stderr)
    attempted = len(verdicts)
    untagged = sum(o["layers"].get("trace.untagged_jobs", 0) for o in res["ops"] if o["traced"])
    rows_fn = oracle.rows_fn(a.workload, expected)
    print(json.dumps({
        "correct": not bad and untagged == 0,
        "attempted": attempted,
        "failed": len(bad),
        "metrics": metrics(res, rows_fn, a.trace, len(bad) / attempted),
    }))


if __name__ == "__main__":
    main()
