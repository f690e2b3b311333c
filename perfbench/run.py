#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload extract|curate|sync --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine together with the
harness (perfbench/build.sbt, only when a source changed), generates the
workload's inputs from the seed, runs graftbench.Main on local[4] for
`--seconds`, checks every output against DuckDB, and prints a readable
summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are the per-layer ones, and the layer table is printed.
All build output and run state stay under perfbench/ (target/, .work/).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
JVM_TIMEOUT_S = 170

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("ops_per_s", "1/s")]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def spark_home():
    """SPARK_HOME, or the first directory on PATH holding `spark-submit`
    whose parent holds Spark's jars; those jars are the engine's classpath."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(":")
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("Spark installation not found; set SPARK_HOME")


def build():
    """Compile engine + harness with sbt when any source changed."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and \
            open(STAMP).read() == stamp:
        return
    log("building engine + harness (sbt compile)")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                        "compile"], cwd=HERE, stdout=sys.stderr,
                       stderr=sys.stderr,
                       env={**os.environ, "SPARK_HOME": spark_home()})
    if r.returncode != 0:
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_jvm(workload, seed, data, work, seconds, trace):
    """Start the JVM, generate the inputs while it starts, wait for it."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars', '*')}",
           "graftbench.Main",
           "--workload", workload, "--data", data, "--work", work,
           "--seconds", str(seconds), "--trace", str(trace), "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             cwd=work)
        try:
            t = time.time()
            facts = gen.generate_ready(workload, seed, data)
            log(f"inputs generated in {time.time() - t:.1f}s: "
                f"{json.dumps(facts)}")
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            p.kill()
            p.wait()
            raise
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(out) as f:
        return json.load(f), facts


def p(xs, q):
    """q-quantile (0..1) by the nearest-rank rule."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def whole_rounds(ops):
    """The requests of the stream's complete rounds. A round holds every
    shape once, so runs of any seed time the same mix of shapes."""
    n = len(gen.TEMPLATES)
    ids = sorted(o["id"] for o in ops)
    lo, hi = -(-ids[0] // n) * n, (ids[-1] + 1) // n * n
    kept = [o for o in ops if lo <= o["id"] < hi]
    return kept if len(kept) >= n else ops


def end_to_end(workload, res, facts, fail_ratio):
    """The gated metrics, plus the workload's own figures for the summary.

    Throughput follows Little's law for a closed loop: clients divided by
    the mean operation time, which has no end-of-window effect."""
    ops = res["ops"]
    own = {"fail_ratio": fail_ratio}
    clients = 1
    if workload == "extract":
        ops, clients = whole_rounds(ops), 2
    if workload == "sync":
        own["full_load_s"] = res["facts"]["full_load_s"]
        ops = [o for o in ops if o["id"] != 0]
    lat = [o["ms"] for o in ops if o["ok"]]
    if not lat:
        raise SystemExit("no operation completed")
    p50 = statistics.median(lat)
    m = {"setup_s": res["setup_s"],
         "op_p50_ms": p50,
         "ops_per_s": clients / (statistics.mean(lat) / 1e3)}
    own["samples"] = len(lat)
    if workload == "extract":
        own["req_p50_ms"] = p50
        if len(lat) >= 100:
            own["req_p90_ms"] = p(lat, 0.9)
        own["req_per_s"] = m["ops_per_s"]
    elif workload == "curate":
        own["docs_per_s"] = facts["docs"] / (p50 / 1e3)
    else:
        own["tick_p50_ms"] = p50
        f = res["facts"]
        own["write_amp"] = f["tick_written_bytes"] / f["tick_csv_bytes"]
    return m, own


UNITS = {"samples": "count", "fail_ratio": "ratio",
         "req_p50_ms": "ms", "req_p90_ms": "ms", "req_per_s": "1/s",
         "docs_per_s": "1/s", "full_load_s": "s", "tick_p50_ms": "ms",
         "write_amp": "ratio"}


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["extract", "curate", "sync"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found "
                         "next to perfbench/; run from a full checkout")
    build()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)  # run N never sees run N-1
    data = os.path.join(work, "data")
    res, facts = run_jvm(a.workload, a.seed, data, work, a.seconds, a.trace)
    checked = check.run(a.workload, data, work, res)
    attempted = res["attempted"] + checked["extra_attempted"]
    failed = res["failed"] + checked["failed"]
    for e in res["errors"] + checked["errors"]:
        log(f"FAILED: {e}")

    if a.trace:
        units = per_layer_units()
        metrics = {k: {"value": res["layers"][k], "unit": u}
                   for k, u in units.items()}
        print(res["layer_table"])
    else:
        m, own = end_to_end(a.workload, res, facts, failed / attempted)
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
        print(f"== {a.workload} (seed {a.seed}, {a.seconds:g}s) ==")
        for k, v in own.items():
            print(f"  {k:<14} {v:>14.4f} {UNITS[k]}")
    for k, v in metrics.items():
        print(f"  {k:<26} {v['value']:>16.4f} {v['unit']}")
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
