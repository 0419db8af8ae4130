"""Benchmark runner: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve_upsert --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run in a checkout compiles the
engine together with the benchmark (perfbench/build.sbt, output in
.bench_build/); later runs reuse the build while the sources are unchanged.
Each run then generates its seeded catalog, starts a fresh JVM with its own
java.io.tmpdir under .bench_work/, and prints every metric by name and unit.
The last stdout line is the JSON result. The exit code is non-zero when any
output check failed or the run could not complete.

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (spans and Spark listener counts, written in full to
.bench_out/). --inject-fail-every N makes every Nth request ask for an id
that does not exist, to show that a failed request is counted.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_catalog  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline_cold", "serve_upsert")
CATALOG_PRODUCTS = 3000  # products in the generated dump
SAMPLE_PRODUCTS = 2000  # products sampled into the index, both workloads
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark install whose jars the build links: $SPARK_HOME, else the
    first spark-submit on PATH that sits in an install with a jars/ dir."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false",
                            "export Runtime / fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_jiffies():
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nearest_rank(values, pct):
    s = sorted(values)
    return s[min(len(s) - 1, max(0, -(-len(s) * pct // 100) - 1))]


def run_jvm(a, cp, work, dump, facts, trace, t_launch):
    """One benchmark JVM; returns its parsed result file."""
    result = os.path.join(work, "result.json")
    launch_s = time.time() - t_launch
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(trace),
              "--work", work, "--dump", dump, "--valid", str(facts["valid"]),
              "--stanzas", str(facts["stanzas"]), "--sample", str(SAMPLE_PRODUCTS),
              "--launch-s", f"{launch_s:.6f}",
              "--exec-ms", str(int(time.time() * 1000)), "--result", result,
              "--inject-fail-every", str(a.inject_fail_every)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            code = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(result):
        with open(log, errors="replace") as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"benchmark JVM failed ({code})")
    with open(result) as f:
        res = json.load(f)
    if trace:
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        shutil.copy(result + ".trace.json", os.path.join(
            ROOT, ".bench_out", f"trace-{a.workload}-{a.seed}.json"))
    return res


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description="perfbench runner")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-fail-every", type=int, default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    ambient_load1 = load1()
    steal0 = cpu_jiffies()
    t_build = time.time()
    cp = build()
    build_s = time.time() - t_build

    # One untraced JVM. A traced serve_upsert JVM alternates traced and
    # untraced operations itself; a traced pipeline_cold run, one
    # operation per JVM, adds a traced JVM after the untraced one.
    runs = []
    for trace in ([0, 1] if a.trace and a.workload == "pipeline_cold" else [a.trace]):
        work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            t_launch = time.time()
            dump = os.path.join(work, "catalog.gz")
            gen_catalog.check()
            facts = gen_catalog.write(a.seed, CATALOG_PRODUCTS, dump)
            if not runs:  # the first set-up also pays for the interpreter and build check
                t_launch -= t_build - t_start
            runs.append(run_jvm(a, cp, work, dump, facts, trace, t_launch))
        finally:
            shutil.rmtree(work, ignore_errors=True)

    steal1 = cpu_jiffies()
    total = steal1[1] - steal0[1]
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / total if total > 0 else 0.0

    op_ms = [x for r in runs for x in r["op_ms"]]
    traced_ms = [x for r in runs for x in r["traced_op_ms"]]
    failed = sum(r["op_failed"] + r["write_failed"] for r in runs)
    attempted = failed + len(op_ms) + len(traced_ms) + sum(len(r["write_ms"]) for r in runs)
    # a failed request is no faster than the slowest success: failures can
    # only raise a percentile, never lower it
    worst = max(op_ms + traced_ms, default=0.0)
    op_all = op_ms + [worst] * sum(r["op_failed"] for r in runs)
    checks = [c for r in runs for c in r["checks_failed"]]
    correct = all(r["correct"] for r in runs) and not checks

    if a.trace:
        metrics = dict(runs[-1]["layer"])
        metrics["trace.overhead_pct"] = (
            100.0 * (statistics.median(traced_ms) / statistics.median(op_ms) - 1)
            if op_ms and traced_ms else 0.0)
        metrics["ambient.load1"] = ambient_load1
        metrics["ambient.steal_pct"] = steal_pct
    else:
        if not op_all:
            fail("no operation completed in the measuring window")
        r = runs[0]
        metrics = {
            "setup_s": r["setup_s"],
            "op_p50_ms": nearest_rank(op_all, 50),
            # failed operations spend busy time but complete nothing
            "ops_per_s": (attempted - failed) / r["busy_s"],
            "hybrid_p_at_10": r["hybrid_p_at_10"],
            "ann_recall_at_10": r["ann_recall_at_10"],
            "peak_rss_mb": r["peak_rss_mb"],
        }
    missing = sorted(set(units) - set(metrics))
    if missing:
        fail(f"result lacks metrics {missing}")

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"catalog {facts['stanzas']} products (sha256 {facts['sha256'][:12]})  "
          f"sample {SAMPLE_PRODUCTS}  JVMs {len(runs)}  "
          f"build {build_s:.1f} s")
    print(f"ambient load1 {ambient_load1:.2f}  steal {steal_pct:.2f}%  "
          f"timed operations {len(op_ms)} untraced, {len(traced_ms)} traced")
    if op_ms:
        print("timed operation ms: " + " ".join(f"{x:.0f}" for x in op_ms))
    for name in units:
        print(f"  {name:28s} {metrics[name]!r:>24} {units[name]}")
    for c in checks:
        print(f"CHECK FAILED: {c}")
    print(f"  error_rate {failed}/{attempted}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
