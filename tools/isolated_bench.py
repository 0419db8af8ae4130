#!/usr/bin/env python3
"""Reproduce the BENCH_ISOLATED protocol: ONE fresh JVM per query,
warm mode (1 untimed warmup, then --warm timed in-JVM runs; the MIN is
reported and the full sample vector is kept), 1-min load recorded
before each run so window contamination is diagnosable from the
artifact alone (this box shows bursty hypervisor-level interference —
see BENCH_ISOLATED_r8.json's notes; a burst can only RAISE a sample,
so min-over-repeats converges on plan cost from above).

Usage:
  tools/isolated_bench.py [-o out.json] [--sf DIR] [query ...]

With no queries named, runs the harness's heavy list: the QuerySpecs
declared with `heavy = true` under src/main/scala/graft/queries/, in
numeric qNN order — the same flag graft.Bench's fork packer reads, so
the two cannot disagree in either direction (a stale hand mirror
silently skipped queries ADDED to the Scala side).

Driver-side tooling (python3), like tools/compare.py — not a repo dep.
"""
import argparse, json, os, re, subprocess, sys, time

QUERIES_DIR = os.path.join(os.path.dirname(__file__), "..",
                           "src", "main", "scala", "graft", "queries")

def heavy_list():
    """Names of the `heavy = true` QuerySpecs, ordered by qNN. Each spec
    opens with `QuerySpec("qNN_name",` and ends before the next one, so
    a spec is heavy when its own span carries `heavy = true`."""
    names = []
    for f in sorted(os.listdir(QUERIES_DIR)):
        if not f.endswith(".scala"):
            continue
        src = open(os.path.join(QUERIES_DIR, f), encoding="utf-8").read()
        starts = list(re.finditer(r'QuerySpec\("(q\d+_\w+)"', src))
        for k, m in enumerate(starts):
            end = starts[k + 1].start() if k + 1 < len(starts) else len(src)
            if re.search(r"\bheavy\s*=\s*true\b", src[m.end():end]):
                names.append(m.group(1))
    names.sort(key=lambda n: int(re.match(r"q(\d+)_", n).group(1)))
    assert len(names) >= 20, f"heavy QuerySpec parse looks wrong: {names}"
    return names

def load1():
    return os.getloadavg()[0]

def run_one(name, sfdir, warm):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sfdir,
               SPARK_GRAFT_QUERIES=name,
               SPARK_GRAFT_WARM=str(warm),
               SPARK_GRAFT_NO_ARTIFACT="1")
    proc = subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"],
        env=env, capture_output=True, text=True)
    # sbt usually merges the [bench] stderr line into stdout, but don't
    # rely on it — scan both streams. The final JSON line carries the
    # reported (min-of-warm) time under the short key; the [bench] line
    # carries the full sample vector, whose tokens are floats OR the
    # literal 'fail' (a failed run records +Infinity in the min).
    out = proc.stdout + "\n" + proc.stderr + "\n"
    m, samples, ambient = None, None, None
    for line in out.splitlines():
        if '"metric"' in line:
            j = json.loads(line[line.index("{"):])
            short = name.split("_")[0]
            m = j["queries"].get(short)
        sm = re.search(r"\[bench\] \S+ .*\(samples: ([0-9a-z. ]+)\)", line)
        if sm:
            # keep 'fail' as the literal token: the artifact must stay
            # strict JSON (inf isn't) and nothing downstream does math
            # on the vector
            samples = ["fail" if x == "fail" else float(x)
                       for x in sm.group(1).split()]
        am = re.search(r"\[ambient load1 ([-0-9.]+) steal ([-0-9.]+)%\]",
                       line)
        if am:
            # [load1 at query start, steal% across the sample window]
            # measured INSIDE the benched JVM (round 14) — the row
            # carries its own contamination evidence; -1.0 = marker
            ambient = [float(am.group(1)), float(am.group(2))]
    return m, samples, ambient, out

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("-o", "--out", default="/tmp/isolated_bench.json")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", type=int, default=3,
                    help="timed in-JVM runs per query (min reported); "
                         "1 = the historical run-twice-report-2nd")
    ap.add_argument("queries", nargs="*")
    a = ap.parse_args()
    names = a.queries or heavy_list()
    res, loads, vecs, ambs, t0 = {}, {}, {}, {}, time.time()
    for n in names:
        loads[n] = round(load1(), 2)
        sec, samples, ambient, raw = run_one(n, a.sf, a.warm)
        if sec is None:
            print(f"[isolated] {n}: NO TIMING LINE (unknown name or crash)",
                  file=sys.stderr)
            print(raw[-2000:], file=sys.stderr)
            continue
        res[n] = sec
        if samples:
            vecs[n] = samples
        if ambient:
            ambs[n] = ambient
        tail = f"  samples {samples}" if samples else ""
        tail += f"  ambient {ambient}" if ambient else ""
        print(f"[isolated] {n:28s} {sec:7.2f} s  (load1 at start "
              f"{loads[n]}){tail}")
    art = {
        "sf": a.sf,
        "mode": f"ONE fresh JVM per query, SPARK_GRAFT_WARM={a.warm} (1 "
                "untimed warmup then N timed in-JVM runs, MIN reported — "
                "min over repeats is the estimator this box's bursty "
                "hypervisor interference can only raise, never lower); "
                "load1 sampled before each JVM start",
        "wall_s": round(time.time() - t0, 1),
        "queries": res,
        "samples": vecs,
        "load1_at_start": loads,
        # per-query [load1_at_query_start, steal_pct_over_sample_window]
        # measured inside the benched JVM itself (round 14)
        "ambient": ambs,
    }
    with open(a.out, "w") as f:
        json.dump(art, f, indent=1)
        f.write("\n")
    print(f"[isolated] wrote {a.out}")

if __name__ == "__main__":
    main()
