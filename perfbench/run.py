#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result line.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
library from source with sbt (into perfbench/target and target/); later
runs reuse the build while the sources are unchanged. Inputs are made
from --seed into .bench_build/. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}; the line before it
is a report with every metric's sample count, each failure's exception
class and message, and the environment. The exit code is 1 when any
output was wrong or any operation failed.

See perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("corpus", "pipeline")
FIXTURE_SF = 0.1
PIPELINE_DOCS = 600
HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# The metrics each run prints, in BENCHMARK.json's order, with their units.
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt once per source digest; return the classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("the graft sources (src/main/scala/graft) are not in this directory")
    digest = source_digest(root)
    cp_file = os.path.join(out, f"classpath-{digest[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "-Xmx2g -Dsbt.offline=true")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), digest


def git_commit():
    """The commit of the checkout when it is itself a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
    except OSError:
        return None
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(os.getcwd()):
        return out[1]
    return None


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classpath, digest = build(root, out)

    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(a, classpath, digest, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, classpath, digest, work):
    cores = len(os.sched_getaffinity(0))
    fixture = os.path.join(work, "fixture")
    t0 = time.perf_counter()
    corpus_run = a.workload == "corpus"
    # the pipeline reads no fixture table; Graft.init still loads one
    gen.fixture(fixture, a.seed, FIXTURE_SF if corpus_run else 0.001)
    extra_arg = []
    if corpus_run:
        extra_arg = [os.path.join(HERE, "corpus.txt")]
    else:
        corpus = os.path.join(work, "corpus")
        gen.dedup_corpus(corpus, a.seed, PIPELINE_DOCS)
        extra_arg = [corpus]
    gen_s = time.perf_counter() - t0

    report_file = os.path.join(work, "report.json")
    # A fixed, pre-touched heap and the parallel collector: GC behaviour
    # alike across runs, and warm passes that level off sooner than G1's.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), str(cores), fixture, work, report_file] + extra_arg)
    t1 = time.perf_counter()
    proc = subprocess.run(cmd, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                          timeout=170)
    if proc.returncode != 0 or not os.path.exists(report_file):
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-6000:])
        fail(f"the harness exited with code {proc.returncode}")
    with open(report_file) as f:
        r = json.load(f)

    jvm_s = time.perf_counter() - t1
    failures = list(r["failures"])
    attempted = r["attempted"]
    t2 = time.perf_counter()
    if r["oracle"]:
        checked = oracle.check(fixture, os.path.join(work, "results"), r["oracle"])
        attempted += len(checked)
        failures += [f for f in checked if f]
    check_s = time.perf_counter() - t2

    setup = r["setup"]
    extra = r["extra"]
    # set-up: session, Tables, Graft.init, input materialization, and the
    # cold pass that fills the caches before the timed passes. Generating
    # the inputs (gen_s, in the report line) is the benchmark's own work
    # and stays out.
    setup_s = (sum(v for k, v in setup.items() if k.endswith("_s"))
               + setup["tables.load_ms"] / 1000 + r["cold_sweeps_s"][0])
    # Warm figures cover every warm pass; the cold pass before them is
    # the warm-up.
    sweeps = r["sweeps_s"]
    reads = [ms for p in r["reads_ms"] for ms in p]
    writes = r["writes_ms"]
    e2e = {
        "setup_s": (setup_s, 1),
        "query_p50_ms": (quantile(reads, 0.5), len(reads)),
        "query_p90_ms": (quantile(reads, 0.9), len(reads)),
        "sweep_s": (statistics.median(sweeps), len(sweeps)),
        "retained_mb": (r["retained_mb"], 1),
    }
    info = dict(e2e)
    info["cold_sweep_s"] = (r["cold_sweeps_s"][0], 1)
    info["cold_p50_ms"] = (quantile(r["cold_ms"], 0.5), len(r["cold_ms"]))
    info["error_rate"] = (len(failures) / max(attempted, 1), attempted)
    if a.workload == "pipeline":
        warm = r["dedup_sweeps_s"][1:]
        info["docs_per_s"] = (extra["docs"] / statistics.median(warm), len(warm))
        info["insert_p50_ms"] = (quantile(writes, 0.5), len(writes))
        info["insert_p90_ms"] = (quantile(writes, 0.9), len(writes))
        info["space_amp"] = (extra["space_amp"], len(sweeps) + 1)
    units = dict(END_TO_END, cold_sweep_s="s", cold_p50_ms="ms", error_rate="ratio",
                 docs_per_s="1/s", insert_p50_ms="ms", insert_p90_ms="ms", space_amp="ratio")

    layers = {}
    if a.trace:
        lay = dict(r["layers"])
        lay.update({k: v for k, v in setup.items() if k in dict(PER_LAYER)})
        rounds = max(len(r["traced"]), 1)
        lay["ops.lsh_candidates"] = extra.get("ops.lsh_candidates", 0.0)
        lay["ops.lsh_confirmed"] = extra.get("ops.lsh_confirmed", 0.0)
        lay["ops.lsh_precision"] = (lay["ops.lsh_confirmed"] / lay["ops.lsh_candidates"]
                                    if lay["ops.lsh_candidates"] else 0.0)
        inserted = extra.get("mut.rows_inserted_traced", 0.0)
        lay["mut.rows_written_per_row"] = (lay.get("mut.rows_written", 0.0) / inserted
                                           if inserted else 0.0)
        lay["mut.bytes_written"] = lay.get("mut.bytes_written", 0.0) / rounds
        lay["mut.files_written"] = extra.get("mut.files_written", 0.0)
        lay["mut.snapshots_live"] = extra.get("mut.snapshots_live", 0.0)
        tr, un = r["traced"], r["untraced"]
        lay["trace.overhead_frac"] = (statistics.median(tr) / statistics.median(un) - 1
                                      if tr and un else 0.0)
        layers = {k: lay.get(k, 0.0) for k, _ in PER_LAYER}

    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "metrics": {k: {"value": v, "unit": units[k], "n": n} for k, (v, n) in info.items()},
        "warm_passes_s": r["sweeps_s"],
        "retained_mb": {k.split(".", 1)[1]: v for k, v in extra.items()
                        if k.startswith("retained.")},
        "ops": {k: {"cold_ms": v[0], "warm_median_ms": statistics.median(v[1:]) if v[1:] else None,
                    "warm_n": len(v) - 1} for k, v in r["by_op_ms"].items()},
        "layers": layers, "setup": dict(setup, gen_s=gen_s),
        # the benchmark's own costs around the measured work
        "harness_s": {"jvm": jvm_s, "oracle_check": check_s,
                      "results_write": extra.get("results_write_s", 0.0)},
        "failures": failures, "source_sha256": digest, "git_commit": git_commit(),
        "env": r["env"]}))

    metrics = ({k: {"value": layers[k], "unit": u} for k, u in PER_LAYER} if a.trace else
               {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END})
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
