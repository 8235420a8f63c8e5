#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

    python3 perfbench/compare.py run OUT [--runs 10] [--seed0 1] [--workload W ...]
        Run every workload (or the named ones) --runs times, each with its
        own seed, from the repository root; one file per run in OUT.
    python3 perfbench/compare.py spread OUT
        Per workload and end-to-end metric: median, quartiles and the
        quartile spread as a share of the median, against the metric's bound.
    python3 perfbench/compare.py diff BASE NEW
        Per workload and metric: each side's median and quartiles, the share
        of pairs NEW wins, and a verdict: better, no worse, unresolved or worse.
    python3 perfbench/compare.py self-check OUT
        `diff` between the odd and the even runs of one set, all of the same
        commit; it fails if any metric reads better or worse.

Verdicts follow perfbench/README.md: better when NEW wins at least nine
tenths of the pairs and the medians differ by more than BASE's quartile
spread; worse when NEW's median is worse than BASE's by more than the
metric's bound; unresolved when BASE's own spread is wider than the bound
and not every NEW run beats every BASE run; no worse otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Metrics the report line carries beyond BENCHMARK.json's end_to_end
# list. They have no bound of their own; verdicts on them use 0.25, the
# largest bound any metric may have, and any rise in error_rate is worse.
EXTRA = {"docs_per_s": ("higher", 0.25), "insert_p50_ms": ("lower", 0.25),
         "insert_p90_ms": ("lower", 0.25), "space_amp": ("lower", 0.25),
         "cold_sweep_s": ("lower", 0.25), "cold_p50_ms": ("lower", 0.25),
         "error_rate": ("lower", 0.0)}


def bounds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    return spec, dict(EXTRA, **out)


def load(d):
    """{workload: [run metrics]} from the run files in `d`, in seed order."""
    runs = {}
    outs = [n for n in os.listdir(d) if n.endswith(".out")]
    for name in sorted(outs, key=lambda n: (n.rsplit("-", 1)[0], int(n[:-4].rsplit("-", 1)[1]))):
        with open(os.path.join(d, name)) as f:
            lines = [l for l in f.read().splitlines() if l.startswith("{")]
        if len(lines) < 2:
            print(f"skipping {name}: no result", file=sys.stderr)
            continue
        info, last = json.loads(lines[-2]), json.loads(lines[-1])
        m = {k: v["value"] for k, v in info["metrics"].items()}
        m["correct"] = last["correct"]
        runs.setdefault(info["workload"], []).append(m)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def cmd_run(a):
    spec, _ = bounds()
    os.makedirs(a.out, exist_ok=True)
    names = a.workload or [w["name"] for w in spec["workloads"]]
    base = spec["command"]
    for i in range(a.runs):
        for w in names:
            seed = a.seed0 + i
            path = os.path.join(a.out, f"{w}-{seed}.out")
            with open(path, "w") as f:
                rc = subprocess.run(base + ["--workload", w, "--seed", str(seed), "--seconds",
                                            str(spec["run_seconds"]), "--trace", str(a.trace)],
                                    cwd=ROOT, stdout=f, stderr=subprocess.DEVNULL).returncode
            print(f"{w} seed {seed}: exit {rc}", flush=True)


def cmd_spread(a):
    spec, bnd = bounds()
    ok = True
    for w, rs in sorted(load(a.dir).items()):
        for m in [e["name"] for e in spec["end_to_end"]]:
            xs = [r[m] for r in rs]
            q1, q2, q3 = quartiles(xs)
            share = (q3 - q1) / q2 if q2 else float("inf")
            b = bnd[m][1]
            flag = "" if m == "setup_s" or share < b / 3 else "  <-- above bound/3"
            ok &= bool(m == "setup_s" or share <= b)
            print(f"{w:15} {m:13} n={len(xs):2} median={q2:12.4f} q1={q1:12.4f} q3={q3:12.4f}"
                  f" spread={share:6.3f} bound={b}{flag}")
    return 0 if ok else 1


def compare(base, new, bnd):
    rows = []
    for w in sorted(set(base) & set(new)):
        for m in [k for k in base[w][0] if k in bnd]:
            xs = [r[m] for r in base[w] if m in r]
            ys = [r[m] for r in new[w] if m in r]
            if not xs or not ys:
                continue
            better, bound = bnd[m]
            sign = 1 if better == "higher" else -1
            wins = sum(1 for x, y in zip(xs, ys) if sign * (y - x) > 0)
            pairs = min(len(xs), len(ys))
            bq1, bm, bq3 = quartiles(xs)
            nq1, nm, nq3 = quartiles(ys)
            gain = sign * (nm - bm)  # > 0: NEW is better
            spread = bq3 - bq1
            if bm == 0 and nm == 0:
                verdict = "no worse"
            elif -gain > bound * abs(bm):
                verdict = "worse"
            elif pairs and wins >= 0.9 * pairs and gain > spread:
                verdict = "better"
            elif spread > bound * abs(bm) and not all(sign * (y - x) > 0 for x in xs for y in ys):
                verdict = "unresolved"
            else:
                verdict = "no worse"
            rows.append((w, m, bm, bq1, bq3, nm, nq1, nq3, wins, pairs, verdict))
    return rows


def print_rows(rows):
    print(f"{'workload':15} {'metric':14} {'base median [q1, q3]':>36} "
          f"{'new median [q1, q3]':>36} {'won':>6}  verdict")
    for w, m, bm, bq1, bq3, nm, nq1, nq3, wins, pairs, v in rows:
        print(f"{w:15} {m:14} {bm:12.4f} [{bq1:10.4f}, {bq3:10.4f}] "
              f"{nm:12.4f} [{nq1:10.4f}, {nq3:10.4f}] {wins:2}/{pairs:<3}  {v}")


def cmd_diff(a):
    _, bnd = bounds()
    rows = compare(load(a.base), load(a.new), bnd)
    print_rows(rows)
    return 1 if any(r[-1] == "worse" for r in rows) else 0


def cmd_self_check(a):
    _, bnd = bounds()
    runs = load(a.dir)
    odd = {w: rs[0::2] for w, rs in runs.items()}
    even = {w: rs[1::2] for w, rs in runs.items()}
    rows = compare(odd, even, bnd)
    print_rows(rows)
    bad = [r for r in rows if r[-1] in ("better", "worse")]
    print("self-check:", "FAILED" if bad else "passed",
          f"({len(bad)} of {len(rows)} metrics read better or worse against the same commit)")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--trace", type=int, default=0, choices=(0, 1))
    r.add_argument("--workload", action="append")
    s = sub.add_parser("spread")
    s.add_argument("dir")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    c = sub.add_parser("self-check")
    c.add_argument("dir")
    a = ap.parse_args()
    return {"run": cmd_run, "spread": cmd_spread, "diff": cmd_diff,
            "self-check": cmd_self_check}[a.cmd](a) or 0


if __name__ == "__main__":
    sys.exit(main())
