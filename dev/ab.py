#!/usr/bin/env python3
"""A/B the repository benchmark: this checkout against a parent checkout.

Run from the repository root, with the parent commit in its own directory
(`git clone` or `git archive`, not `git worktree`):

    python3 dev/ab.py <parent-dir> <workload> <seed>... [--claim pass_s]

Each seed is one pair of `perfbench/run.py --trace 0` runs, both at the
`run_seconds` that `BENCHMARK.json` sets: pair i runs the parent first
when i is even and this checkout first when i is odd, so drift on the
box falls on both sides.
For every end-to-end metric in `BENCHMARK.json` it prints each side's
median and quartiles, the pairs this checkout won, and the gate verdict:

- a claimed metric (`--claim`, repeatable) needs at least 10 seeds, must
  win at least 9 in 10 of the pairs run (a pair missing the metric counts
  as lost), and its median must beat the parent's by more than the
  parent's interquartile range;
- every other metric's median must stay within the metric's `bound`
  (relative) of the parent's median.

Exits 1 when any run reports `correct: false` or `failed > 0`, 2 when a
gate fails, 0 otherwise. Nothing under `perfbench/` is written except
what `run.py` writes to its own `.work/` directory (the fixture tables
are copied from one side's `.work/` to the other's when only one has
them, to skip regenerating them).
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.getcwd()


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def quantile(xs, q):
    """Linear-interpolated quantile, as `perfbench/run.py` computes it."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def share_fixtures(a, b):
    """Copy fixture tables present under one side's `.work/` to the other."""
    for src, dst in ((a, b), (b, a)):
        for d in glob.glob(os.path.join(src, "perfbench", ".work", "fixtures-*")):
            to = os.path.join(dst, "perfbench", ".work", os.path.basename(d))
            if not os.path.exists(to):
                log(f"copying {d} -> {to}")
                shutil.copytree(d, to)


def run(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--claim", action="append", default=[],
                    help="an end-to-end metric this checkout claims to improve")
    a = ap.parse_args()
    parent = os.path.abspath(a.parent)
    with open(os.path.join(HERE, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    unknown = set(a.claim) - {m["name"] for m in metrics}
    if unknown:
        sys.exit(f"unknown claimed metric(s): {', '.join(sorted(unknown))}")
    seconds = bench["run_seconds"]
    share_fixtures(parent, HERE)

    sides = {"parent": parent, "change": HERE}
    results = {"parent": [], "change": []}
    bad = []
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(sides[side], a.workload, seed, seconds)
            ok = r is not None and r["correct"] and r["failed"] == 0
            if not ok:
                bad.append((side, seed))
            vals = {} if r is None else {k: v["value"] for k, v in r["metrics"].items()}
            results[side].append(vals)
            log(f"pair {i} seed {seed} {side}: "
                + ("FAILED RUN " if not ok else "")
                + " ".join(f"{k}={v:.3f}" for k, v in vals.items() if v is not None))

    n = len(a.seeds)
    gate_ok = True
    print(f"{a.workload}: {n} pairs, seeds {a.seeds[0]}..{a.seeds[-1]}, run_seconds {seconds}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p.get(name), c.get(name)) for p, c in zip(results["parent"], results["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            print(f"  {name}: no samples")
            gate_ok = False
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        won = sum(1 for p, c in pairs if (c < p if lower else c > p))
        pm, cm = statistics.median(ps), statistics.median(cs)
        iqr = quantile(ps, .75) - quantile(ps, .25)
        gain = (pm - cm) if lower else (cm - pm)
        if name in a.claim:
            ok = n >= 10 and won >= 0.9 * n and gain > iqr
            rule = (f"claim: won {won}/{n} (need 10+ pairs, 90% won), "
                    f"margin {gain:+.3f} vs parent IQR {iqr:.3f}")
        else:
            limit = pm * (1 + m["bound"]) if lower else pm * (1 - m["bound"])
            ok = cm <= limit if lower else cm >= limit
            rule = f"bound {m['bound']}: change median {cm:.3f} vs limit {limit:.3f}"
        gate_ok &= ok
        print(f"  {name} [{m['unit']}]: parent {pm:.3f} (q1 {quantile(ps, .25):.3f}, "
              f"q3 {quantile(ps, .75):.3f}) | change {cm:.3f} (q1 {quantile(cs, .25):.3f}, "
              f"q3 {quantile(cs, .75):.3f}) | {(cm - pm) / pm:+.1%} | won {won}/{n} "
              f"| {'PASS' if ok else 'FAIL'} ({rule})")
    if bad:
        print("FAILED RUNS (correct false, failed > 0, or no result): "
              + ", ".join(f"{s} seed {d}" for s, d in bad))
        return 1
    print("verdict:", "PASS" if gate_ok else "FAIL")
    return 0 if gate_ok else 2


if __name__ == "__main__":
    sys.exit(main())
