#!/usr/bin/env python3
"""A/B a change against its parent revision on one benchmark workload.

    python3 tools/ab_pairs.py --workload launch_backfill --pairs 10 --seed 911

The parent revision (--parent, default HEAD) is exported with `git archive`
into <workdir>/ab-<commit>, reused by later calls, so its benchmark build and
derived data are kept. The change side is this checkout, uncommitted edits
included. Each pair runs `perfbench/run.py` untraced once per side with the
same seed, seeds counting up from --seed; the parent runs first in even
pairs, the change in odd ones.

For every end-to-end metric in BENCHMARK.json the report gives each side's
median and quartiles, the parent's IQR, the pairs the change won (ties count
for neither), and a verdict against the metric's bound:
  gain           the change won at least 9 in 10 pairs and its median beats
                 the parent's by more than the parent's IQR;
  regression     the change's median is worse than the parent's by more than
                 the bound;
  unresolved     a side's spread (IQR / median) exceeds the bound and not
                 every change run beats every parent run;
  no regression  otherwise.
A side with a failed operation or an incorrect run is reported, and no gain
is claimed when the change fails more operations than the parent.
Only BENCHMARK.json and perfbench/ are read.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def export(rev, workdir):
    """The committed tree of `rev` in its own directory (made once)."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    dst = os.path.join(workdir, f"ab-{sha[:12]}")
    stamp = os.path.join(dst, ".ab-export")
    if os.path.isfile(stamp):
        return dst, sha
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dst], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab_pairs: git archive {rev} failed")
    open(stamp, "w").close()
    return dst, sha


def run(root, workload, seed, seconds):
    """One untraced benchmark run in `root`; its result line."""
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: run failed in {root} (seed {seed}):\n{r.stderr[-3000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3)."""
    return statistics.quantiles(xs, n=4, method="inclusive")


def verdict(metric, parent, change, fails):
    """(wins, verdict) for one metric; `parent`/`change` are paired runs."""
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    worse = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
    spread = max((pq3 - pq1) / pmed, (cq3 - cq1) / cmed)
    all_better = all(better(c, p) for c in change for p in parent)
    if (wins >= 0.9 * len(parent) and better(cmed, pmed)
            and abs(cmed - pmed) > pq3 - pq1 and fails[1] <= fails[0]):
        return wins, "gain"
    if worse > metric["bound"]:
        return wins, "regression"
    if spread > metric["bound"] and not all_better:
        return wins, "unresolved"
    return wins, "no regression"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10, help="at least 2")
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--parent", default="HEAD", help="revision to compare against")
    ap.add_argument("--workdir", default=tempfile.gettempdir(),
                    help="where the parent revision is exported")
    a = ap.parse_args()
    if a.pairs < 2:
        sys.exit("ab_pairs: quartiles need at least 2 pairs")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        sys.exit(f"ab_pairs: {a.workload} is not a BENCHMARK.json workload")
    parent_root, sha = export(a.parent, a.workdir)
    sides = {"parent": parent_root, "change": ROOT}
    results = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            results[side].append(run(sides[side], a.workload, seed, bench["run_seconds"]))
        print(f"ab_pairs: pair {i + 1}/{a.pairs} (seed {seed}, {order[0]} first) done",
              file=sys.stderr)

    fails = []
    for side in ("parent", "change"):
        rs = results[side]
        failed = sum(r["failed"] for r in rs)
        fails.append(failed)
        print(f"{side}: {'checkout' if side == 'change' else sha[:12]}, "
              f"{sum(not r['correct'] for r in rs)} incorrect runs, "
              f"failed {failed} of {sum(r['attempted'] for r in rs)} operations")
    print(f"{'metric':<14}{'parent median [q1, q3]':>30}{'change median [q1, q3]':>30}"
          f"{'parent IQR':>12}{'wins':>7}  verdict (bound)")
    for m in bench["end_to_end"]:
        name = m["name"]
        parent = [r["metrics"][name]["value"] for r in results["parent"]]
        change = [r["metrics"][name]["value"] for r in results["change"]]
        wins, v = verdict(m, parent, change, fails)
        p, c = quartiles(parent), quartiles(change)
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{name:<14}{fmt(p):>30}{fmt(c):>30}{p[2] - p[0]:>12.4g}"
              f"{f'{wins}/{a.pairs}':>7}  {v} ({m['bound']})")


if __name__ == "__main__":
    main()
