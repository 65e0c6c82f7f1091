#!/usr/bin/env python3
"""Alternating-pair comparison of two revisions on the flow benchmark.

    python3 tools/benchpairs.py [BASE [CHANGE]] [--pairs 10] [--seed 1]
        [--workloads pubsub_small,catalog_deep] [--trace 0]

BASE and CHANGE are git revisions of this repository (default HEAD~1 and
HEAD). Each is exported with `git archive` into its own fresh directory
under the temp dir ($TMPDIR, else /tmp), so both sides build from their
committed files alone; a built checkout is never copied, and the
repository's own `.git` gains no worktree entry that a killed run could
leave behind. Both sides are built before any run is timed.

For each workload, pair i runs `perfbench/run.py` once per side with seed
`--seed + i`, the run length BENCHMARK.json fixes, and the side that goes
first alternating from pair to pair. Nothing under `perfbench/` is edited.

For each workload and metric it prints each side's median and quartiles,
the change relative to BASE, the pairs the change won and lost (ties count
for neither, and a pair with a run that gave no result counts as not won),
and a verdict:

  gain        the change won at least 9/10 of the pairs run, and the medians
              differ in its favour by more than BASE's interquartile range
  loss        the same, in BASE's favour
  within      the change's median is no worse than BASE's by more than the
              metric's bound in BENCHMARK.json
  WORSE       it is worse by more than the bound
  unresolved  BASE's own spread (interquartile range over median) is wider
              than the bound, and not every change run beats every BASE run

A gain or loss over fewer than ten pairs is marked so, since a claim needs
at least ten. Per-layer metrics (--trace 1) have no bound and get only
gain/loss/-. Below that table it prints every run's value of every metric,
in pair order, so the summary can be checked against the runs.
Every run's `correct` flag and failed count is printed; the exit status is
1 when any run failed or was not correct, else 0.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", REPO, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def export(rev, sha):
    """A fresh directory holding the committed files of `sha`."""
    # short: sbt puts a unix socket path under it (at most 107 bytes)
    d = tempfile.mkdtemp(prefix="bp-")
    archive = subprocess.Popen(["git", "-C", REPO, "archive", "--format=tar", sha],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"benchpairs: git archive {rev} failed")
    return d


def build(checkout):
    """Compile through run.py's own build step, outside any timed run."""
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"],
                   cwd=checkout, check=True, stdout=sys.stderr)


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run: its result line, or None when it produced none."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(spec, base, change):
    """The pairs won and lost and the verdict, for one metric on one workload.
    `base` and `change` hold one value per pair run, None where a run gave
    no result."""
    pairs = len(base)
    sign = 1 if spec["better"] == "lower" else -1
    both = [(a, b) for a, b in zip(base, change) if a is not None and b is not None]
    wins = sum(1 for a, b in both if sign * (b - a) < 0)
    losses = sum(1 for a, b in both if sign * (b - a) > 0)
    base = [a for a in base if a is not None]
    change = [b for b in change if b is not None]
    q1, med_a, q3 = quartiles(base)
    med_b = statistics.median(change)
    iqr = q3 - q1
    gap = sign * (med_b - med_a)  # > 0: the change is worse
    if wins >= 0.9 * pairs and -gap > iqr:
        word = "gain"
    elif losses >= 0.9 * pairs and gap > iqr:
        word = "loss"
    elif "bound" not in spec:
        word = "-"
    elif med_a != 0 and iqr / abs(med_a) > spec["bound"]:
        all_better = all(sign * (b - a) < 0 for a in base for b in change)
        word = "within" if all_better else "unresolved"
    elif med_a != 0 and gap / abs(med_a) > spec["bound"]:
        word = "WORSE"
    else:
        word = "within"
    if word in ("gain", "loss") and pairs < 10:
        word += " (<10 pairs)"
    return wins, losses, word


def fmt(x):
    return f"{x:.4g}"


def report(workload, specs, runs, pairs):
    print(f"\n## {workload}: {pairs} pairs")
    for side in ("base", "change"):
        rs = runs[side]
        bad = [r for r in rs if r is None or not r["correct"] or r["failed"]]
        print(f"{side}: {len(rs)} runs, {len(bad)} failed or not correct, "
              f"{sum(r['failed'] for r in rs if r)} failed operations of "
              f"{sum(r['attempted'] for r in rs if r)} attempted")
    print("| metric | unit | base median [q1, q3] | change median [q1, q3] | change | "
          "won/lost | verdict |")
    print("|---|---|---|---|---|---|---|")
    values = {side: {spec["name"]: [r["metrics"][spec["name"]]["value"] if r else None
                                    for r in runs[side]] for spec in specs}
              for side in ("base", "change")}
    for spec in specs:
        name = spec["name"]
        base, change = values["base"][name], values["change"][name]
        if all(v is None for v in base) or all(v is None for v in change):
            continue
        a = quartiles([v for v in base if v is not None])
        b = quartiles([v for v in change if v is not None])
        rel = f"{100 * (b[1] - a[1]) / a[1]:+.1f} %" if a[1] else "n/a"
        wins, losses, word = verdict(spec, base, change)
        print(f"| {name} | {spec['unit']} | {fmt(a[1])} [{fmt(a[0])}, {fmt(a[2])}] | "
              f"{fmt(b[1])} [{fmt(b[0])}, {fmt(b[2])}] | {rel} | "
              f"{wins}/{losses} | {word} |")
    print(f"\nEvery run, pair 1 to {pairs} (- marks a run that gave no result):\n")
    print("| metric | base | change |")
    print("|---|---|---|")
    for spec in specs:
        name = spec["name"]
        cells = [" ".join("-" if v is None else fmt(v) for v in values[side][name])
                 for side in ("base", "change")]
        print(f"| {name} | {cells[0]} | {cells[1]} |")
    sys.stdout.flush()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", nargs="?", default="HEAD~1")
    ap.add_argument("change", nargs="?", default="HEAD")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    shas = {"base": git("rev-parse", "--verify", a.base + "^{commit}"),
            "change": git("rev-parse", "--verify", a.change + "^{commit}")}
    if git("diff", "--name-only", shas["base"], shas["change"], "--",
           "perfbench", "BENCHMARK.json"):
        print("benchpairs: WARNING: perfbench/ or BENCHMARK.json differ between the "
              "revisions, so the two sides do not run the same benchmark", file=sys.stderr)
    spec = json.loads(git("show", f"{shas['change']}:BENCHMARK.json"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    specs = spec["per_layer" if a.trace else "end_to_end"]

    dirs = {}
    try:
        for side in ("base", "change"):
            dirs[side] = export(getattr(a, side), shas[side])
            print(f"benchpairs: {side} = {getattr(a, side)} ({shas[side][:10]}) in {dirs[side]}",
                  file=sys.stderr)
            build(dirs[side])
        results = {}
        for w in workloads:
            runs = {"base": [], "change": []}
            for i in range(a.pairs):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                for side in order:
                    r = run_once(dirs[side], w, a.seed + i, spec["run_seconds"], a.trace)
                    runs[side].append(r)
                    print(f"benchpairs: {w} pair {i + 1}/{a.pairs} seed {a.seed + i} {side}: "
                          + ("no result" if r is None else
                             f"correct={r['correct']} failed={r['failed']}"), file=sys.stderr)
            results[w] = runs
            report(w, specs, runs, a.pairs)
    finally:
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)
    bad = any(r is None or not r["correct"] or r["failed"]
              for runs in results.values() for rs in runs.values() for r in rs)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
