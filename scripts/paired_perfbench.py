#!/usr/bin/env python3
"""Paired parent/change runs of the repo benchmark (perfbench).

    python3 scripts/paired_perfbench.py --parent HEAD~1 --seeds 2-11 \
        --workloads snapshot_query,rpl_ingest,gates --seconds 5

Exports the committed files of the parent ref (default HEAD~1) with
`git archive` into a temporary directory, which leaves the repository's
git state untouched, and compares them with this repository's working
tree, the change. It stops when the two do not differ. Then, seed by
seed and workload by workload, it runs `perfbench/run.py --trace 0` once
in each, alternating which side goes first per seed. Each side builds
from its own sources into its own build directory. Every result line is
kept, one JSON object per run, in --out; a run that fails or reports
`correct: false` stays in the table as a failed run.

Prints, per workload and end-to-end metric, each side's median with its
quartiles [q1-q3], the ratio change/parent of the medians, how many pairs
the change won (strictly better), and |median change - median parent|
against the parent's interquartile range: the table format CHANGES.md
uses. Nothing under perfbench/ is written except the build and result
directories run.py itself writes.

Run nothing else on the machine meanwhile: the spread between runs is
what a gain is judged against.
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


def seeds_of(spec):
    """'2-11' or '2,3,5' -> [2, ..., 11] / [2, 3, 5]."""
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out.extend(range(int(lo), int(hi) + 1))
        elif part:
            out.append(int(part))
    return out


def end_to_end(root):
    """The end-to-end metrics BENCHMARK.json declares: (name, better)."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["better"]) for m in spec["end_to_end"]]


def run_once(checkout, workload, seed, seconds):
    """One --trace 0 run in `checkout`: its JSON result, or a failed one."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "error": (p.stderr or p.stdout)[-500:]}
    if p.returncode != 0:
        result["correct"] = False
    return result


def value(result, metric):
    """A metric's value in a run result (metrics may carry their unit)."""
    v = result.get(metric, result.get("metrics", {}).get(metric))
    if isinstance(v, dict):
        v = v.get("value")
    return v


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x, metric):
    return f"{x:.0f}" if metric.endswith("_mb") else f"{x:.3f}"


def table(results, metrics, workloads):
    rows = ["| workload | metric | parent | change | change/parent | "
            "change wins | \\|Δmed\\| vs parent IQR |",
            "|---|---|---|---|---|---|---|"]
    for w in workloads:
        pairs = [(r["parent"], r["change"]) for r in results if r["workload"] == w]
        for metric, better in metrics:
            ok = [(value(p, metric), value(c, metric)) for p, c in pairs
                  if p.get("correct") and c.get("correct")
                  and value(p, metric) is not None and value(c, metric) is not None]
            if not ok:
                rows.append(f"| {w} | {metric} | – | – | – | 0/{len(pairs)} | – |")
                continue
            par = [p for p, _ in ok]
            chg = [c for _, c in ok]
            p1, pm, p3 = quartiles(par)
            c1, cm, c3 = quartiles(chg)
            wins = sum(1 for p, c in ok if (c < p if better == "lower" else c > p))
            ratio = cm / pm if pm else float("nan")
            rows.append(
                f"| {w} | {metric} | {fmt(pm, metric)} [{fmt(p1, metric)}–{fmt(p3, metric)}] "
                f"| {fmt(cm, metric)} [{fmt(c1, metric)}–{fmt(c3, metric)}] "
                f"| {ratio:.3f} | {wins}/{len(pairs)} "
                f"| {fmt(abs(cm - pm), metric)} vs {fmt(p3 - p1, metric)} |")
    failed = sum(1 for r in results for side in ("parent", "change")
                 if not r[side].get("correct"))
    rows.append("")
    rows.append(f"{2 * len(results)} runs, {failed} failed or incorrect.")
    return "\n".join(rows)


def export(ref):
    """The committed files of `ref`, extracted into a new temporary dir."""
    out = tempfile.mkdtemp(prefix="paired_parent_")
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", ref],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", out], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        shutil.rmtree(out)
        sys.exit(f"git archive {ref} failed")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD~1",
                    help="git ref of the parent (default HEAD~1)")
    ap.add_argument("--seeds", default="2-11")
    ap.add_argument("--workloads", default="snapshot_query,rpl_ingest,gates")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--out", default="paired_perfbench.jsonl",
                    help="where every run's result line is appended")
    args = ap.parse_args()

    if subprocess.run(["git", "-C", ROOT, "diff", "--quiet", args.parent]).returncode == 0:
        sys.exit(f"the working tree does not differ from {args.parent}: nothing to compare")
    parent_dir = export(args.parent)
    workloads = [w for w in args.workloads.split(",") if w]
    metrics = end_to_end(ROOT)
    results = []
    try:
        with open(args.out, "a") as out:
            for i, seed in enumerate(seeds_of(args.seeds)):
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                for w in workloads:
                    pair = {"workload": w, "seed": seed, "first": order[0]}
                    for side in order:
                        checkout = parent_dir if side == "parent" else ROOT
                        pair[side] = run_once(checkout, w, seed, args.seconds)
                        print(f"seed {seed} {w} {side}: "
                              f"op_p50_s={value(pair[side], 'op_p50_s')} "
                              f"correct={pair[side].get('correct')}",
                              file=sys.stderr, flush=True)
                    out.write(json.dumps(pair) + "\n")
                    out.flush()
                    results.append(pair)
    finally:
        shutil.rmtree(parent_dir)
    print(table(results, metrics, workloads))


if __name__ == "__main__":
    main()
