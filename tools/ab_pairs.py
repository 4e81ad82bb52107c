#!/usr/bin/env python3
"""Paired A/B runs of the repo benchmark (perfbench) between two trees.

Usage: ab_pairs.py --parent REV --change REV|DIR --workload W --pairs N
                   [--seeds S1,S2,... | --seed0 S] [--seconds 8] [--work DIR]

Each side is exported fresh into WORK/parent and WORK/change: a git
revision with `git archive`, a directory as its git-tracked files only
(working-tree contents, so uncommitted edits count; `git add` new files
first). A fresh export keeps a long-lived checkout's own `target/` and
`.bench_build/` out of the runs. Each side is built once with
perfbench/build.py, then pair i runs `perfbench/run.py --trace 0` on both
sides with one seed (seed0 + i, or the i-th of --seeds), alternating which
side goes first.

Per end-to-end metric of BENCHMARK.json it prints both sides' median and
quartiles, how many pairs the change won, and whether the gain rule holds:
the change wins at least 9 of every 10 pairs and its median beats the
parent's by more than the parent's interquartile range. Every run's JSON
line goes to WORK/runs.jsonl and the summary to WORK/summary.json.

Exits 1 if a side does not build or any run fails or is not `correct`.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(spec, dest):
    """Fresh copy of a revision (git archive) or a directory's tracked files."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    if os.path.isdir(spec):
        files = subprocess.run(["git", "-C", spec, "ls-files", "-z"], check=True,
                               stdout=subprocess.PIPE).stdout.decode().split("\0")
        for f in filter(None, files):
            src = os.path.join(spec, f)
            if os.path.isfile(src):  # a tracked file deleted in the tree is gone
                os.makedirs(os.path.dirname(os.path.join(dest, f)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, f))
    else:
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", spec], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"ab_pairs: git archive {spec} failed")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def run(side, workload, seed, seconds, log):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    with open(log, "w") as err:
        r = subprocess.run(cmd, cwd=side, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="git revision")
    ap.add_argument("--change", required=True, help="git revision or checkout directory")
    ap.add_argument("--workload", required=True, choices=("queries", "cortex_etl"))
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", help="comma-separated seeds, one per pair")
    ap.add_argument("--seed0", type=int, default=101, help="first seed when --seeds is not given")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--work", help="export and log directory (default: a new temp dir)")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")] if a.seeds else [a.seed0 + i for i in range(a.pairs)]
    if len(seeds) != a.pairs:
        raise SystemExit("ab_pairs: --seeds must name one seed per pair")
    work = os.path.abspath(a.work or tempfile.mkdtemp(prefix="ab_pairs-"))
    os.makedirs(work, exist_ok=True)
    sides = {"parent": os.path.join(work, "parent"), "change": os.path.join(work, "change")}
    export(a.parent, sides["parent"])
    export(a.change, sides["change"])
    for name, d in sides.items():
        b = subprocess.run([sys.executable, "perfbench/build.py"], cwd=d,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if b.returncode != 0:
            sys.stderr.write(b.stdout[-4000:])
            raise SystemExit(f"ab_pairs: {name} side does not build")
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end"]

    values = {"parent": [], "change": []}
    bad = []
    with open(os.path.join(work, "runs.jsonl"), "w") as runs:
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for name in order:
                log = os.path.join(work, f"{name}-{a.workload}-{seed}.log")
                res = run(sides[name], a.workload, seed, a.seconds, log)
                runs.write(json.dumps({"side": name, "pair": i, "seed": seed, "result": res}) + "\n")
                runs.flush()
                if res is None or not res.get("correct"):
                    bad.append(f"pair {i} seed {seed} {name}: "
                               f"{'no result' if res is None else 'not correct'} (log {log})")
                got[name] = res
            if all(r is not None and r.get("correct") for r in got.values()):
                for name, r in got.items():
                    values[name].append({k: v["value"] for k, v in r["metrics"].items()})
            print(f"[ab_pairs] pair {i + 1}/{a.pairs} seed {seed} done ({order[0]} first)",
                  file=sys.stderr, flush=True)

    n = len(values["parent"])
    need = math.ceil(0.9 * n)
    summary = {"workload": a.workload, "parent": a.parent, "change": a.change, "seeds": seeds,
               "pairs_ok": n, "failures": bad, "metrics": {}}
    print(f"{a.workload}: {n} good pairs; the gain rule needs >= {need} wins and a median gap "
          "over the parent IQR")
    print(f"{'metric':16} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'ratio':>7} {'wins':>6}  rule")
    for m in declared:
        name, lower = m["name"], m["better"] == "lower"
        p = [v[name] for v in values["parent"] if name in v]
        c = [v[name] for v in values["change"] if name in v]
        if not p or len(p) != len(c):
            continue
        pm, cm = statistics.median(p), statistics.median(c)
        (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
        wins = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        gap = (pm - cm) if lower else (cm - pm)
        holds = wins >= need and gap > (p3 - p1)
        ratio = cm / pm if pm else float("nan")
        summary["metrics"][name] = {"parent": p, "change": c, "parent_median": pm,
                                    "parent_iqr": [p1, p3], "change_median": cm,
                                    "change_iqr": [c1, c3], "ratio": ratio, "wins": wins,
                                    "gain_rule": holds}
        print(f"{name:16} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':>30} "
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':>30} {ratio:7.3f} {f'{wins}/{n}':>6}  "
              f"{'holds' if holds else '-'}")
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for b in bad:
        print(f"[ab_pairs] FAILED {b}", file=sys.stderr)
    print(f"[ab_pairs] runs, logs and summary.json under {work}", file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
