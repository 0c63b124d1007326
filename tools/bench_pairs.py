#!/usr/bin/env python3
"""Paired parent/change runs of the repo benchmark (perfbench/run.py).

    python3 tools/bench_pairs.py --parent HEAD~1 --workload batch_sf01 \\
        --pairs 10 --seed0 11 --claim retained_heap_mb

Run from the repository root. The parent revision is exported with
`git archive` into a scratch directory (no worktree is registered, so an
interrupted run leaves nothing behind in .git); the change is the working
tree as it is. Pair i runs both sides with seed `seed0 + i`, alternating
which side runs first. Both sides share one CARGO_TARGET_DIR, so the
generated inputs and the oracle digests are built once; the compiled
classes are keyed by source content, so each side gets its own.

For every end-to-end metric in BENCHMARK.json (every per-layer metric
with --trace 1) it prints each side's median and quartiles, the
change/parent ratio of the medians with its base (the parent's median),
and how many pairs the change won (ties count for neither side). With --claim it also says whether the gain rule holds for
that metric: the change wins at least nine tenths of the pairs and the
medians differ, in the better direction, by more than the parent's
interquartile distance. The same numbers, plus every run's raw result,
are written as JSON (--json; default under the build directory). With
--trace 1 each side's span file is kept as
<build>/perfbench/traces/<side>-<workload>-seed<N>.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def at(p):
        k = (len(s) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)
    return at(0.25), at(0.5), at(0.75)


def summarize(pairs, metric, better):
    """Per-metric summary over the pairs where both sides report it."""
    both = [(p["parent"]["metrics"][metric]["value"],
             p["change"]["metrics"][metric]["value"])
            for p in pairs
            if metric in p["parent"].get("metrics", {}) and
            metric in p["change"].get("metrics", {})]
    if not both:
        return None
    par = quartiles([a for a, _ in both])
    chg = quartiles([b for _, b in both])
    sign = -1 if better == "lower" else 1
    wins = sum(1 for a, b in both if sign * (b - a) > 0)
    losses = sum(1 for a, b in both if sign * (b - a) < 0)
    gain = sign * (chg[1] - par[1])
    return {
        "better": better, "pairs": len(both),
        "parent": {"q1": par[0], "median": par[1], "q3": par[2]},
        "change": {"q1": chg[0], "median": chg[1], "q3": chg[2]},
        "ratio": chg[1] / par[1] if par[1] else None, "base": par[1],
        "change_wins": wins, "parent_wins": losses,
        "gain_rule": wins >= 0.9 * len(both) and gain > par[2] - par[0],
    }


def run_side(cwd, args, seed, env, side):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {}
    if p.returncode != 0 or "metrics" not in result:
        return {"error": "exit %d: %s" % (p.returncode, p.stderr.strip()[-400:])}
    if args.trace:
        # both sides write the same trace path: keep each side's copy
        traces = os.path.join(env["CARGO_TARGET_DIR"], "perfbench", "traces")
        name = "%s-seed%d.jsonl" % (args.workload, seed)
        os.replace(os.path.join(traces, name),
                   os.path.join(traces, "%s-%s" % (side, name)))
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=11)
    ap.add_argument("--seconds", type=float,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--claim", help="end-to-end metric the change claims to improve")
    ap.add_argument("--json", help="output path of the JSON summary")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    # a traced run reports the per-layer metrics instead of the end-to-end ones
    shown = {m["name"]: m for m in bench["per_layer" if args.trace else "end_to_end"]}
    if args.claim and args.trace:
        ap.error("--claim reads an end-to-end metric: run it with --trace 0")
    if args.claim and args.claim not in shown:
        ap.error("--claim must be one of %s" % sorted(shown))

    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                             os.path.join(ROOT, ".bench_build"))
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    rev = subprocess.check_output(["git", "rev-parse", "--verify", args.parent],
                                  cwd=ROOT, text=True).strip()
    parent_dir = tempfile.mkdtemp(prefix="parent-%s-" % rev[:10], dir=target)
    pairs = []
    try:
        archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", parent_dir], stdin=archive.stdout)
        if archive.wait() != 0:
            raise SystemExit("git archive %s failed" % rev)
        for i in range(args.pairs):
            seed = args.seed0 + i
            sides = [("parent", parent_dir), ("change", ROOT)]
            if i % 2:
                sides.reverse()
            pair = {"seed": seed, "first": sides[0][0]}
            for name, cwd in sides:
                pair[name] = run_side(cwd, args, seed, env, name)
                m = pair[name].get("metrics", {})
                sys.stderr.write("pair %d seed %d %-6s %s\n" % (
                    i + 1, seed, name, pair[name].get("error") or " ".join(
                        "%s=%.4g" % (k, m[k]["value"])
                        for k in list(shown)[:6] if k in m)))
            pairs.append(pair)
    finally:
        shutil.rmtree(parent_dir, ignore_errors=True)

    ok = [p for p in pairs if "error" not in p["parent"] and "error" not in p["change"]]
    summary = {name: summarize(ok, name, m["better"]) for name, m in shown.items()}
    print("%s: %d pairs (%d complete), parent %s, seeds %d-%d, %s s, trace %d" % (
        args.workload, len(pairs), len(ok), rev[:10], args.seed0,
        args.seed0 + args.pairs - 1, args.seconds, args.trace))
    print("%-26s %-28s %-28s %-18s %s" % (
        "metric", "parent q1/median/q3", "change q1/median/q3",
        "ratio (base)", "change wins"))
    for name, s in summary.items():
        if s is None:
            print("%-26s (not reported)" % name)
            continue
        fmt = lambda q: "%.4g/%.4g/%.4g" % (q["q1"], q["median"], q["q3"])
        print("%-26s %-28s %-28s %-18s %d/%d" % (
            name, fmt(s["parent"]), fmt(s["change"]),
            "%.3f (%.4g)" % (s["ratio"], s["base"]) if s["ratio"] is not None
            else "- (0)", s["change_wins"], s["pairs"]))
    for side in ("parent", "change"):
        att = sum(p[side].get("attempted", 0) for p in ok)
        bad = sum(p[side].get("failed", 0) for p in ok)
        print("%s: %d of %d operations failed" % (side, bad, att))
    claim = None
    if args.claim and summary.get(args.claim):
        claim = {"metric": args.claim, "holds": summary[args.claim]["gain_rule"]}
        print("claim %s: gain rule %s" % (
            args.claim, "holds" if claim["holds"] else "does NOT hold"))

    out = args.json or os.path.join(
        target, "perfbench", "pairs",
        "%s-%s-seed%d.json" % (args.workload, rev[:10], args.seed0))
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "parent": rev, "seconds": args.seconds,
                   "trace": args.trace, "summary": summary, "claim": claim,
                   "pairs": pairs}, f, indent=1)
    print("written to %s" % out)
    sys.exit(0 if len(ok) == len(pairs) else 1)


if __name__ == "__main__":
    main()
