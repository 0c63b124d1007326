#!/usr/bin/env python3
"""Benchmark of the graft engine: warm serving and a cold batch pipeline
over its oracle-backed query registry, at sf0.1 on local[nproc].

    python3 perfbench/run.py --workload serve_sf01 --seed 1 --seconds 13 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source (see build.py) and generates the input tables; both are
cached under $CARGO_TARGET_DIR (default .bench_build). Every run gets its
own scratch directory there (java.io.tmpdir, spark.local.dir, warehouse,
checkpoint, layout staging and landed results) and removes it at exit.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics untraced; the per-layer metrics with
--trace 1, whose spans are also written to <build>/perfbench/traces/).
`python3 perfbench/run.py --selftest` runs the benchmark's own tests.
"""
import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from build import BenchError, build, call, java_cmd, sha_files, spark_jars  # noqa: E402
import gen_data  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS, select  # noqa: E402

DATA_SEED = 42
SCALE = 0.1
SETUPS = 3
RUN_LIMIT_S = 170


def ensure_data(base):
    stamp = "sf%s-seed%d-%s" % (SCALE, DATA_SEED, sha_files([os.path.join(HERE, "gen_data.py")]))
    out = os.path.join(base, "data", stamp)
    if not os.path.exists(os.path.join(out, ".ok")):
        tmp = out + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        gen_data.generate(tmp, SCALE, DATA_SEED)
        # reported on its own line, never part of setup_s
        print("generated the sf%s inputs in %.1f s" % (SCALE, time.time() - t0))
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out, stamp


def registry(classes, jars, deadline):
    path = os.path.join(classes, "queries.json")
    if not os.path.exists(path):
        tmp = os.path.join(classes, "tmp%d" % os.getpid())
        os.makedirs(tmp, exist_ok=True)
        cmd = java_cmd(jars, tmp, "1g") + [
            "-cp", classes + ":" + jars + "/*", "graft.perfbench.Harness", "list",
            path + ".tmp"]
        rc = call(cmd, os.path.join(classes, "list.log"), deadline - time.time())
        shutil.rmtree(tmp, ignore_errors=True)
        if rc != 0:
            raise BenchError("listing the query registry failed")
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def run(args, root):
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    if args.workload not in WORKLOADS:
        raise BenchError("unknown workload %r (have %s)" % (args.workload, sorted(WORKLOADS)))
    wl = WORKLOADS[args.workload]
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(base, exist_ok=True)
    jars = spark_jars()
    # the first run in a checkout compiles, so it gets the longer allowance
    classes = build(root, base, jars, t_start + 880)
    deadline = max(deadline, time.time() + 120)
    data, data_stamp = ensure_data(base)
    queries = registry(classes, jars, deadline)
    names = select(wl, queries)
    by_name = {q["name"]: q for q in queries}
    modules = {q["name"]: q["module"] for q in queries}

    work = os.path.join(base, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        owners = {q["name"] for q in queries if q["memo"] == "owner"}
        order = metrics.request_order(names, args.seed if wl["seeded_order"] else None,
                                      1 + wl["max_passes"], owners)
        plan = ["data " + data, "work " + work, "cores %d" % os.cpu_count(),
                "setups %d" % SETUPS, "seconds %s" % args.seconds,
                "trace %d" % args.trace, "warm %d" % wl["warm_passes"],
                "land " + " ".join(order[0])]
        if wl["mode"] == "serve":
            plan += ["pass " + " ".join(p) for p in order[1:]]
        with open(os.path.join(work, "plan.txt"), "w") as f:
            f.write("\n".join(plan) + "\n")
        out = os.path.join(work, "raw.json")
        log = os.path.join(work, "jvm.log")
        cmd = java_cmd(jars, os.path.join(work, "tmp"), "4g") + [
            "-cp", classes + ":" + jars + "/*", "graft.perfbench.Harness", "run",
            os.path.join(work, "plan.txt"), out]
        # start on a quiet disk: flush what generation and earlier runs left
        os.sync()
        rc = call(cmd, log, deadline - time.time() - 10, cwd=work)
        if rc != 0 or not os.path.exists(out):
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            raise BenchError("harness exited with code %d" % rc)
        with open(out) as f:
            raw = json.load(f)

        # output check, outside every timed region
        oracles = oracle.Oracles(data, data_stamp, os.path.join(base, "oracle"),
                                 os.path.join(work, "tmp"))
        bad = {}
        land_rows = {}
        for r in raw["queries"]:
            if r["pass"] == -1:
                land_rows[r["q"]] = r["rows"]
                bad[r["q"]] = r["err"] or oracle.check(
                    oracles, by_name[r["q"]]["oracle"], os.path.join(work, "land", r["q"]))
            elif r["pass"] == -2 and r["err"]:
                bad[r["q"]] = bad.get(r["q"]) or r["err"]
        recs = metrics.measured(raw, wl["mode"])
        failed = set()
        for r in recs:
            why = r["err"] or bad.get(r["q"]) or (
                None if r["rows"] == land_rows.get(r["q"]) else
                "rows %d != landed %s" % (r["rows"], land_rows.get(r["q"])))
            if why:
                failed.add((r["q"], r["pass"]))
                print("FAILED %s (pass %d): %s" % (r["q"], r["pass"], why))
        if args.trace:
            values, traces = metrics.per_layer(raw, wl["mode"], modules,
                                               dir_bytes(os.path.join(work, "land")))
            tdir = os.path.join(base, "traces")
            os.makedirs(tdir, exist_ok=True)
            tpath = os.path.join(tdir, "%s-seed%d.jsonl" % (args.workload, args.seed))
            with open(tpath, "w") as f:
                for t in traces:
                    f.write(json.dumps(t) + "\n")
            print("%d traces written to %s" % (len(traces), tpath))
        else:
            values, note = metrics.end_to_end(raw, wl["mode"], failed)
            print(note)
        for k, (v, u) in sorted(values.items()):
            print("%-32s %14.6f %s" % (k, v, u))
        print("wall %.1f s (setups %s s, land pass %.1f s, warm passes %.1f s, "
              "measured passes %s s)" % (
            time.time() - t_start, [round(s["total_s"], 2) for s in raw["setups"]],
            raw["land_s"], raw["warm_s"], [round(w, 2) for w in metrics.pass_walls(
                [r for r in raw["queries"] if r["pass"] >= 0])]))
        return {"correct": not failed, "attempted": len(recs), "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
        ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
        sys.exit(0 if ok else 1)
    if not args.workload:
        ap.error("--workload is required")
    # a terminated benchmark still stops the JVM it started (see call())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, os.getcwd())
    except (BenchError, ValueError) as e:
        sys.stderr.write("perfbench: %s\n" % e)
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
