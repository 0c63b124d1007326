"""Pure computations of the benchmark: request order, latency statistics,
span self-time and the end-to-end and per-layer metrics of one run.

`raw` below is the JSON the JVM harness writes (see harness/Harness.scala):
set-up timings, one record per query execution with its phase boundaries
(epoch milliseconds t0..t4), and, in traced runs, every Spark job with the
query, pass and phase it was started in.
"""
import random
import statistics

FAMILIES = ["reports", "operators", "dsl", "etl", "text", "similarity", "multimodal"]


def request_order(names, seed, passes, first=()):
    """`passes` seeded permutations of `names`; the same seed gives the
    same order, and seed None keeps the listed order. Names in `first`
    (the producers of shared memoized passes) lead each pass, as in a
    pipeline that runs producers before consumers, so the same query pays
    each build whatever the seed."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        head = [n for n in names if n in first]
        tail = [n for n in names if n not in first]
        if seed is not None:
            rng.shuffle(head)
            rng.shuffle(tail)
        out.append(head + tail)
    return out


def tail(values, beyond=10):
    """The highest percentile of `values` with at least `beyond` samples
    above it: (value, percentile, sample count). The value is the
    (n - beyond)-th smallest sample, so exactly `beyond` samples lie
    beyond it; with too few samples the smallest sample is returned."""
    xs = sorted(values)
    n = len(xs)
    k = max(n - beyond, 1)
    return xs[k - 1], 100.0 * k / n, n


def union_length(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """Span time minus the time covered by its children (overlapping
    children count once)."""
    lo, hi = span
    return (hi - lo) - union_length(children, lo, hi)


def core_busy_share(task_run_s, wall_s, cores):
    """Share of the cores' wall-clock capacity spent running tasks."""
    return task_run_s / (wall_s * cores) if wall_s > 0 else 0.0


def latency(rec):
    return (rec["t4"] - rec["t0"]) / 1000.0


def measured(raw, mode):
    """Executions the end-to-end metrics are taken over: the measured
    passes of a serve run, the single cold pass of a batch run."""
    if mode == "serve":
        return [r for r in raw["queries"] if r["pass"] >= 0]
    return [r for r in raw["queries"] if r["pass"] == -1]


def pass_walls(recs):
    by = {}
    for r in recs:
        lo, hi = by.get(r["pass"], (r["t0"], r["t4"]))
        by[r["pass"]] = (min(lo, r["t0"]), max(hi, r["t4"]))
    return [(hi - lo) / 1000.0 for lo, hi in by.values()]


def end_to_end(raw, mode, failed):
    """The end-to-end metrics of one untraced run. `failed` is the set of
    (query, pass) executions that threw or failed their output check."""
    recs = measured(raw, mode)
    ok = [r for r in recs if (r["q"], r["pass"]) not in failed]
    lat = [latency(r) for r in recs]
    walls = pass_walls(recs)
    wall = sum(walls)
    tail_v, tail_p, tail_n = tail(lat)
    return {
        "setup_s": (statistics.median(s["total_s"] for s in raw["setups"]), "s"),
        "pipeline_s": (statistics.median(walls), "s"),
        "queries_per_s": (len(ok) / wall, "1/s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (tail_v, "s"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }, "query_tail_s is p%.1f of %d samples (10 beyond)" % (tail_p, tail_n)


def spans(raw):
    """One trace per query execution: a root span, its phase spans and
    every job as a child of the phase it was started in."""
    jobs = {}
    for j in raw["jobs"]:
        jobs.setdefault((j["q"], j["pass"], j["phase"]), []).append(j)
    out = []
    for r in raw["queries"]:
        bounds = [("construct", "t0", "t1"), ("plan", "t1", "t2"),
                  ("exec", "t2", "t3"), ("load", "t3", "t4")]
        phases = []
        for name, a, b in bounds:
            if r[a] < 0 or r[b] < 0 or (name == "load" and not r["land"]):
                continue
            children = [{"name": "job %d" % j["id"], "start": j["start"], "end": j["end"],
                         "tasks": j["tasks"], "task_run_ms": j["run_ms"],
                         "task_cpu_ms": j["cpu_ns"] / 1e6,
                         "shuffle_write_bytes": j["shuffle_write"],
                         "shuffle_read_bytes": j["shuffle_read"]}
                        for j in jobs.get((r["q"], r["pass"], name), [])]
            phases.append({"name": name, "start": r[a], "end": r[b], "children": children})
        out.append({"name": r["q"], "pass": r["pass"], "start": r["t0"], "end": r["t4"],
                    "error": r["err"], "children": phases})
    return out


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(raw, mode, modules, load_bytes):
    """Per-layer metrics of one traced run, per measured pass.

    The end-to-end metric each should move, and the workload it moves on:
      construct.*, <family>.construct_*     pipeline_s                batch_sf01
      exec.jobs/stages/tasks/s_per_job,
        exec.core_busy_share, <family>.exec_jobs
                                            query_p50_s, queries_per_s  serve_sf01
      exec.s/task_*/shuffle_*/spill_mb/*_rows,
        jvm.gc_s, <family>.exec_s           queries_per_s, query_tail_s serve_sf01
      plan.s                                query_p50_s               serve_sf01
      chaincache.builds, storage.pinned_mb  pipeline_s, retained_heap_mb batch_sf01
      load.*                                pipeline_s                batch_sf01
      tables.*, session.*                   setup_s                   both
      exec.task_failures                    failed (top-level count)  both
    """
    recs = measured(raw, mode)
    keys = {(r["q"], r["pass"]) for r in recs}
    npass = len({r["pass"] for r in recs}) or 1
    cores = raw["cores"]
    traces = spans(raw)
    by_key = {(t["name"], t["pass"]): t for t in traces}
    jobs = [j for j in raw["jobs"] if (j["q"], j["pass"]) in keys]
    land = [t for t in traces if t["pass"] == -1]
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    def phase_spans(ts, name):
        return [p for t in ts for p in t["children"] if p["name"] == name]

    def dur(ps):
        return sum(p["end"] - p["start"] for p in ps) / 1000.0

    def selfs(ps):
        return sum(self_time((p["start"], p["end"]),
                             [(c["start"], c["end"]) for c in p["children"]])
                   for p in ps) / 1000.0

    ts = [by_key[k] for k in sorted(keys)]
    put("session.build_s", _median(s["session_s"] for s in raw["setups"]), "s")
    put("session.warmup_s", _median(s["warmup_s"] for s in raw["setups"]), "s")
    put("tables.stage_s", _median(s["stage_s"] for s in raw["setups"]), "s")
    put("tables.register_s", _median(s["register_s"] for s in raw["setups"]), "s")

    cons = phase_spans(ts, "construct")
    cjobs = [j for j in jobs if j["phase"] == "construct"]
    put("construct.s", dur(cons) / npass, "s")
    put("construct.self_s", selfs(cons) / npass, "s")
    put("construct.jobs", len(cjobs) / npass, "count")
    put("construct.tasks", sum(j["tasks"] for j in cjobs) / npass, "count")
    put("plan.s", dur(phase_spans(ts, "plan")) / npass, "s")

    ex = phase_spans(ts, "exec")
    ejobs = [j for j in jobs if j["phase"] == "exec"]
    exec_s = dur(ex) / npass
    run_s = sum(j["run_ms"] for j in ejobs) / 1000.0 / npass
    put("exec.s", exec_s, "s")
    put("exec.self_s", selfs(ex) / npass, "s")
    put("exec.jobs", len(ejobs) / npass, "count")
    put("exec.stages", sum(j["stages"] for j in ejobs) / npass, "count")
    put("exec.tasks", sum(j["tasks"] for j in ejobs) / npass, "count")
    put("exec.s_per_job", exec_s / max(len(ejobs) / npass, 1e-9) if ejobs else 0.0, "s")
    put("exec.core_busy_share", core_busy_share(run_s, exec_s, cores), "share")
    put("exec.task_run_s", run_s, "s")
    put("exec.task_cpu_s", sum(j["cpu_ns"] for j in ejobs) / 1e9 / npass, "s")
    mb = 1024.0 * 1024.0
    put("exec.shuffle_write_mb", sum(j["shuffle_write"] for j in ejobs) / mb / npass, "MB")
    put("exec.shuffle_read_mb", sum(j["shuffle_read"] for j in ejobs) / mb / npass, "MB")
    put("exec.spill_mb", sum(j["spill"] for j in ejobs) / mb / npass, "MB")
    put("exec.input_rows", sum(j["input_rows"] for j in ejobs) / npass, "count")
    put("exec.output_rows", sum(max(r["rows"], 0) for r in recs) / npass, "count")
    put("exec.task_failures", sum(j["failed_tasks"] for j in raw["jobs"]), "count")

    # results are landed once per run: in the cold pass of a batch run,
    # in the pass that precedes the measured ones in a serve run
    loads = phase_spans(land, "load")
    put("load.s", dur(loads), "s")
    put("load.jobs", sum(len(p["children"]) for p in loads), "count")
    put("load.mb", load_bytes / mb, "MB")

    # whole-JVM GC time over the measured passes: task-level GC time read
    # 0 on the cold pass, where the collections fell between tasks
    put("jvm.gc_s", (raw["gc_land_s"] if mode == "batch" else raw["gc_measured_s"]) / npass, "s")
    put("chaincache.builds", raw["memo_after"] - raw["memo_before"], "count")
    put("storage.pinned_mb", raw["pinned_bytes"] / mb, "MB")

    for fam in FAMILIES:
        fts = [t for t in ts if modules.get(t["name"], "").split(".")[0] == fam]
        fq = {(t["name"], t["pass"]) for t in fts}
        fjobs = [j for j in jobs if (j["q"], j["pass"]) in fq]
        put(fam + ".construct_s", dur(phase_spans(fts, "construct")) / npass, "s")
        put(fam + ".construct_jobs",
            sum(j["phase"] == "construct" for j in fjobs) / npass, "count")
        put(fam + ".exec_s", dur(phase_spans(fts, "exec")) / npass, "s")
        put(fam + ".exec_jobs", sum(j["phase"] == "exec" for j in fjobs) / npass, "count")

    put("trace.wait_s", raw["trace_wait_s"], "s")
    put("trace.pipeline_s", _median(pass_walls(recs)), "s")
    put("trace.unattributed_jobs",
        sum(j["phase"] == "none" for j in raw["jobs"]), "count")
    return m, traces
