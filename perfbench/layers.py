"""Per-layer metrics of a traced run, derived from the span file the
harness wrote (spans.jsonl) plus the client-side records.

Span kinds: `sql` (an SQL execution), `job` (parent: its sql span via
spark.sql.execution.id), `stage` (parent: job; carries its tasks'
summed metrics), `plan` (Catalyst phases of one query), `replay` (phases
of a statement replayed after the window), `microbatch` and `state_op`
(parent: microbatch), and `window` (the traced interval with GC time and
codegen counters). The client's requests, recorded by the load
generator, parent the root sql spans they caused (assign_requests).

Every workload reports the same names; a layer that is not on a
workload's path reports 0.
"""
import json
import statistics

import stats

FAMILIES = ("point", "pricing", "star", "distinct_on", "match", "search",
            "topk", "fed")
JOBS = ("q218_item_cf", "q199_ppjoin", "q235_bpe_tokenize")
STREAM_STEPS = 3
MB = 1024.0 * 1024.0


def names():
    """Every per-layer metric with its unit."""
    out = {
        "service.wait_ms": "ms", "service.resp_kb": "KB",
        "plans.parse_ms": "ms", "plans.analyze_ms": "ms",
        "plans.optimize_ms": "ms", "plans.physical_ms": "ms",
    }
    out.update({f"family.{f}.p50_ms": "ms" for f in FAMILIES})
    out.update({
        "engine.codegen_compiles": "count", "engine.codegen_ms": "ms",
        "engine.jobs_per_stmt": "count", "engine.stages_per_stmt": "count",
        "engine.tasks_per_stmt": "count", "engine.cpu_busy_frac": "ratio",
        "engine.gc_frac": "ratio", "engine.warmup_s": "s",
    })
    out.update({f"ops.{j}.s": "s" for j in JOBS})
    out.update({
        "ops.shuffle_write_mb": "MB", "ops.shuffle_read_mb": "MB",
        "ops.fetch_wait_ms": "ms", "ops.spill_mb": "MB", "ops.tasks": "count",
        "ops.stage_skew": "ratio",
        "sources.scan_mb": "MB", "sources.scan_rows": "count",
        "sources.cache_build_s": "s", "sources.fed_rows_per_result": "ratio",
        "stream.batch_ms": "ms", "stream.addbatch_ms": "ms",
        "stream.walcommit_ms": "ms", "stream.commitoffsets_ms": "ms",
        "stream.latestoffset_ms": "ms", "stream.planning_ms": "ms",
        "stream.state_commit_ms": "ms", "stream.state_update_ms": "ms",
        "stream.state_rows": "count", "stream.state_mb": "MB",
        "stream.highest_steady_eps": "1/s",
    })
    for k in range(STREAM_STEPS):
        out[f"stream.step{k}.rows_per_batch"] = "count"
        out[f"stream.step{k}.backlog_files_max"] = "count"
    out.update({"loadgen.late_max_ms": "ms", "trace.overhead_frac": "ratio"})
    return out


def load(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def p50(values):
    return statistics.median(values) if values else 0.0


def _engine_and_ops(spans, n_ops, nproc):
    """Engine, operator and scan metrics over the traced window."""
    window = next(s for s in spans if s["kind"] == "window")
    wall_ms = window["end"] - window["start"]
    w = window["attrs"]
    stages = [s for s in spans if s["kind"] == "stage"]
    jobs = [s for s in spans if s["kind"] == "job"]
    tot = lambda key: sum(s["attrs"][key] for s in stages)  # noqa: E731
    skews = [s["attrs"]["task_max_ms"] / s["attrs"]["task_median_ms"]
             for s in stages
             if s["attrs"]["tasks"] > 1 and s["attrs"]["task_median_ms"] > 0]
    return {
        "engine.codegen_compiles": w["codegen_compiles"],
        "engine.codegen_ms": w["codegen_ms"],
        "engine.jobs_per_stmt": len(jobs) / max(1, n_ops),
        "engine.stages_per_stmt": len(stages) / max(1, n_ops),
        "engine.tasks_per_stmt": tot("tasks") / max(1, n_ops),
        "engine.cpu_busy_frac": tot("run_ms") / (wall_ms * nproc),
        "engine.gc_frac": w["gc_ms"] / wall_ms,
        "ops.shuffle_write_mb": tot("shuffle_write_bytes") / MB,
        "ops.shuffle_read_mb": tot("shuffle_read_bytes") / MB,
        "ops.fetch_wait_ms": tot("fetch_wait_ms"),
        "ops.spill_mb": tot("spill_bytes") / MB,
        "ops.tasks": tot("tasks"),
        "ops.stage_skew": max(skews) if skews else 1.0,
        "sources.scan_mb": tot("input_bytes") / MB,
        "sources.scan_rows": tot("input_rows"),
    }


def _plans(spans, kind):
    ps = [s["attrs"] for s in spans if s["kind"] == kind]
    return {f"plans.{k}": p50([p[k] for p in ps])
            for k in ("parse_ms", "analyze_ms", "optimize_ms",
                      "physical_ms")}


def _finish(values):
    units = names()
    unknown = set(values) - set(units)
    if unknown:
        raise ValueError(f"unlisted per-layer metrics {sorted(unknown)}")
    return {k: (float(values.get(k, 0.0)), u) for k, u in units.items()}


def assign_requests(sql_spans, requests):
    """Parent each root SQL execution to the request it served: among
    the requests in flight when it started, the first to be answered
    after it ended (the service answers in the order it executes)."""
    out = {}
    for s in sql_spans:
        t0, t1 = s["start"] / 1000.0, s["end"] / 1000.0
        cands = [i for i, r in enumerate(requests)
                 if r["send"] <= t0 and r["recv"] >= t1]
        if cands:
            out[s["id"]] = min(cands, key=lambda i: requests[i]["recv"])
    return out


def interactive(span_path, untraced, traced, nproc):
    spans = load(span_path)
    sqls = [s for s in spans if s["kind"] == "sql" and not s["parent"]]
    owner = assign_requests(sqls, traced)
    exec_ms = [0.0] * len(traced)
    for s in sqls:
        if s["id"] in owner:
            exec_ms[owner[s["id"]]] += s["end"] - s["start"]
    lat = [(r["recv"] - r["send"]) * 1000 for r in traced]
    v = {
        "service.wait_ms": p50([x - e for x, e in zip(lat, exec_ms)]),
        "service.resp_kb": statistics.fmean(
            r.get("bytes", 0) for r in traced) / 1024.0,
    }
    v.update(_plans(spans, "replay"))
    for f in FAMILIES:
        v[f"family.{f}.p50_ms"] = p50(
            [x for x, r in zip(lat, traced) if r["family"] == f])
    v.update(_engine_and_ops(spans, len(traced), nproc))
    fed = [s["attrs"] for s in spans
           if s["kind"] == "replay" and "result_rows" in s["attrs"]]
    v["sources.fed_rows_per_result"] = p50(
        [f.get("jdbc_rows", 0) / max(1, f["result_rows"]) for f in fed])
    base = p50([(r["recv"] - r["send"]) * 1000 for r in untraced])
    v["trace.overhead_frac"] = p50(lat) / base - 1.0
    return _finish(v)


def batch(span_path, timed, untraced, traced, nproc):
    """`timed`: the first pass at sf0.1; `untraced`: the pass right before
    `traced`."""
    spans = load(span_path)
    v = {f"ops.{j}.s": traced[j]["s"] for j in JOBS}
    v.update(_plans(spans, "plan"))
    v.update(_engine_and_ops(spans, len(JOBS), nproc))
    # the timed pass builds graft's caches at sf0.1, later passes read them
    v["sources.cache_build_s"] = sum(
        max(0.0, timed[j]["s"] - untraced[j]["s"]) for j in JOBS
        if timed[j]["cache_built"])
    v["trace.overhead_frac"] = (sum(traced[j]["s"] for j in JOBS)
                                / sum(untraced[j]["s"] for j in JOBS) - 1.0)
    return _finish(v)


def stream(span_path, files, ends, cum, bounds, phases, sink, nproc):
    spans = load(span_path)
    batches = [s for s in spans if s["kind"] == "microbatch"
               and s["attrs"].get("input_rows", 0) > 0]
    states = [s for s in spans if s["kind"] == "state_op"]
    a = lambda key: p50([b["attrs"].get(key, 0) for b in batches])  # noqa
    v = {
        "stream.batch_ms": a("triggerExecution_ms"),
        "stream.addbatch_ms": a("addBatch_ms"),
        "stream.walcommit_ms": a("walCommit_ms"),
        "stream.commitoffsets_ms": a("commitOffsets_ms"),
        "stream.latestoffset_ms": a("latestOffset_ms"),
        "stream.planning_ms": a("queryPlanning_ms"),
        "stream.state_commit_ms": p50([s["attrs"]["commit_ms"]
                                       for s in states]),
        "stream.state_update_ms": p50([s["attrs"]["update_ms"]
                                       for s in states]),
    }
    if states:
        last = max(states, key=lambda s: s["start"])["attrs"]
        v["stream.state_rows"] = last["rows_total"]
        v["stream.state_mb"] = max(s["attrs"]["memory_bytes"]
                                   for s in states) / MB
    v.update(_plans(spans, "plan"))
    v.update(_engine_and_ops(spans, max(1, len(batches)), nproc))
    # bounds/phases: the measured base-rate phase, an untraced one to
    # compare with, then the traced ones: a third base-rate phase and the
    # ladder
    traced_bounds = bounds[2:]
    steady = 0.0
    points = [(f["written"], f["n"]) for f in files]
    cum_files, c = [], 0
    for t, n in points:
        c += n
        cum_files.append((t, c))
    for k, ((lo, hi), (rate, _)) in enumerate(zip(traced_bounds,
                                                  phases[2:])):
        in_step = [b for b in batches
                   if lo <= b["end"] / 1000.0 <= hi]
        v[f"stream.step{k}.rows_per_batch"] = p50(
            [b["attrs"]["input_rows"] for b in in_step])
        series = [(t, n) for t, n in stats.backlog_series(cum_files, ends, cum)
                  if lo <= t <= hi]
        v[f"stream.step{k}.backlog_files_max"] = max(
            (n for _, n in series), default=0)
        files_per_s = len(series) / max(1e-9, hi - lo)
        if series and not stats.backlog_grows(series, files_per_s):
            steady = max(steady, rate)
    v["stream.highest_steady_eps"] = steady
    _, v["loadgen.late_max_ms"] = stats.lateness_ms(
        [f["sched"] * 1000 for f in files], [f["began"] * 1000 for f in files])
    ref, traced = ([m["recv_ms"] - m["last_ms"] for m in sink
                    if lo * 1000 <= m["last_ms"] < hi * 1000]
                   for lo, hi in bounds[1:3])
    v["trace.overhead_frac"] = p50(traced) / p50(ref) - 1.0
    return _finish(v)
