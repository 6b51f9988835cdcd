#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a graft checkout. The first run builds the harness
with sbt on top of graft as the root build compiles it (offline). Every
run makes its inputs from the seed in a fresh directory
under .perfbench_runs/, points Spark's warehouse, graft's cache root,
the stream checkpoints, Derby and java.io.tmpdir there, and deletes it
at the end. Results are checked against DuckDB, untimed. The last line
of stdout is one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1).

Workloads (see BENCHMARK.json): interactive_sql, analytics_batch,
stream_match.
"""
import argparse
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import statements  # noqa: E402
import stats  # noqa: E402

BATCH_JOBS = layers.JOBS
# Jobs whose DuckDB oracle is quick at the main scale. Every job is also
# checked on small tables; the all-pairs oracle of q199 takes minutes in
# DuckDB at sf0.1.
BATCH_MAIN_CHECK = ("q218_item_cf", "q235_bpe_tokenize")
SF = {"interactive_sql": 0.01, "analytics_batch": 0.1}
SMALL_SF = 0.002
STREAM_PATTERN_ORACLE = "q396_stream_match_final"
STREAM_BASE_EPS = 1000
# an unmeasured phase at the base rate first, so the measured one does not
# run on a cold JVM
STREAM_WARM_S = 3.0
STREAM_LADDER_EPS = (8000, 32000)
# the generator's backlog is released in this many equal bursts; the
# capacity is the median of their ingest rates
STREAM_BURSTS = 4
# interactive_sql measures a fixed number of statements: this many per
# second of --seconds, rounded up to whole cycles of the families, so the
# sample count, and with it the tail percentile, does not depend on how
# fast the engine answers, and the mix is the same in every run
STATEMENTS_PER_SECOND = 20
SETUP_PARTS = ("session_s", "warmup_s")  # reported with the run
JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


class BenchError(Exception):
    pass


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


# ---------------------------------------------------------------- build

def _newest_mtime(dirs):
    newest = 0.0
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = [s for s in subdirs if s != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(base, f)))
    return newest


def build():
    """Compile graft (the root build) and the harness once per checkout;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("no graft sources next to perfbench/: run from the "
                         "root of a graft checkout")
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    build_files = [os.path.join(ROOT, "build.sbt"),
                   os.path.join(HERE, "build.sbt")]
    cp_file = os.path.join(HERE, "target", "perfbench-classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= max(
            [_newest_mtime(inputs)] + [os.path.getmtime(f)
                                       for f in build_files]):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    log("building graft and the harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise BenchError("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


# ------------------------------------------------------------- the JVM

class Jvm:
    """The harness process: @@-prefixed JSON events out, commands in."""

    def __init__(self, cp, run_dir, args, heap):
        """Starts the harness; `started` is the wall time just before."""
        self.events = queue.Queue()
        self.err_path = os.path.join(run_dir, "jvm-stderr.log")
        opens = [x for p in JDK_OPENS
                 for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        props = {
            "java.io.tmpdir": os.path.join(run_dir, "tmp"),
            "user.timezone": "UTC",
            "derby.stream.error.file": os.path.join(run_dir, "derby.log"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.graft.cacheRoot": os.path.join(run_dir, "cache"),
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.ui.enabled": "false",
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        for k in ("tmp", "spark-local", "cwd"):
            os.makedirs(os.path.join(run_dir, k), exist_ok=True)
        # a fixed-size heap with the parallel collector keeps the peak
        # resident set from depending on when the heap happened to grow
        cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
                "-XX:ReservedCodeCacheSize=512m"]
               + opens + [f"-D{k}={v}" for k, v in props.items()]
               + ["-cp", cp, "perfbench.Harness", "--work", run_dir] + args)
        self.err = open(self.err_path, "w")
        self.started = time.time()
        self.proc = subprocess.Popen(
            cmd, cwd=os.path.join(run_dir, "cwd"), stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self.err, text=True, bufsize=1)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@"):
                name, _, body = line[2:].partition(" ")
                body = json.loads(body)
                body["received"] = time.time()
                self.events.put((name, body))
        self.events.put(("eof", {}))

    def wait(self, name, timeout):
        deadline = time.time() + timeout
        while True:
            left = deadline - time.time()
            if left <= 0:
                raise BenchError(f"harness: no '{name}' within {timeout}s")
            try:
                ev, body = self.events.get(timeout=left)
            except queue.Empty:
                continue
            if ev == name:
                log(f"harness: {name} {body.get('cmd', '')}")
                return body
            if ev == "eof":
                with open(self.err_path) as f:
                    sys.stderr.write(f.read()[-3000:])
                raise BenchError(f"harness exited while waiting for {name}")

    def call(self, cmd, timeout=120):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.wait("done", timeout)

    def setup_s(self, ready):
        """Process start until the harness reported `ready`."""
        return ready["received"] - self.started

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise BenchError("no VmHWM for the harness process")

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("exit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.err.close()


def run_child(cmd, timeout):
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0:
        raise BenchError(f"{os.path.basename(cmd[2])} exited with {rc}")


def py(script):
    return [sys.executable, "-B", os.path.join(HERE, script)]


# ---------------------------------------------------------- correctness

def duck(tables_dir, nproc):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={nproc}")
    for t in checkrules().TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


def checkrules():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    return check


def same_rows(got, con, oracle_sql):
    """Compare one result -- a parquet path written by Spark, or a frame
    of a service answer -- with its DuckDB oracle under the rules of
    tools/check.py: columns by name, rows sorted, values by str()."""
    import pandas as pd
    check = checkrules()
    try:
        if isinstance(got, str):
            got = check.read_spark(got)
        want = con.sql(oracle_sql).df()
    except Exception as e:
        return False, f"exception {str(e)[:200]}"
    for c in want.columns:
        # the service renders timestamps as text
        if (c in got.columns and got[c].dtype == object
                and pd.api.types.is_datetime64_any_dtype(want[c])):
            got[c] = pd.to_datetime(got[c])
    if set(want.columns) < set(got.columns):
        got = got[list(want.columns)]
    got, want = check.canon(got), check.canon(want)
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (g, w) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not check.cmp_vals(g, w):
                return False, f"col {c} row {i}: {g!r} != {w!r}"
    return True, len(got)


# ------------------------------------------------------------ workloads

def interactive(a, run_dir, cp, out):
    data = os.path.join(run_dir, "data")
    datagen.generate(data, SF["interactive_sql"], a.seed)
    stmts = statements.build(SF["interactive_sql"])
    tsv = os.path.join(run_dir, "statements.tsv")
    with open(tsv, "w") as f:
        for sid, fam, sql, _ in stmts:
            f.write(f"{sid}\t{fam}\t{sql}\n")
    jvm = Jvm(cp, run_dir, [
        "--workload", "interactive_sql", "--data", data, "--stmts", tsv,
        "--nproc", str(a.nproc), "--oracles", statements.MATCH_ORACLE_KEY],
        heap="2g")
    cycle = len(statements.FAMILIES)
    count = -(-STATEMENTS_PER_SECOND * a.seconds // cycle) * cycle
    try:
        out["env"] = jvm.wait("env", 120)
        ready = jvm.wait("ready", 150)

        def load(name):
            path = os.path.join(run_dir, f"{name}.jsonl")
            run_child(py("loadgen.py") + [
                "--port", str(ready["port"]), "--clients", str(a.nproc),
                "--count", str(count), "--seed", str(a.seed),
                "--stmts", tsv, "--out", path], 170)
            with open(path) as f:
                return [json.loads(ln) for ln in f]

        reqs = load("load")
        ref = traced = []
        if a.trace:
            # the traced load is compared with an untraced one right
            # before it, both after the measured load
            ref = load("load-ref")
            jvm.call("trace_on")
            traced = load("load-traced")
            jvm.call("trace_off", timeout=150)
        rss = jvm.peak_rss_mb()
    finally:
        jvm.close()
    setup_s = jvm.setup_s(ready)

    import pandas as pd
    with open(os.path.join(run_dir, "oracles.json")) as f:
        match_oracle = json.load(f)[statements.MATCH_ORACLE_KEY]
    con = duck(data, a.nproc)
    expected = {}
    oc = stats.Outcomes()
    for sid, fam, sql, oracle in stmts:
        with open(os.path.join(run_dir, "responses", f"{sid}.json")) as f:
            doc = json.load(f)
        if "error" in doc:
            oc.record(f"check:{sid}", False, doc["error"][:200])
            continue
        got = pd.DataFrame(doc["rows"], columns=doc["columns"])
        ok, info = same_rows(got, con, oracle or match_oracle)
        oc.record(f"check:{sid}", ok, info)
        if ok:
            expected[sid] = info
    for r in reqs + ref + traced:
        ok = (r.get("status") == 200 and "error" not in r
              and r.get("n") == min(expected.get(r["id"], -1), 1000))
        oc.record(f"request:{r['id']}", ok,
                  r.get("error", f"status {r.get('status')} n {r.get('n')}"))
    measured = [r for r in reqs if r["measured"]]
    lat = [(r["recv"] - r["send"]) * 1000 for r in measured]
    span = (max(r["recv"] for r in measured)
            - min(r["send"] for r in measured))
    q, tail = stats.tail(lat)
    out["setup"] = {k: ready[k] for k in SETUP_PARTS}
    out["latency_samples"] = len(lat)
    out["tail_percentile"] = q
    e2e = {"setup_s": setup_s,
           "peak_rss_mb": rss,
           "op_p50_ms": stats.percentile(lat, 50),
           "op_tail_ms": tail,
           "ops_per_s": len(measured) / span}
    per_layer = None
    if a.trace:
        per_layer = layers.interactive(
            os.path.join(run_dir, "spans.jsonl"), ref, traced, a.nproc)
        per_layer["engine.warmup_s"] = (ready["warmup_s"], "s")
    return oc, e2e, per_layer


def batch(a, run_dir, cp, out):
    data = os.path.join(run_dir, "data")
    small = os.path.join(run_dir, "small")
    datagen.generate(data, SF["analytics_batch"], a.seed)
    datagen.generate(small, SMALL_SF, a.seed)
    # a fixed order: with a seed-permuted one, the pass time moved by 15%
    # with the order alone
    order = list(BATCH_JOBS)
    jvm = Jvm(cp, run_dir, [
        "--workload", "analytics_batch", "--data", data, "--small", small,
        "--jobs", ",".join(order), "--nproc", str(a.nproc),
        "--oracles", ",".join(BATCH_JOBS)], heap="3g")
    try:
        out["env"] = jvm.wait("env", 120)
        # the warm-up is a pass over the small tables (its results are
        # checked); the first pass at sf0.1 is timed
        ready = jvm.wait("ready", 170)
        small_out = ready["jobs"]
        timed = jvm.call("pass " + ",".join(order), timeout=170)["jobs"]
        traced = again = None
        if a.trace:
            # the traced pass is compared with an untraced one right
            # before it, both after the timed pass
            again = jvm.call("pass " + ",".join(order), timeout=170)["jobs"]
            jvm.call("trace_on")
            traced = jvm.call("pass " + ",".join(order), timeout=170)["jobs"]
            jvm.call("trace_off", timeout=60)
        jvm.call("check " + ",".join(BATCH_MAIN_CHECK))
        rss = jvm.peak_rss_mb()
    finally:
        jvm.close()
    setup_s = jvm.setup_s(ready)

    with open(os.path.join(run_dir, "oracles.json")) as f:
        oracles = json.load(f)
    oc = stats.Outcomes()
    for p in [timed] + ([again, traced] if traced else []):
        for j in order:
            oc.record(f"job:{j}", not p[j]["error"], p[j]["error"][:200])
    for scale, tables, jobs in (("small", small, BATCH_JOBS),
                                ("main", data, BATCH_MAIN_CHECK)):
        con = duck(tables, a.nproc)
        for j in jobs:
            if scale == "small" and small_out[j]["error"]:
                oc.record(f"check:{scale}:{j}", False, small_out[j]["error"])
                continue
            ok, info = same_rows(os.path.join(run_dir, "check", scale, j), con,
                                 oracles[j])
            oc.record(f"check:{scale}:{j}", ok, info)
    secs = [timed[j]["s"] for j in order]
    out["setup"] = {k: ready[k] for k in SETUP_PARTS}
    out["job_s"] = dict(zip(order, secs))
    wall = sum(secs)
    e2e = {"setup_s": setup_s,
           "peak_rss_mb": rss,
           "op_p50_ms": stats.geomean(secs) * 1000,
           "op_tail_ms": max(secs) * 1000,
           "ops_per_s": len(secs) / wall}
    per_layer = None
    if a.trace:
        per_layer = layers.batch(
            os.path.join(run_dir, "spans.jsonl"), timed, again, traced,
            a.nproc)
        per_layer["engine.warmup_s"] = (ready["warmup_s"], "s")
    return oc, e2e, per_layer


def stream(a, run_dir, cp, out):
    sdir = os.path.join(run_dir, "stream")
    inp, stage = os.path.join(sdir, "in"), os.path.join(sdir, "stage")
    prime = 200
    run_child(py("streamgen.py") + [
        "--dir", inp, "--stage", stage, "--seed", str(a.seed),
        "--prime", str(prime)], 60)
    jvm = Jvm(cp, run_dir, [
        "--workload", "stream_match", "--data", inp, "--nproc", str(a.nproc),
        "--oracles", STREAM_PATTERN_ORACLE], heap="2g")
    base = 1.5 * a.seconds
    step = max(3.0, a.seconds / 3.0)
    # traced: two more base-rate phases, untraced then traced, to compare
    phases = [(STREAM_BASE_EPS, base)] * (3 if a.trace else 1)
    phases += [(r, step) for r in STREAM_LADDER_EPS]
    gen_log = os.path.join(sdir, "generator.jsonl")
    try:
        out["env"] = jvm.wait("env", 120)
        ready = jvm.wait("ready", 150)
        gen = subprocess.Popen(py("streamgen.py") + [
            "--dir", inp, "--stage", stage, "--seed", str(a.seed + 1),
            "--first-id", str(prime),
            "--phases", ",".join(f"{r}:{s}" for r, s in
                                 [(STREAM_BASE_EPS, STREAM_WARM_S)] + phases),
            "--log", gen_log], stdin=subprocess.DEVNULL)
        try:
            if a.trace:
                t_start = None
                while t_start is None:
                    time.sleep(0.05)
                    if os.path.exists(gen_log):
                        with open(gen_log) as f:
                            first = f.readline()
                        if first.endswith("\n"):
                            t_start = json.loads(first)["start"]
                time.sleep(max(0.0, t_start + STREAM_WARM_S + 2 * base
                               - time.time()))
                jvm.call("trace_on")
            gen.wait(timeout=STREAM_WARM_S + sum(s for _, s in phases) + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
            gen.wait()
        if gen.returncode != 0:
            raise BenchError(f"stream generator exited {gen.returncode}")
        with open(gen_log) as f:
            rows = [json.loads(ln) for ln in f]
        t_start, files = rows[0]["start"], rows[1:-1]
        # the backlog the generator staged goes into the idle engine in
        # bursts; the time it takes to ingest them gives its capacity
        backlog = rows[-1]["backlog"]
        size = -(-len(backlog) // STREAM_BURSTS)
        bursts = []
        for i in range(0, len(backlog), size):
            jvm.call("idle", timeout=150)
            bursts.append((time.time(), sum(n for _, n in backlog[i:i + size])))
            for name, _ in backlog[i:i + size]:
                os.rename(os.path.join(stage, name), os.path.join(inp, name))
        drained = jvm.call("drain", timeout=150)
        if a.trace:
            jvm.call("trace_off", timeout=60)
        rss = jvm.peak_rss_mb()
    finally:
        jvm.close()
    setup_s = jvm.setup_s(ready)

    with open(os.path.join(run_dir, "progress.jsonl")) as f:
        progress = [json.loads(ln) for ln in f]
    with open(os.path.join(run_dir, "sink.jsonl")) as f:
        sink = [json.loads(ln) for ln in f]
    with open(os.path.join(run_dir, "oracles.json")) as f:
        oracle = json.load(f)[STREAM_PATTERN_ORACLE]

    bounds, t = [], t_start + STREAM_WARM_S
    for _, s in phases:
        bounds.append((t, t + s))
        t += s
    # latency at the base rate, untraced: matches whose last event was
    # created during the first phase
    b0, b1 = bounds[0]
    lat = [m["recv_ms"] - m["last_ms"] for m in sink
           if b0 * 1000 <= m["last_ms"] < b1 * 1000]
    if len(lat) < 2:
        raise BenchError("too few matches at the base rate")
    progress.sort(key=lambda p: p["batch"])
    ends = [(p["start"] + p["duration_ms"].get("triggerExecution", 0)) / 1000
            for p in progress]
    cum, c = [], -prime
    for p in progress:
        c += p["rows"]
        cum.append(c)
    rates = [stats.ingest_rate(ends, cum, lo, hi) for lo, hi in bounds]
    total, burst_s = sum(f["n"] for f in files), []
    for t_release, n in bursts:
        total += n
        burst_s.append(stats.drain_s(t_release, ends, cum, total))
    if None in burst_s:
        raise BenchError("a backlog burst was not ingested")
    n_events = prime + total
    out["burst_s"] = burst_s

    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={a.nproc}")
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inp}/*.parquet')")
    ok, info = same_rows(os.path.join(run_dir, "check", "stream"), con, oracle)
    oc = stats.Outcomes()
    oc.record("stream:matches", ok, str(info), n=max(1, drained["matches"]))
    oc.record("stream:events_ingested", cum[-1] + prime == n_events,
              f"ingested {cum[-1] + prime} of {n_events}")
    q, tail = stats.tail(lat)
    out["setup"] = {k: ready[k] for k in SETUP_PARTS}
    out["latency_samples"] = len(lat)
    out["tail_percentile"] = q
    out["step_ingest_eps"] = rates
    e2e = {"setup_s": setup_s,
           "peak_rss_mb": rss,
           "op_p50_ms": stats.percentile(lat, 50),
           "op_tail_ms": tail,
           "ops_per_s": stats.percentile(
               [n / s for (_, n), s in zip(bursts, burst_s)], 50)}
    per_layer = None
    if a.trace:
        per_layer = layers.stream(
            os.path.join(run_dir, "spans.jsonl"), files, ends, cum, bounds,
            phases, sink, a.nproc)
        per_layer["engine.warmup_s"] = (ready["warmup_s"], "s")
    return oc, e2e, per_layer


WORKLOADS = {"interactive_sql": interactive, "analytics_batch": batch,
             "stream_match": stream}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    a.nproc = os.cpu_count() if not hasattr(os, "sched_getaffinity") \
        else len(os.sched_getaffinity(0))
    runs = os.path.join(os.getcwd(), ".perfbench_runs")
    run_dir = os.path.join(runs, f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    try:
        cp = build()
        os.makedirs(run_dir)
        out = {"workload": a.workload, "seed": a.seed, "nproc": a.nproc}
        oc, e2e, per_layer = WORKLOADS[a.workload](a, run_dir, cp, out)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    log("checked")
    if oc.failed:
        out["failures"] = oc.failed
    out["failed_frac"] = oc.failed_frac
    print(json.dumps(out))
    if a.trace:
        per_layer["failed_frac"] = (oc.failed_frac, "ratio")
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in per_layer.items()}
    else:
        units = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms",
                 "op_tail_ms": "ms", "ops_per_s": "1/s"}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not oc.failed, "attempted": oc.attempted,
                      "failed": oc.n_failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
