"""Open-loop generator of `events` parquet files for stream_match.

Every FILE_MS milliseconds it writes one file holding the events
created in that interval at the phase's rate, whatever the engine does
with them. Each event's `ts` is its scheduled creation time (UTC wall
clock), so `ts` never decreases across files; user keys are Zipf-skewed.
A file is written under the staging directory and renamed into the
input directory, so the engine never sees a partial file.

After the phases it writes a backlog of BACKLOG_EVENTS events, created
at that moment, into the staging directory only, and logs the files;
the runner moves them into the input directory in a few bursts, each
when the engine is idle, and times how fast the engine ingests them.

    python3 streamgen.py --dir IN --stage STAGE --seed N
        --phases RATE:SECONDS,... --log <jsonl> [--first-id K]
    python3 streamgen.py --prime N ...   # one file of N events, then exit
"""
import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

FILE_MS = 100.0
USERS = 2000
BACKLOG_EVENTS = 800_000
BACKLOG_FILE_EVENTS = 12_800  # one 100 ms file at 128k events/s


def stage_file(args, seq, rng, first_id, ts_us):
    cols = datagen.event_batch(rng, first_id, ts_us, USERS)
    name = f"ev-{seq:08d}.parquet"
    pq.write_table(pa.table(cols), os.path.join(args.stage, name))
    return name


def write_file(args, seq, rng, first_id, ts_us):
    name = stage_file(args, seq, rng, first_id, ts_us)
    os.rename(os.path.join(args.stage, name), os.path.join(args.dir, name))


def run(args):
    rng = np.random.default_rng(args.seed)
    os.makedirs(args.stage, exist_ok=True)
    os.makedirs(args.dir, exist_ok=True)
    if args.prime:
        now = int(time.time() * 1e6)
        write_file(args, 0, rng, 0, np.full(args.prime, now, dtype=np.int64))
        return
    dt = FILE_MS / 1000.0
    seq, next_id = 1, args.first_id
    log = open(args.log, "w")
    t_start = time.time()
    log.write(json.dumps({"start": t_start}) + "\n")
    phase_start = t_start
    for pi, spec in enumerate(args.phases.split(",")):
        rate, secs = (float(x) for x in spec.split(":"))
        ticks = int(round(secs / dt))
        emitted = 0
        prev = phase_start
        for k in range(1, ticks + 1):
            sched = phase_start + k * dt
            wait = sched - time.time()
            if wait > 0:
                time.sleep(wait)
            began = time.time()
            n = int(rate * k * dt) - emitted
            if n > 0:
                lo, hi = int(prev * 1e6), int(sched * 1e6)
                ts = np.sort(rng.integers(lo + 1, hi + 1, n))
                write_file(args, seq, rng, next_id, ts)
                emitted += n
                next_id += n
                log.write(json.dumps({
                    "seq": seq, "phase": pi, "sched": sched, "began": began,
                    "written": time.time(), "n": n, "last_id": next_id - 1,
                }) + "\n")
                seq += 1
            prev = sched
        phase_start += ticks * dt
    now = time.time()
    ts = np.sort(rng.integers(int(prev * 1e6) + 1, int(now * 1e6) + 1,
                              BACKLOG_EVENTS))
    staged = []
    for lo in range(0, BACKLOG_EVENTS, BACKLOG_FILE_EVENTS):
        part = ts[lo:lo + BACKLOG_FILE_EVENTS]
        staged.append((stage_file(args, seq, rng, next_id, part), len(part)))
        seq += 1
        next_id += len(part)
    log.write(json.dumps({"backlog": staged}) + "\n")
    log.close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--phases", default="")
    ap.add_argument("--log", default=os.devnull)
    ap.add_argument("--prime", type=int, default=0)
    ap.add_argument("--first-id", type=int, default=0)
    run(ap.parse_args())


if __name__ == "__main__":
    main()
