"""Pure measurement logic of the benchmark, kept apart so it can be
tested without Spark: percentiles, the tail rule, open-loop lateness,
backlog-growth detection and failure counting."""
import math
import statistics

TAIL_MIN_BEYOND = 10
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)
# a step's backlog grows when it gains more than this share of the files
# written per second
BACKLOG_GROWTH = 0.1


def percentile(values, q):
    """Linear-interpolated q-th percentile (0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest percentile of TAIL_LADDER with at least TAIL_MIN_BEYOND
    samples strictly above its rank, as (percentile, value). With too
    few samples for any rung, the median."""
    n = len(values)
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= TAIL_MIN_BEYOND:
            return q, percentile(values, q)
    return 50.0, percentile(values, 50.0)


def lateness_ms(scheduled, actual):
    """Open-loop lateness: how far each send fell behind its scheduled
    time (never negative), and the maximum."""
    late = [max(0.0, a - s) for s, a in zip(scheduled, actual)]
    return late, (max(late) if late else 0.0)


def ingested_at(t, batch_ends, cum_rows):
    """Events ingested by the batches that ended at or before `t`."""
    done = 0
    for end, cum in zip(batch_ends, cum_rows):
        if end <= t:
            done = cum
        else:
            break
    return done


def backlog_series(files, batch_ends, cum_rows):
    """File backlog sampled at each file write: files written so far
    whose events no finished batch has ingested yet. `files` is a list
    of (write_time, cumulative_events) in write order."""
    out = []
    for i, (t, _) in enumerate(files):
        done = ingested_at(t, batch_ends, cum_rows)
        pending = sum(1 for _, cum in files[:i + 1] if cum > done)
        out.append((t, pending))
    return out


def slope(points):
    """Least-squares slope of (x, y) points; 0 with fewer than two
    distinct x."""
    if len(points) < 2:
        return 0.0
    mx = statistics.fmean(p[0] for p in points)
    my = statistics.fmean(p[1] for p in points)
    sxx = sum((p[0] - mx) ** 2 for p in points)
    if sxx == 0:
        return 0.0
    return sum((p[0] - mx) * (p[1] - my) for p in points) / sxx


def backlog_grows(series, files_per_s):
    """True when the backlog over a step grows by more than
    BACKLOG_GROWTH of the files written per second, i.e. the engine falls
    behind the offered rate instead of holding a bounded queue."""
    return slope(series) > BACKLOG_GROWTH * files_per_s


def ingest_rate(batch_ends, cum_rows, t0, t1):
    """Events per second ingested between the first and the last batch
    that ended inside [t0, t1]; None with fewer than two such batches."""
    inside = [(e, c) for e, c in zip(batch_ends, cum_rows) if t0 <= e <= t1]
    if len(inside) < 2 or inside[-1][0] == inside[0][0]:
        return None
    return (inside[-1][1] - inside[0][1]) / (inside[-1][0] - inside[0][0])


def drain_s(t_release, batch_ends, cum_rows, total):
    """Seconds from `t_release` until the first batch that brought the
    ingested count to `total` ended; None when no batch did."""
    for end, cum in zip(batch_ends, cum_rows):
        if cum >= total and end > t_release:
            return end - t_release
    return None


class Outcomes:
    """Operations attempted and failed (an error or a wrong result). A
    failure is kept by name with its reason, never dropped."""

    def __init__(self):
        self.attempted = 0
        self.failed = {}  # name -> [count, reason]

    def record(self, name, ok, why="", n=1):
        """`n` operations named `name`, all ok or all failed."""
        self.attempted += n
        if not ok:
            entry = self.failed.setdefault(name, [0, why])
            entry[0] += n

    @property
    def n_failed(self):
        return sum(c for c, _ in self.failed.values())

    @property
    def failed_frac(self):
        return self.n_failed / self.attempted if self.attempted else 1.0


def geomean(values):
    return math.exp(statistics.fmean(math.log(v) for v in values))
