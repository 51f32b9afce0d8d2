"""Arithmetic of the benchmark's metrics: percentiles, latency from sink
commit times, scheduling gaps and span self time. Pure functions over plain
numbers, so they can be tested without Spark."""
import math

MIN_BEYOND = 10


def supported(n, q):
    """True when the q-quantile of n samples has >= 10 samples beyond it."""
    return n - math.ceil(q * n) >= MIN_BEYOND


def quantile(values, q, base=None):
    """Nearest-rank q-quantile; refuses a tail the sample cannot support.

    `base` is the number of attempted operations when `values` holds the
    times of the successful ones only: failed operations rank after every
    success (they never finished), so a failure does not shift the rank of
    the quantile. Returns None when the rank falls on a failed operation."""
    xs = sorted(values)
    n = len(xs) if base is None else base
    if n < len(xs) or not n:
        raise ValueError(f"{len(xs)} samples, base {n}")
    if q > 0.5 and not supported(n, q):
        raise ValueError(f"p{q * 100:g} needs >= {MIN_BEYOND} samples beyond it; have {n}")
    rank = max(0, math.ceil(q * n) - 1)
    return xs[rank] if rank < len(xs) else None


def median(values, base=None):
    return quantile(values, 0.5, base)


def op_stats(times, attempted, tail_q):
    """{"p50_ms", "tail_ms", "mean_ms"}: (value, sample count) of the
    successful operations' times, ranked over the `attempted` count. A value
    the successes cannot give (the rank falls on a failed operation, or
    nothing succeeded) is None."""
    n = len(times)
    if not attempted:
        return {k: (None, 0) for k in ("p50_ms", "tail_ms", "mean_ms")}
    return {"p50_ms": (median(times, attempted), n),
            "tail_ms": (quantile(times, tail_q, attempted), n),
            "mean_ms": (sum(times) / n if n else None, n)}


def due_ms(run_start_ms, value, rate):
    """When an open-loop source started at `run_start_ms`, offering `rate`
    rows a second, makes row number `value` due."""
    return run_start_ms + value * 1000.0 / rate


def row_latencies(commit_ms, rows):
    """Per row: the commit time of the batch that made it visible minus the
    time the row was due. `commit_ms` maps batch id -> commit time; `rows`
    is an iterable of (batch id, due time); rows of batches never committed
    are skipped."""
    return [commit_ms[b] - due for b, due in rows if b in commit_ms]


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def sched_gap(start, end, stage_spans):
    """Wall time of [start, end) during which no stage was running."""
    return (end - start) - union_length(clip(stage_spans, start, end))


def layer_self_times(spans, layer):
    """{layer: self time} for spans given as {id: (parent id, start, end)}.
    At each instant the time goes to the layer of the deepest span then
    running, so a span's self time is its duration minus the part its
    children cover, concurrent siblings share their time once, and the
    layers' self times add up to the roots' wall time."""
    depth = {}

    def d(sid):
        if sid not in depth:
            parent = spans[sid][0]
            depth[sid] = 0 if parent is None else d(parent) + 1
        return depth[sid]
    edges = sorted({t for _, s, e in spans.values() for t in (s, e)})
    out = {}
    for lo, hi in zip(edges, edges[1:]):
        live = [sid for sid, (_, s, e) in spans.items() if s <= lo and e >= hi]
        if live:
            top = max(live, key=d)
            out[layer[top]] = out.get(layer[top], 0.0) + (hi - lo)
    return out


def ops_summary(ops):
    """(attempted, failed, times of the successful operations). `ops` holds
    (ok, seconds) pairs; a failed operation is counted and never timed."""
    ops = list(ops)
    return len(ops), sum(1 for ok, _ in ops if not ok), [t for ok, t in ops if ok]
