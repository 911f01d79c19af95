"""Summary rules of the benchmark: medians, the guarded percentile, failure
counts, and the end-to-end and per-layer metrics of one run report."""

import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10

UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio"}


def median(xs):
    return statistics.median(xs)


def percentile(xs, q, min_beyond=MIN_BEYOND):
    """Nearest-rank q-quantile of xs, or None when fewer than `min_beyond`
    samples lie above its rank (p90 needs at least 100 samples)."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return sorted(xs)[rank - 1]


def failures(ops):
    """(attempted, failed): an operation fails when it raised, found the
    lock held, or its output check did not match."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    if name.startswith("fs.bytes") or name.endswith("bytes_in"):
        return "B"
    return "count"


def end_to_end(report):
    """name -> (value, unit, samples) for a timed (untraced) run."""
    ops = report["ops"]
    # the first operation runs in a cold JVM (and, on ingest_daily, fills
    # the table); it counts in wall_s only
    warm_ops = ops[1:] or ops
    return {
        "setup_s": (median(report["setup_s"]), "s", len(report["setup_s"])),
        "op_p50_s": (median([o["latency_s"] for o in warm_ops]), "s", len(warm_ops)),
        "write_amp": (sum(o["bytes_written"] for o in warm_ops)
                      / sum(o["decoded_bytes"] for o in warm_ops), "ratio", len(warm_ops)),
        "rss_peak_mb": (report["rss_peak_mb"], "MB", 1),
    }


def unbounded(report):
    """name -> (value, unit, samples) of end-to-end figures too noisy on a
    shared 4-core host to carry a regression bound; printed, not gated."""
    lat = [o["latency_s"] for o in report["ops"]]
    fixed = lat[: report["fixed_ops"]]
    out = {
        "wall_s": (sum(fixed), "s", len(fixed)),
        "first_op_s": (lat[0], "s", 1),
    }
    p90 = percentile(lat, 0.9)
    if p90 is not None:
        out["op_p90_s"] = (p90, "s", len(lat))
    return out


def per_layer(report):
    """name -> (value, unit, samples): each layer metric's median over the
    traced operations, plus the tracing overhead."""
    layers = report["layers"]
    out = {}
    for name in layers[0] if layers else []:
        xs = [m[name] for m in layers]
        out[name] = (median(xs), unit_of(name), len(xs))
    diffs = tracing_overhead(report["ops"])
    if diffs:
        out["trace.overhead_s"] = (median(diffs), "s", len(diffs))
    return out


def tracing_overhead(ops):
    """Each traced operation's latency minus the mean of its two untraced
    neighbours, which cancels a steady warm-up trend. The first operation
    (cold JVM) is never a neighbour."""
    t = [o["latency_s"] for o in ops]
    return [t[i] - (t[i - 1] + t[i + 1]) / 2 for i in range(2, len(ops) - 1)
            if ops[i]["traced"] and not ops[i - 1]["traced"] and not ops[i + 1]["traced"]]
