"""Pure logic of the benchmark: percentiles, the stage-skew fold, the
interval arithmetic behind the per-query time split, and the result
comparison.  No Spark, no I/O; `test_benchlib.py` covers it.
"""
import datetime
import decimal
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it.  Always returns an observed value."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def geomean(values):
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ---- stage skew --------------------------------------------------------

def skew(mx, mn, total, n):
    """The paper's stage skew from an O(1) max/min/sum/count fold:
    max(max-avg, avg-min) / (max-min), with a zero range counted as 1
    (the engine's `Skewness.skewFromStats` guard)."""
    avg = total / n
    rng = 1.0 if mx == mn else float(mx - mn)
    return max(mx - avg, avg - mn) / rng


# ---- intervals: the per-query layer split --------------------------------

def union(intervals):
    """Merge (start, end) intervals into a sorted disjoint list."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def length(intervals):
    return sum(b - a for a, b in union(intervals))


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def minus(intervals, cut):
    """Parts of `intervals` not covered by `cut` (both any lists)."""
    out = []
    cut = union(cut)
    for a, b in union(intervals):
        for c, d in cut:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append((a, c))
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append((a, b))
    return out


def split_op(op):
    """Partition one operation's wall time into layer self-times (ms).

    `op` holds the operation window `t0`..`t1`, the intervals spent in the
    engine's build calls (`builds`), and the `jobs` and Catalyst `phases`
    intervals the listeners saw (epoch ms).  Jobs win over everything;
    Catalyst phases win over the rest; what remains is build-call self
    time inside `builds` and driver gap outside them.  The parts are a
    partition: they sum to the window by construction, not by measurement.
    """
    t0, t1 = op["t0"], op["t1"]
    builds = clip(op["builds"], t0, t1)
    jobs = union(clip(op["jobs"], t0, t1))
    covered = list(jobs)
    parts = {"exec.job_ms": length(jobs)}
    for phase in ("analysis", "optimization", "planning"):
        own = minus(clip(op["phases"].get(phase, []), t0, t1), covered)
        parts[f"catalyst.{phase}_ms"] = length(own)
        covered += own
    parts["queries.build_ms"] = length(minus(builds, covered))
    parts["driver.gap_ms"] = length(minus(minus([(t0, t1)], builds), covered))
    return parts


# ---- result comparison (tools/compare_oracle.py's rules) ----------------

def _key(row):
    return str(tuple("NaN" if isinstance(v, float) and math.isnan(v) else str(v)
                     for v in row))


def _cell_eq(a, b):
    if isinstance(a, list) or isinstance(b, list):
        return (isinstance(a, list) and isinstance(b, list) and len(a) == len(b)
                and all(_cell_eq(x, y) for x, y in zip(a, b)))
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        if not (isinstance(a, (int, float)) and isinstance(b, (int, float))):
            return False
        if isinstance(a, int) or isinstance(b, int):
            return False  # int-vs-float column: a type mismatch
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def compare(got, want):
    """Compare two results given as (columns, rows).  Columns are sorted
    by name, rows by all columns; ints and strings must match exactly,
    floats within 1e-9 relative.  Returns None or a mismatch message."""
    gcols, grows = got
    wcols, wrows = want
    if sorted(gcols) != sorted(wcols):
        return f"columns {sorted(gcols)} != {sorted(wcols)}"
    if len(grows) != len(wrows):
        return f"rows {len(grows)} != {len(wrows)}"
    order = sorted(gcols)
    gi = [gcols.index(c) for c in order]
    wi = [wcols.index(c) for c in order]
    g = sorted(([r[i] for i in gi] for r in grows), key=_key)
    w = sorted(([r[i] for i in wi] for r in wrows), key=_key)
    for n, (x, y) in enumerate(zip(g, w)):
        for c, a, b in zip(order, x, y):
            if not _cell_eq(a, b):
                return f"row {n} column {c}: {a!r} != {b!r}"
    return None


def canon(v):
    """A DuckDB/Python value in the canonical form the harness writes."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        return "dec:" + _plain(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "ts:" + v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return "date:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):  # a STRUCT: field values in order, as Spark rows
        return [canon(x) for x in v.values()]
    if isinstance(v, (bytes, bytearray)):
        return "bin:" + bytes(v).hex()
    raise TypeError(f"no canonical form for {type(v).__name__}")


def _plain(d):
    d = d.normalize()
    s = format(d, "f")
    return "0" if s in ("-0", "0") else s
