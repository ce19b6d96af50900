"""Pure helpers of the benchmark: percentiles, failure accounting and the
result fingerprint. No I/O, so `tests/` can pin them."""
import datetime as _dt
import decimal
import hashlib
import math

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)
MIN_BEYOND = 10


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples (the product
    is rounded first so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[_rank(p, len(xs)) - 1]


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail_percentile(n):
    """The highest of TAIL_PERCENTILES that leaves at least MIN_BEYOND of
    `n` samples strictly beyond its nearest rank, or None."""
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def summarize(values):
    """{'n', 'p50', and 'p<tail>' when the sample is large enough}."""
    out = {"n": len(values)}
    if values:
        out["p50"] = median(values)
        tp = tail_percentile(len(values))
        if tp is not None:
            out["p%g" % tp] = percentile(values, tp)
    return out


def account(ops):
    """Failure accounting over operation records {'err': str, 's': float}:
    a failed operation counts against the attempts and never contributes a
    latency. Returns (attempted, failed, latencies of the ok ones)."""
    attempted = len(ops)
    failed = sum(1 for o in ops if o.get("err"))
    lat = [o["s"] for o in ops if not o.get("err")]
    return attempted, failed, lat


def fail_ratio(attempted, failed):
    return failed / attempted if attempted else 0.0


# ----------------------------------------------------------- fingerprint

SIG_DIGITS = 9


def canon(v):
    """Engine-neutral text of one value: numbers compare by value (an
    integral 3.0 equals 3; others to SIG_DIGITS significant digits), dates
    and times by ISO text, lists element-wise; NULL is a control character
    no generated string contains."""
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)) or type(v).__module__ == "numpy":
        try:
            f = float(v)
        except (TypeError, ValueError):
            return repr(v)
        if math.isnan(f):
            return "nan"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f == int(f) and abs(f) < 2 ** 53:
            return str(int(f))
        return "%.*g" % (SIG_DIGITS, f)
    if isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join("%s:%s" % (k, canon(v[k])) for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def fingerprint(columns, rows):
    """Order-insensitive digest of a result: columns are taken in name
    order and rows as a sorted multiset, so two engines that return the
    same relation in different row or column order agree."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return "%d:%s" % (len(lines), h.hexdigest()[:16])
