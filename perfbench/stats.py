"""Pure helpers shared by the runner and its tests: percentiles, the
ten-samples-beyond rule for tail percentiles, and the naming rules for
metrics and units."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it


def percentile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of ``n`` samples lie above the ``q`` quantile."""
    return n - math.ceil(round(q * n, 9))


def min_samples(q, beyond=TAIL_BEYOND):
    """Smallest sample count with at least ``beyond`` samples above ``q``."""
    return math.ceil(round(beyond / (1.0 - q), 9))


def tail_resolved(n, q, beyond=TAIL_BEYOND):
    return samples_beyond(n, q) >= beyond


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))
