"""Small statistics and parsing helpers for the benchmark (no Spark)."""

from __future__ import annotations

import re

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail value


def tail(samples) -> dict:
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    With n sorted samples the value at rank n - TAIL_BEYOND (1-based) has
    exactly TAIL_BEYOND samples above it, so it is the percentile
    100 * (n - TAIL_BEYOND) / n. With fewer than TAIL_BEYOND + 1 samples
    no percentile qualifies; the maximum is returned and `beyond` says how
    many samples lie past it (zero)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n > TAIL_BEYOND:
        i = n - TAIL_BEYOND - 1
        return {"value": xs[i], "percentile": 100.0 * (i + 1) / n,
                "samples": n, "beyond": TAIL_BEYOND}
    return {"value": xs[-1], "percentile": 100.0, "samples": n, "beyond": 0}


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "PiB": 1024.0 ** 5,
}
_VALUE_RE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text) -> float:
    """Value of a formatted SQL plan-node metric from Spark's status store.

    Plain values look like ``59,539``, ``2.8 s``, ``0 ms`` or ``1.2 MiB``;
    per-task metrics are ``total (min, med, max (stageId: taskId))`` on one
    line and ``5.8 s (1.4 s, 1.4 s, 1.5 s (stage 66.0: task 55))`` on the
    next, of which the total is returned; averaged metrics have no total
    (``(min, med, max (stageId: taskId)):`` then ``(1, 1, 1 (...))``) and
    give their median. Times come back in seconds and
    sizes in bytes. None or an empty string is 0."""
    if text is None:
        return 0.0
    s = str(text).strip()
    if not s:
        return 0.0
    if s.startswith("total") or s.startswith("(min"):
        lines = s.splitlines()
        if len(lines) < 2:
            raise ValueError(f"metric without a value line: {text!r}")
        s = lines[1]
        if s.startswith("("):
            # averaged metrics carry no total: "(min, med, max (...))"
            parts = s[1:].split(", ")
            if len(parts) < 3:
                raise ValueError(f"unparsable metric value: {text!r}")
            s = parts[1]
    m = _VALUE_RE.match(s)
    if m is None:
        raise ValueError(f"unparsable metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return value * _UNITS[unit]
