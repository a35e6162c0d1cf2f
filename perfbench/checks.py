"""Output comparison helpers shared by the workloads' checks."""

from __future__ import annotations

import datetime as dt
import math
import re

# the engine's documented Glue -> Spark type deviations (types.py):
# timestamp is tz-naive, char/varchar lose their length, integer is int
_GLUE_TO_SPARK = [(r"\btimestamp\b", "timestamp_ntz"), (r"\binteger\b", "int"),
                  (r"\b(?:var)?char\(\d+\)", "string")]


def spark_type_string(glue_type: str) -> str:
    """Expected ``DataType.simpleString()`` of a Glue column type."""
    for pat, rep in _GLUE_TO_SPARK:
        glue_type = re.sub(pat, rep, glue_type)
    return glue_type


def norm(v):
    """Engine-neutral scalar: floats stay floats (compared with a
    tolerance), timestamps and dates become ISO strings."""
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def norm_rows(rows) -> list[tuple]:
    return [tuple(norm(v) for v in r) for r in rows]


def close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got: list[tuple], want: list[tuple], ordered: bool = True) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    return all(close(g, w) for g, w in zip(got, want))
