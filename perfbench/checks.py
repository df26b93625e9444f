"""Result comparison helpers shared by the workloads' correctness checks.

Every check returns a list of human-readable problems; an empty list
means the check passed. The helpers take plain Python data so the smoke
test can feed them deliberately corrupted results.
"""

from __future__ import annotations

import collections
import datetime
import math


def compare_multisets(name: str, got, expected, limit: int = 3) -> list[str]:
    """Order-insensitive comparison of two row collections (tuples)."""
    g, e = collections.Counter(got), collections.Counter(expected)
    if g == e:
        return []
    missing = list((e - g).elements())[:limit]
    extra = list((g - e).elements())[:limit]
    return [f"{name}: {sum(g.values())} rows, expected {sum(e.values())}; "
            f"missing {missing}, unexpected {extra}"]


def _canon_value(v):
    """Normalize one cell so Spark's and DuckDB's Python values compare
    exactly: floats by repr, dates whichever type carries them."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", repr(v))
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_value(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return ("b", v.hex())
    if isinstance(v, datetime.datetime) and v.tzinfo is None and v.time() == datetime.time(0):
        return ("d", v.date().isoformat())
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return ("d", v.isoformat())
    return (type(v).__name__, str(v))


def canon_frame(pdf) -> tuple[list, list]:
    """(sorted column names, canonical rows) of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = [tuple(_canon_value(v) for v in r)
            for r in pdf[cols].itertuples(index=False, name=None)]
    return cols, rows


def compare_frames(name: str, got_pdf, expected_pdf) -> list[str]:
    """Exact, order-insensitive comparison of a query result with its
    oracle result (same columns, same rows, floats bit for bit)."""
    gc, gr = canon_frame(got_pdf)
    ec, er = canon_frame(expected_pdf)
    if gc != ec:
        return [f"{name}: columns {gc}, oracle has {ec}"]
    return compare_multisets(name, gr, er)
