"""The strict representation hash: the one definition of a correct result,
shared by the fast gate, tools/drive_driver.py and perfbench. Columns sort
by name, rows by their canonical line, and no value is coerced, so int vs
float, "61" vs "61.0" and -0.0 vs 0.0 differ as in the driver's hash.
Changing ``canon`` invalidates perfbench's cached oracle hashes."""

from __future__ import annotations

import hashlib
import math
from itertools import zip_longest


def canon(v):
    # Mirror a representation-hash: no tolerant numeric coercion. Floats are
    # repr'd exactly; ints stay ints; bytes hex; None canonical.
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return "0x" + v.hex()
    return repr(v)


def _lines(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)


def frame_hash(cols, rows):
    h = hashlib.sha256()
    h.update(("\x1e".join(sorted(cols))).encode())
    for ln in _lines(cols, rows):
        h.update(b"\x1d")
        h.update(ln.encode())
    return h.hexdigest()


def first_difference(scols, srows, ocols, orows) -> str:
    """Both column sets, both row counts and the first differing canonical
    line of two frames (None where one side has no more lines)."""
    out = [
        f"spark_cols={sorted(scols)} duck_cols={sorted(ocols)}",
        f"rows spark={len(srows)} duck={len(orows)}",
    ]
    for a, b in zip_longest(_lines(scols, srows), _lines(ocols, orows)):
        if a != b:
            out += [f"spark: {str(a)[:200]}", f"duck : {str(b)[:200]}"]
            break
    return "\n".join(out)
