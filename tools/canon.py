"""Driver-style value canonicalization for perfbench's output digests
(perfbench/workloads.py), its one user; the committed digests in
perfbench/expected.json depend on it byte for byte.

DuckDB results arrive via ``fetchdf``, where a BIGINT column holding a
NULL is coerced to float64 — so Spark's 3 (int) strings as '3' while
the oracle's same value strings as '3.0', and NULL itself as nan vs
None. Normalize both: NULL-ish -> <NULL>, integral floats -> int repr.
Real fractional differences still compare exact (shortest round-trip
repr, normalized through the builtin float so numpy scalars —
'np.float64(0.5)' under NumPy >= 2 — compare equal to Spark's plain
floats). The oracle check itself is ``tools.oracle.compare``.
"""

from __future__ import annotations

import math


def canon_value(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(float(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)
