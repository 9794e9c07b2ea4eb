"""Output checks, run outside every timed span.

Catalog entries go through the repository's own oracle gate,
``tests/oracle_harness.py``: column names, row count and the canonical
rows against the entry's DuckDB ``oracle_sql`` over the same snapshot,
plus the gate's refusal of non-scalar cells and of HUGEINT oracle
columns. Panels and streamed totals have no oracle of their own; they
are compared as row sets with a float tolerance (``rows_close``).
"""

from __future__ import annotations

import math

from tests.oracle_harness import compare


def oracle_mismatch(df, con, sql: str) -> str | None:
    """None when the Spark frame passes the oracle gate, else its issues."""
    report = compare(df, con, sql)
    return None if report["ok"] else "; ".join(report["issues"])[:500]


def rows_close(got, want, rel: float = 1e-9) -> bool:
    """Order-insensitive row-set equality with a relative tolerance on
    floats (for sums whose association order differs between engines)."""
    if len(got) != len(want):
        return False

    def key(r):
        return tuple((v is None, "" if isinstance(v, float) else str(v)) for v in r)

    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(x, y, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
