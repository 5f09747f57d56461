"""Expected results from DuckDB, and the comparisons the workloads use.

Every expected value here is computed by DuckDB over the same parquet
the program reads, outside the timed region; nothing is taken from the
program's own output. Values from both sides are reduced to JSON-like
scalars by ``norm`` (this file's own mapping, written independently of
the program's serializer) before they are compared.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from collections import Counter

#: Relative tolerance for floating-point aggregates: the two engines sum
#: in different orders, so the last bits may differ.
REL_TOL = 1e-9


def connect(sf_dir: str, tables) -> object:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=4")
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
    return con


def norm(value):
    """A value as it appears in a JSON response: timestamps and dates as
    ISO strings, decimals as strings, bytes as hex."""
    if value is None or isinstance(value, (bool, int, str)):
        return value
    if isinstance(value, float):
        return value
    if isinstance(value, dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return value.isoformat(sep=" ")
    if isinstance(value, (dt.date, dt.time)):
        return value.isoformat()
    if isinstance(value, decimal.Decimal):
        return str(value)
    if isinstance(value, bytes):
        return value.hex()
    if isinstance(value, (list, tuple)):
        return [norm(v) for v in value]
    if isinstance(value, dict):
        return {k: norm(v) for k, v in value.items()}
    return str(value)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def _key(row: list) -> tuple:
    # floats rounded for ordering/grouping only; equality still uses _close
    return tuple(
        (2, round(v, 6)) if isinstance(v, float) else (0, "") if v is None else (1, str(v))
        for v in row
    )


def same_rows(got: list[list], want: list[list], ordered: bool) -> bool:
    """Exact row lists (ordered) or multisets (unordered), floats within
    REL_TOL."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    return all(len(a) == len(b) and all(map(_close, a, b)) for a, b in zip(got, want))


def contained(got: list[list], pool: list[list]) -> bool:
    """Every returned row occurs in ``pool`` (as a multiset)."""
    have = Counter(_key(r) for r in pool)
    for r in got:
        k = _key(r)
        if have[k] <= 0:
            return False
        have[k] -= 1
    return True


def duck_rows(con, sql: str) -> tuple[list[str], list[list]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, [[norm(v) for v in row] for row in cur.fetchall()]


def table_digest(con, relation: str, cols) -> tuple[int, int]:
    """(row count, order-independent digest) of a relation, computed by
    DuckDB over the text form of each listed column: a sum of row hashes,
    so duplicate rows count and row order does not."""
    args = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    n, digest = con.execute(
        f"SELECT count(*), coalesce(sum(CAST(hash({args}) AS HUGEINT)), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(digest)
