"""Output checks run on every op before it is timed.

Ops with an entry in ``engine.ORACLES`` are compared with their DuckDB
oracle over the same corpus, using the canonicalization of
``tests/test_oracle_parity.py`` (exact float repr, order-insensitive rows,
sorted-column projection).  It is restated here so that the benchmark keeps
measuring against a fixed definition while the tests evolve.

Ops without an oracle are compared with a row count and an
order-insensitive digest pinned in ``expected.json``.  The digest rounds
floats to 10 significant digits, so that summation order across tasks
does not change it.
"""

from __future__ import annotations

import datetime
import hashlib
import math


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _sortkey(row):
    return tuple((x is None, type(x).__name__, str(x)) for x in row)


def normalize(columns, rows):
    """Rows as canonical tuples in sorted-column order, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=_sortkey)
    return out


def _round_floats(v):
    if isinstance(v, float) and math.isfinite(v):
        return float(f"{v:.10g}")
    if isinstance(v, (list, tuple)):
        return tuple(_round_floats(x) for x in v)
    if isinstance(v, dict):
        return {k: _round_floats(x) for k, x in v.items()}
    return v


def digest(columns, rows) -> str:
    """Order-insensitive SHA-256 of a result (column names included)."""
    rounded = [tuple(_round_floats(x) for x in r) for r in rows]
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in normalize(columns, rounded):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def collect_sorted(df):
    """Collect through the sorted-column projection the parity test uses."""
    proj = df.select(*sorted(df.columns))
    return proj.columns, [tuple(r) for r in proj.collect()]


class Checker:
    """Compares op outputs with DuckDB oracles or pinned digests."""

    def __init__(self, corpus_dir: str, tables, pinned: dict):
        import duckdb

        self.oracles: dict[str, str] = {}  # engine.ORACLES, once imported
        self.pinned = pinned
        self._duck = duckdb.connect()
        for t in tables:
            self._duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{corpus_dir}/{t}.parquet')"
            )
        self._oracle_rows: dict[str, tuple] = {}

    def close(self) -> None:
        self._duck.close()
        self._oracle_rows.clear()

    def check(self, key: str, columns, rows) -> str | None:
        """None when the output is right, else a one-line reason."""
        if key in self.oracles:
            if key not in self._oracle_rows:
                cur = self._duck.execute(self.oracles[key])
                cols = [d[0] for d in cur.description]
                self._oracle_rows[key] = (cols, normalize(cols, cur.fetchall()))
            want_cols, want = self._oracle_rows[key]
            if sorted(columns) != sorted(want_cols):
                return f"columns {sorted(columns)} != oracle {sorted(want_cols)}"
            if len(rows) != len(want):
                return f"rows {len(rows)} != oracle {len(want)}"
            got = normalize(columns, rows)
            bad = sum(a != b for a, b in zip(got, want))
            return f"{bad} rows differ from oracle" if bad else None
        pin = self.pinned.get(key)
        if pin is None:
            return "no oracle and no pinned digest"
        if len(rows) != pin["rows"]:
            return f"rows {len(rows)} != pinned {pin['rows']}"
        if digest(columns, rows) != pin["digest"]:
            return "digest differs from pinned"
        return None
