"""Order-insensitive value hashes for checking query answers.

A result is reduced to one digest that ignores row order and column
order (columns are sorted by lower-cased name, rows by their canonical
form) but keeps each value's type family, so an int column never matches
a float column that happens to compare equal. The same digest is taken
from the registry entry's DuckDB oracle and from the rows Spark collects.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return ("f", "nan" if math.isnan(f) else repr(f))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("t", v.isoformat())
    if isinstance(v, dt.date):
        return ("t", v.isoformat())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("o", repr(v))


def digest(columns: list[str], rows) -> str:
    """Hash ``rows`` (sequences aligned with ``columns``) ignoring order."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=names.__getitem__)
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([names[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digests(data_dir: str, oracles: dict[str, str], tables) -> dict[str, str]:
    """Run each DuckDB oracle query over the parquet files in ``data_dir``."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        out = {}
        for name, sql in oracles.items():
            rel = con.sql(sql)
            out[name] = digest(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()
