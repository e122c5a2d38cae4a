"""Compare a gate's Spark output with its DuckDB oracle, the way the
driver contract's own check does: columns sorted by name, floats
rounded to 6 places, rows sorted, then compared value for value."""

from __future__ import annotations

import math
import os


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


class Oracles:
    """DuckDB views over the data dir's tables, plus the gates'
    registered oracle SQL (lazy entries resolved on use)."""

    def __init__(self, data_dir: str, registry):
        import duckdb

        self._registry = registry
        self._con = duckdb.connect()
        for t in registry.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def check(self, name: str, df) -> str:
        """Return "" when ``df`` matches the oracle, else what differs.

        Call right after the gate ran: some oracles read files the gate
        just wrote, so they are resolved here and not up front.
        """
        oracle = self._registry.ORACLES.get(name)
        if oracle is None:
            return "no oracle registered"
        sql = oracle() if callable(oracle) else oracle
        scols = sorted(df.columns)
        srows = sorted(
            (tuple(_norm(r[c]) for c in scols) for r in df.collect()), key=repr
        )
        res = self._con.execute(sql)
        pos = {d[0]: i for i, d in enumerate(res.description)}
        dcols = sorted(pos)
        drows = sorted(
            (tuple(_norm(r[pos[c]]) for c in dcols) for r in res.fetchall()),
            key=repr,
        )
        if scols != dcols:
            return f"columns differ: spark {scols} oracle {dcols}"
        if srows != drows:
            return f"rows differ: spark {len(srows)} rows, oracle {len(drows)}"
        return ""

    def close(self) -> None:
        self._con.close()
