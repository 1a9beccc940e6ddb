"""Output checks: registry queries against their DuckDB oracle SQL.

The comparison is that of ``drive_full.py``, the full-surface
correctness drive, via its canonical hash: sorted column names, row
count, and an order-insensitive hash of canonicalized values.  A
query registered
without oracle SQL is checked rows-only (it must return rows).
"""

from __future__ import annotations

from drive_full import TABLES, df_hash


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self._answers: dict[str, tuple] = {}
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def check(self, spec, cols: list[str], rows: list) -> str | None:
        """None when ``(cols, rows)`` is the right answer for ``spec``,
        else a one-line reason."""
        if spec.sql is None:
            return None if rows else f"{spec.name}: no rows (rows-only check)"
        if spec.name not in self._answers:
            cur = self.con.execute(spec.sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            self._answers[spec.name] = (sorted(ocols), len(orows), df_hash(ocols, orows))
        ocols, n_orows, ohash = self._answers[spec.name]
        if sorted(cols) != ocols:
            return f"{spec.name}: columns {sorted(cols)} != oracle {ocols}"
        if len(rows) != n_orows:
            return f"{spec.name}: {len(rows)} rows != oracle {n_orows}"
        if df_hash(cols, rows) != ohash:
            return f"{spec.name}: value hash differs from oracle"
        return None
