"""Result check against the DuckDB oracles, with the repository's own
canonicalisation (``tools/verify_local.normalize``)."""

from __future__ import annotations

import duckdb

from tools.verify_local import TABLES, normalize


class OracleChecker:
    def __init__(self, data_dir: str, oracles: dict[str, str]) -> None:
        self.oracles = oracles
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def check(self, name: str, sdf) -> str | None:
        """Compare one query's Spark result with its oracle. Returns None
        when they agree, else a one-line reason. A query without an oracle
        must return at least one row."""
        scols = sorted(sdf.columns)
        spdf = sdf.toPandas()[scols]
        srows = list(spdf.itertuples(index=False, name=None))
        if name not in self.oracles:
            return None if srows else "rows-only query returned no rows"
        dpdf = self.con.execute(self.oracles[name]).df()
        dcols = sorted(dpdf.columns)
        drows = list(dpdf[dcols].itertuples(index=False, name=None))
        if scols != dcols:
            return f"columns differ: spark={scols} duck={dcols}"
        if len(srows) != len(drows):
            return f"row count differs: spark={len(srows)} duck={len(drows)}"
        if normalize(srows) != normalize(drows):
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()
