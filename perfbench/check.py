"""Output check: each op's Spark result against its DuckDB oracle twin.

The value normalization and the shape-only marker are imported from the
repository's differential harness ``scripts/check_oracle.py``, so the
benchmark and that harness judge results by the same rules.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from gen import TABLES


def load_check_oracle(root: str):
    """Import ``scripts/check_oracle.py`` from the checkout at ``root``."""
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    if spec is None or spec.loader is None:
        raise ImportError(path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleCheck:
    def __init__(self, root: str, oracles: dict[str, str]):
        self.co = load_check_oracle(root)
        self.oracles = oracles

    def problems(self, name: str, variant_dir: str, rows, cols: list[str]) -> list[str]:
        """Mismatches between Spark ``rows``/``cols`` and the oracle on ``variant_dir``."""
        sql = self.oracles.get(name)
        if sql is None:
            return ["no oracle"]
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{variant_dir}/{t}.parquet')"
                )
            res = con.execute(sql)
            drows = res.fetchall()
            dcols = [d[0].lower() for d in res.description]
        finally:
            con.close()
        out = []
        if len(rows) != len(drows):
            out.append(f"rowcount spark={len(rows)} duckdb={len(drows)}")
        if sorted(cols) != sorted(dcols):
            out.append(f"columns spark={sorted(cols)} duckdb={sorted(dcols)}")
        shape_only = sql.lstrip().startswith(self.co.SHAPE_ONLY_MARKER)
        if not out and not shape_only:
            if self.co.multiset(rows, cols) != self.co.multiset(drows, dcols):
                out.append("values differ")
        return out
