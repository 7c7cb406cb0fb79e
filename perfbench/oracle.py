"""Output checks: DuckDB oracles and order-insensitive row comparison.

Every measured query with a registered oracle (``QueryDef.oracle``) is
re-run on DuckDB over the same generated parquet and compared as a
multiset of canonical rows, columns matched by name. The generated TPC-DS
tables are built in DuckDB once per run from the same CTE text the oracles
embed (``tpcds_data.gen_ctes``), and an oracle that starts with exactly
that prefix runs its body against them: the same definitions, evaluated
once instead of once per query.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb

SOURCE_TABLES = ("orders", "documents", "embeddings", "events")


def canon(value):
    """Canonical cell text; floats to 12 significant digits, which absorbs
    the last-ulp difference of a decimal-to-double cast between engines."""
    if value is None:
        return "\x00NULL"
    if isinstance(value, bool):
        return str(value)
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else f"{value:.12g}"
    if isinstance(value, Decimal):
        return f"{float(value):.12g}"
    if isinstance(value, datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, date):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(v)}" for k, v in sorted(value.items())) + "}"
    if hasattr(value, "asDict"):
        return canon(tuple(value))
    return repr(value)


def rowset(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def same_rows(columns: list[str], rows: list[tuple], d_cols: list[str], d_rows) -> str | None:
    """None when equal, else a short reason."""
    if sorted(columns) != sorted(d_cols):
        return f"columns differ: {sorted(columns)} vs oracle {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"row count {len(rows)} vs oracle {len(d_rows)}"
    a, b = rowset(columns, rows), rowset(d_cols, d_rows)
    if a != b:
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {first[0][:4]} vs oracle {first[1][:4]}"
    return None


class Oracle:
    def __init__(self, sf_dir: str, tpcds: bool):
        # checks run after the timed window, so DuckDB may use every core
        self.con = duckdb.connect()
        for t in SOURCE_TABLES:
            if not os.path.exists(f"{sf_dir}/{t}.parquet"):
                continue
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self.prefix = None
        if tpcds:
            from lhbench_spark.tpcds_data import TPCDS_GEN_TABLES, gen_ctes

            ctes = gen_ctes()
            for name in TPCDS_GEN_TABLES:
                self.con.execute(f"CREATE TABLE {name} AS WITH {ctes} SELECT * FROM {name}")
            self.prefix = f"WITH {ctes}"

    def _text(self, sql: str) -> str:
        if self.prefix and sql.startswith(self.prefix):
            rest = sql[len(self.prefix):]
            return "WITH " + rest[2:] if rest.startswith(",\n") else rest
        return sql

    def check(self, sql: str, columns: list[str], rows: list[tuple]) -> str | None:
        rel = self.con.sql(self._text(sql))
        return same_rows(columns, rows, list(rel.columns), rel.fetchall())

    def close(self) -> None:
        self.con.close()
