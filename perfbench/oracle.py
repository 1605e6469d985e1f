"""DuckDB oracle check for registry entries.

Same rule as ``scripts/driver_sim.py``: a Spark result matches its oracle
when the row count, the sorted column names, the arrow-level column types
(widths and string/list representations normalised) and the
order-insensitive values (floats rounded to 6 digits) all agree. The
values are also reduced to a SHA-1 digest so two artifacts can be compared
without storing results.
"""

from __future__ import annotations

import hashlib
import threading

import duckdb
import pyarrow as pa

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
ORACLE_TIMEOUT_S = 60.0


def _norm_type(t: pa.DataType):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return ("list", _norm_type(t.value_type))
    if pa.types.is_struct(t):
        return ("struct", tuple(sorted((f.name, _norm_type(f.type)) for f in t)))
    if pa.types.is_map(t):
        return ("map", _norm_type(t.key_type), _norm_type(t.item_type))
    return str(t)


def _norm_rows(rows, cols: list[str], order: list[str]) -> list[tuple]:
    idx = [order.index(c) for c in cols]
    out = []
    for r in rows:
        out.append(tuple(round(r[i], 6) if isinstance(r[i], float) else r[i] for i in idx))
    return sorted(out, key=str)


def digest(rows: list[tuple]) -> str:
    return hashlib.sha1(repr(rows).encode()).hexdigest()[:16]


class Oracle:
    """One DuckDB connection with a view per table of ``data_dir``."""

    def __init__(self, data_dir: str, tmp_dir: str):
        self.con = duckdb.connect()
        # Bounded so one oracle cannot take the host's memory; spills stay
        # in the run's work directory.
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute("SET threads TO 1")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def check(self, sql: str, sdf, srows) -> dict:
        """Compare collected Spark rows ``srows`` of frame ``sdf`` with ``sql``.

        Returns ``{"ok", "rows", "digest", "error"}``; ``error`` is None when
        the result matches.
        """
        from pyspark.sql.pandas.types import to_arrow_schema

        # An oracle that runs past the limit is interrupted and raises.
        timer = threading.Timer(ORACLE_TIMEOUT_S, self.con.interrupt)
        timer.start()
        try:
            oschema = self.con.execute(sql).fetch_arrow_table().schema
            res = self.con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        finally:
            timer.cancel()
        scols_order = list(sdf.columns)
        scols, sorted_ocols = sorted(scols_order), sorted(ocols)
        s_types = {f.name: _norm_type(f.type) for f in to_arrow_schema(sdf.schema)}
        o_types = {f.name: _norm_type(f.type) for f in oschema}
        bad_types = [c for c in sorted(set(s_types) & set(o_types)) if s_types[c] != o_types[c]]
        snorm = _norm_rows([tuple(r) for r in srows], scols, scols_order)
        error = None
        if len(srows) != len(orows):
            error = f"rows {len(srows)} != oracle {len(orows)}"
        elif scols != sorted_ocols:
            error = f"columns {scols} != oracle {sorted_ocols}"
        elif bad_types:
            error = f"types differ on {bad_types}"
        elif snorm != _norm_rows(orows, sorted_ocols, ocols):
            error = "values differ"
        return {"ok": error is None, "rows": len(srows), "digest": digest(snorm), "error": error}
