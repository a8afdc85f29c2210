"""Result check: a query's Spark rows against its DuckDB oracle SQL on
the same parquet files. Column names, row count, values (exact, order
insensitive) and per-column type family must all agree."""

from __future__ import annotations

import datetime
import math
import threading

import duckdb

from rs_query_engine_spark.typefamilies import arrow_family, spark_family

DUCKDB_THREADS = 2


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def normalize(rows, cols):
    """Columns sorted by name, then rows sorted: order-insensitive."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


def compare(spark_cols, spark_rows, spark_types, duck_cols, duck_rows, duck_types):
    """Return ``None`` when the results agree, else the first difference."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {spark_cols} vs {duck_cols}"
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    if spark_types != duck_types:
        return f"type families {spark_types} vs {duck_types}"
    for a, b in zip(normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)):
        if a != b:
            return f"value {a} vs {b}"
    return None


class Oracle(threading.Thread):
    """Runs the oracle SQL of every listed query in the background (on
    ``DUCKDB_THREADS`` threads), so it overlaps the Spark check pass."""

    def __init__(self, data_dir: str, tables, sql: dict[str, str]):
        super().__init__(daemon=True)
        self.sql, self.tables = sql, {}
        self.con = duckdb.connect(config={"threads": DUCKDB_THREADS})
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.start()

    def run(self):
        for name, sql in self.sql.items():
            try:
                self.tables[name] = self.con.execute(sql).fetch_arrow_table()
            except duckdb.Error as exc:
                self.tables[name] = exc

    def check(self, name: str, spark_schema, spark_cols, spark_rows):
        """Compare once the oracle has finished; ``spark_schema`` is the
        DataFrame's ``schema``."""
        self.join()
        tbl = self.tables[name]
        if isinstance(tbl, Exception):
            return f"oracle raised {tbl}"
        spark_types = {f.name: spark_family(f.dataType.simpleString()) for f in spark_schema.fields}
        duck_types = {f.name: arrow_family(f.type) for f in tbl.schema}
        return compare(spark_cols, spark_rows, spark_types, tbl.column_names,
                       [tuple(r.values()) for r in tbl.to_pylist()], duck_types)
