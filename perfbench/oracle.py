"""Independent answers, computed in DuckDB outside the timed region.

Results are compared as (row count, order-insensitive digest of the
rows with their column names), with floats at 9 significant digits the
way ``scripts/check_correctness.py`` compares them.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import math
import os
from typing import Any, Iterable, Mapping

import duckdb
import pyarrow as pa


def _norm(v: Any) -> Any:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_norm(x)) for x in v) + "]"
    return v


def digest(rows: Iterable[Mapping[str, Any]]) -> tuple[int, str]:
    lines = sorted(
        "|".join(f"{k}={_norm(r[k])}" for k in sorted(r)) for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def _fetch(con: duckdb.DuckDBPyConnection, sql: str, *params: Any) -> tuple[int, str]:
    return digest(con.execute(sql, list(params)).fetch_arrow_table().to_pylist())


# ------------------------------------------------------------- requests

USER_ARROW = pa.schema([
    ("Age", pa.int64()), ("City", pa.string()), ("Email", pa.string()),
    ("Name", pa.string()), ("Score", pa.float64()), ("Tags", pa.list_(pa.int64())),
])


def user_schema():
    """The schema Spark infers for ``User`` rows: dict keys sorted, ints
    as bigint, the nested list as array<bigint>."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StringType, StructField, StructType,
    )

    types = {"Age": LongType(), "City": StringType(), "Email": StringType(),
             "Name": StringType(), "Score": DoubleType(), "Tags": ArrayType(LongType())}
    return StructType([StructField(f.name, types[f.name], True) for f in USER_ARROW])


def request_answer(con: duckdb.DuckDBPyConnection, rows: list[dict], doc: dict) -> tuple[int, str]:
    from dynamicqueryengine_spark.plans.model import RuleDefinition
    from dynamicqueryengine_spark.plans.sqlgen import SqlGenerator

    con.register("payload", pa.Table.from_pylist(rows, schema=USER_ARROW))
    gen = SqlGenerator(user_schema())
    if "Rules" in doc:
        sql = gen.rules_union_sql([RuleDefinition.from_dict(r) for r in doc["Rules"]], "payload")
    else:
        sql = gen.rule_sql(RuleDefinition.from_dict(doc["Rule"]), "payload")
    try:
        return _fetch(con, sql)
    finally:
        con.unregister("payload")


# ---------------------------------------------------------- table rules

def table_connection(table_dir: str, names: Iterable[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in names:
        path = os.path.join(table_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def table_answer(con: duckdb.DuckDBPyConnection, workload: Any, query: dict) -> tuple[int, str]:
    """The reference shape's own oracle SQL, generated for the query's
    redrawn rule(s) and params."""
    if hasattr(workload, "rules"):
        wl = dataclasses.replace(workload, rules=query["rules"], params=query["params"])
    else:
        wl = dataclasses.replace(workload, rule=query["rules"][0], params=query["params"])
    return _fetch(con, wl.oracle())


# ---------------------------------------------------------------- vt DML

class VtReplay:
    """The DML sequence replayed on a DuckDB copy of ``events``."""

    def __init__(self, events_path: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE vt AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
            f"user_id, event_type, value, props FROM read_parquet('{events_path}')"
        )

    def apply(self, op: dict) -> None:
        user = op["user_id"]
        if op["kind"] == "update":
            self.con.execute(
                f"UPDATE vt SET value = value + {op['delta']} WHERE user_id = ?", [user])
        elif op["kind"] == "delete":
            self.con.execute("DELETE FROM vt WHERE user_id = ?", [user])
        else:
            self.con.execute("CREATE OR REPLACE TEMP TABLE m AS SELECT * FROM vt LIMIT 0")
            self.con.executemany("INSERT INTO m VALUES (?, CAST(? AS TIMESTAMP), ?, ?, ?, ?)",
                                 op["rows"])
            self.con.execute(
                "DELETE FROM vt USING m WHERE vt.user_id = m.user_id "
                "AND vt.event_id = m.event_id")
            self.con.execute("INSERT INTO vt SELECT * FROM m")

    def rule_read(self, op: dict) -> tuple[int, str]:
        return _fetch(self.con, "SELECT * FROM vt WHERE user_id = ? AND value > ?",
                      op["user_id"], op["read_min_value"])

    def point_read(self, op: dict) -> tuple[int, str]:
        return _fetch(self.con, "SELECT * FROM vt WHERE event_id = ?", op["point_event"])

    def same_rows(self, snapshot: pa.Table) -> bool:
        """Whether ``snapshot`` holds exactly the replayed rows, duplicates
        included (``EXCEPT ALL`` both ways)."""
        ts = snapshot.schema.get_field_index("ts")
        snapshot = snapshot.set_column(ts, "ts", snapshot.column(ts).cast(pa.timestamp("us")))
        self.con.register("snap", snapshot)
        try:
            return all(
                self.con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0] == 0
                for sql in ("SELECT * FROM snap EXCEPT ALL SELECT * FROM vt",
                            "SELECT * FROM vt EXCEPT ALL SELECT * FROM snap")
            )
        finally:
            self.con.unregister("snap")

    def close(self) -> None:
        self.con.close()
