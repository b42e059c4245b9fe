"""Table registry: named Parquet tables → DataFrames / temp views.

The reference has no storage layer at all — rows arrive inline in the HTTP
body (RuleController.cs:31-35) or as in-process collections
(RuleDefinitionExecutor.cs:8-13). The Spark-native equivalent of "one request
= one dataset + one rule" is "registered table + rule document", with
``inline_table`` covering the inline-payload path: the payload reaches the
JVM as one Arrow table and plans as a ``LocalTableScan``, so a request never
starts Python workers (see ``inline_table``).

Scale notes: tables load lazily via ``spark.read.parquet`` — scans stay
declarative so Catalyst pushes filters/column pruning into the Parquet
reader; nothing is cached by default (at 100 TB you want pushdown, not
driver-side caching).
"""

from __future__ import annotations

import decimal
import os
from typing import Any, Callable, Iterable, Mapping, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    MapType,
    StructType,
    _create_converter,
    _make_type_verifier,
)

# The driver's synthetic star schema (TESTDATA.md).
DEFAULT_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class TableRegistry:
    """Lazy name → DataFrame catalog over a directory of ``{name}.parquet``."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        tables: Iterable[str] = DEFAULT_TABLES,
    ) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.tables = tuple(tables)
        self._cache: dict[str, DataFrame] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            if name not in self.tables and not os.path.exists(self.path(name)):
                raise KeyError(f"Unknown table '{name}' under {self.base_dir}")
            self._cache[name] = load_table(self.spark, self.base_dir, name)
        return self._cache[name]

    def __getitem__(self, name: str) -> DataFrame:
        return self.table(name)

    def register_views(self) -> None:
        """Expose every table as a temp view for ``spark.sql`` access."""
        for name in self.tables:
            self.table(name).createOrReplaceTempView(name)


def load_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """Load one parquet table, normalizing known footer quirks.

    Some generations of the synthetic ``events`` table store ``ts`` as
    INT64 TIMESTAMP(NANOS), which Spark's Parquet reader rejects; read it
    as long (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a µs
    timestamp with integer division (``div`` — float division would lose
    precision above 2^53 ns). Other generations already store µs; the
    rebuild is gated on the loaded dtype so both footers work. Either way
    the result matches DuckDB's ``CAST(ts AS TIMESTAMP)`` (a no-op on µs,
    truncation on nanos), which oracle SQL applies on its side.
    """
    path = os.path.join(base_dir, f"{name}.parquet")
    # timestamp literals compile against the session timezone; pin UTC so
    # rule timestamps mean the same instant under any caller's session
    # (DuckDB oracle timestamps are naive-UTC)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":  # nanos footer
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # µs footer arrives as TIMESTAMP_NTZ; with the session pinned
            # to UTC the cast to TIMESTAMP is wall-clock identity and keeps
            # every downstream window/watermark/unix_micros type stable
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def inline_table(
    spark: SparkSession,
    rows: Iterable[Mapping[str, Any]],
    schema: Any = None,
) -> DataFrame:
    """Inline row payloads (the reference's HTTP-body ``List<User>`` path,
    RuleController.cs:31-35) → DataFrame over a local relation.

    ``spark.createDataFrame(list_of_dicts)`` plans as ``Scan ExistingRDD``:
    the rows are pickled into a Python RDD, so every request starts Python
    workers to unpickle a few hundred rows. Here the rows reach the JVM as
    one Arrow table instead, which plans as a ``LocalTableScan`` and runs
    without Python workers.

    The result is the one ``createDataFrame(list(rows), schema)`` gives:

    * the schema is inferred by the same ``_inferSchemaFromList`` (dict
      keys sorted, strings mixed with other scalars typed string, the same
      ``CANNOT_MERGE_TYPE`` / ``CANNOT_DETERMINE_TYPE`` errors), and a
      list of names renames the inferred fields in order; an explicit
      ``StructType``, DDL string or atomic type (one column ``value``) is
      checked row by row with the same type verifier;
    * the Arrow columns are built from the values ``struct.toInternal``
      produces after the same ``_create_converter`` — the ones the list
      path pickles — so a non-string in a string column becomes its
      ``str`` (bools lower-cased), timestamps are UTC micros whatever the
      input's tz, dates are epoch days, and decimals round half-up to the
      column's scale as the JVM rounds them.

    A value its column type cannot hold (an int beyond 64 bits, a decimal
    beyond its precision) raises ``ValueError`` naming the column; the
    list path turned the int into a silent NULL.
    """
    rows = list(rows)
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if isinstance(schema, DataType) and not isinstance(schema, StructType):
        rows = [(value,) for value in rows]
        schema = StructType().add("value", schema)
    if schema is None or isinstance(schema, (list, tuple)):
        struct = spark._inferSchemaFromList(rows, names=schema)
        # dict rows are read by the inferred names; rename afterwards
        to_tuple = _create_converter(struct)
        for i, name in enumerate(schema or ()):
            struct.fields[i].name = struct.names[i] = name
    elif isinstance(schema, StructType):
        struct = schema
        verify = _make_type_verifier(struct)
        for row in rows:
            verify(row)
        to_tuple = _create_converter(struct)
    else:
        raise TypeError(
            "inline_table schema must be a DataType, a DDL string or a list "
            f"of names, got {schema!r}"
        )
    if not struct.fields:
        # rows of empty dicts: a column-less Arrow batch loses its row
        # count on the way to the JVM, so count the rows out directly
        return spark.range(len(rows)).select()
    internal = [struct.toInternal(to_tuple(row)) for row in rows]
    arrow_schema = to_arrow_schema(
        struct, error_on_duplicated_field_names_in_struct=True
    )
    arrays = []
    for i, (field, arrow_field) in enumerate(zip(struct.fields, arrow_schema)):
        values = [row[i] for row in internal]
        adapt = _arrow_value(field.dataType)
        try:
            if adapt is not None:
                values = [adapt(v) for v in values]
            arrays.append(pa.array(values, type=arrow_field.type))
        except (OverflowError, pa.ArrowInvalid, decimal.InvalidOperation) as exc:
            raise ValueError(
                f"Column '{field.name}' holds a value that does not fit "
                f"{field.dataType.simpleString()}: {exc}"
            ) from exc
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema=struct)


def _arrow_value(dt: DataType) -> Optional[Callable[[Any], Any]]:
    """Per-value adapter from ``toInternal`` output to what Arrow accepts,
    or ``None`` when the values pass through unchanged. Only decimals need
    one: the JVM rounds a Python ``Decimal`` half-up to the column scale,
    where Arrow refuses any value that would lose digits."""
    if isinstance(dt, DecimalType):
        quantum = decimal.Decimal(1).scaleb(-dt.scale)
        ctx = decimal.Context(prec=dt.precision, traps=[decimal.InvalidOperation])

        def adapt_decimal(v: Any) -> Any:
            if v is None:
                return None
            return v.quantize(quantum, rounding=decimal.ROUND_HALF_UP, context=ctx)

        return adapt_decimal
    if isinstance(dt, ArrayType):
        elem = _arrow_value(dt.elementType)
        if elem is None:
            return None
        return lambda v: None if v is None else [elem(x) for x in v]
    if isinstance(dt, MapType):
        key, val = _arrow_value(dt.keyType), _arrow_value(dt.valueType)
        if key is None and val is None:
            return None
        key, val = key or _same, val or _same
        return lambda v: None if v is None else {key(k): val(x) for k, x in v.items()}
    if isinstance(dt, StructType):
        adapters = [_arrow_value(f.dataType) for f in dt.fields]
        if all(a is None for a in adapters):
            return None
        adapters = [a or _same for a in adapters]
        return lambda v: None if v is None else tuple(
            a(x) for a, x in zip(adapters, v)
        )
    return None


def _same(v: Any) -> Any:
    return v


_FORMATS = ("parquet", "csv", "json", "orc")


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: Any = None,
    **options: Any,
) -> DataFrame:
    """Format-dispatching reader: parquet / csv / json / orc → DataFrame.

    Column pruning reaches every format; filter PUSHDOWN only the columnar
    ones (parquet/orc — check ``PushedFilters`` in ``.explain``), which is
    why they are the recommended lake format and csv/json are ingest
    formats you convert ONCE (``writers.write_parquet``) rather than scan
    repeatedly at 100 TB. For csv/json, pass an explicit ``schema``:
    schema inference reads the data twice and types drift between files —
    a pinned schema is both faster and stable. csv defaults to
    ``header=true`` to round-trip ``writers.write_csv``.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"Unsupported format '{fmt}' (one of {_FORMATS})")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    if options:
        reader = reader.options(**{k: str(v) for k, v in options.items()})
    return getattr(reader, fmt)(path)
