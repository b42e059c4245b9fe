"""``inline_table``: request rows become a local relation, not a Python RDD.

The parity property pins the contract the request path depends on: for any
row payload, ``inline_table(rows)`` has the schema and the rows that
``spark.createDataFrame(list(rows))`` gives (argmin/argmax tie-breaks follow
schema order, so field order matters), or fails with the same error class.
The plan pin checks the point of the change: a ``{Rule, Users}`` request
scans a ``LocalTableScan``, never ``ExistingRDD``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import PySparkException
from pyspark.sql import Row
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from dynamicqueryengine_spark.api import evaluate_request, explain_request
from dynamicqueryengine_spark.sources.registry import inline_table

_NAN = object()


def _norm(v):
    """Collected value → comparable value; NaN compares equal to NaN."""
    if isinstance(v, float) and math.isnan(v):
        return _NAN
    if isinstance(v, Row):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


def _outcome(make):
    """(schema, rows) of the built frame, or the error's class + condition."""
    try:
        df = make()
        return df.schema, [_norm(r) for r in df.collect()]
    except PySparkException as exc:
        return type(exc).__name__, exc.getCondition()
    except Exception as exc:  # noqa: BLE001 — any other class must match too
        return type(exc).__name__, None


# --- payload strategies -----------------------------------------------------

_LONGS = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_TEXT = st.text(max_size=6)
_OFFSETS = st.integers(min_value=-14 * 60, max_value=14 * 60).map(
    lambda m: dt.timezone(dt.timedelta(minutes=m))
)
_NAIVE = st.datetimes(
    min_value=dt.datetime(1900, 1, 1), max_value=dt.datetime(2200, 1, 1)
)
_AWARE = st.datetimes(
    min_value=dt.datetime(1900, 1, 2),
    max_value=dt.datetime(2199, 12, 31),
    timezones=_OFFSETS,
)
_DECIMALS = st.decimals(
    min_value=-(10**15), max_value=10**15, allow_nan=False, allow_infinity=False
)
_SMALL_MAP = st.dictionaries(_TEXT, st.one_of(st.none(), _LONGS), max_size=3)

# One kind per column; a column's values are drawn from its kind, so most
# payloads infer a schema and some (e.g. an all-null column, a map whose
# values never appear) exercise the error path.
_KINDS = {
    "long": _LONGS,
    "double": st.floats(allow_nan=True, allow_infinity=True),
    "bool": st.booleans(),
    "str": _TEXT,
    "str_or_scalar": st.one_of(_TEXT, _LONGS, st.booleans()),
    "bytes": st.binary(max_size=4),
    "date": st.dates(min_value=dt.date(1, 1, 1), max_value=dt.date(9999, 12, 31)),
    "naive_ts": _NAIVE,
    "aware_ts": _AWARE,
    "mixed_ts": st.one_of(_NAIVE, _AWARE),
    "decimal": _DECIMALS,
    "long_list": st.lists(st.one_of(st.none(), _LONGS), max_size=3),
    "nested_list": st.lists(st.lists(_LONGS, max_size=2), min_size=1, max_size=2),
    "map": _SMALL_MAP.filter(bool),
    "map_list": st.lists(_SMALL_MAP.filter(bool), min_size=1, max_size=2),
    "ts_list": st.lists(_AWARE, min_size=1, max_size=2),
    "decimal_map": st.dictionaries(_TEXT, _DECIMALS, min_size=1, max_size=2),
    "row_decimal": st.builds(Row, d=_DECIMALS, n=_LONGS),
}


@st.composite
def _payloads(draw):
    columns = draw(
        st.dictionaries(
            st.sampled_from(["Age", "City", "Email", "Id", "Name", "Score", "Tags"]),
            st.sampled_from(sorted(_KINDS)),
            min_size=1,
            max_size=5,
        )
    )
    rows = []
    for _ in range(draw(st.integers(min_value=1, max_value=6))):
        row = {}
        for name, kind in columns.items():
            presence = draw(st.sampled_from(["value", "value", "none", "missing"]))
            if presence == "value":
                row[name] = draw(_KINDS[kind])
            elif presence == "none":
                row[name] = None
        rows.append(row)
    return rows


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(rows=_payloads())
def test_inline_table_matches_create_dataframe(spark, rows):
    expected = _outcome(lambda: spark.createDataFrame(list(rows)))
    got = _outcome(lambda: inline_table(spark, iter(rows)))
    assert got == expected


# --- fixed cases -------------------------------------------------------------


def _condition(make):
    with pytest.raises(PySparkException) as info:
        make()
    return info.value.getCondition()


@pytest.mark.parametrize(
    "rows, condition",
    [
        ([{"x": 1}, {"x": 1.5}], "CANNOT_MERGE_TYPE"),
        ([{"x": None, "y": 1}, {"y": 2}], "CANNOT_DETERMINE_TYPE"),
    ],
)
def test_inference_errors_match_list_path(spark, rows, condition):
    assert _condition(lambda: spark.createDataFrame(rows)) == condition
    assert _condition(lambda: inline_table(spark, rows)) == condition


@pytest.mark.parametrize(
    "rows",
    [
        [{"x": "a"}, {"x": 1}, {"x": True}],
        [{"x": "a"}, {"x": 1.5}, {"x": 1e20}, {"x": False}],
        [{"x": "a"}, {"x": decimal.Decimal("1E+3")}, {"x": dt.date(2020, 1, 2)}],
        [{"x": ["a", 1, True]}, {"x": [2**40, None]}],
        [{"x": {"k": "a"}}, {"x": {"k": 1}}, {"x": {"j": False}}],
    ],
)
def test_scalars_in_a_string_column_become_their_str(spark, rows):
    """A column mixing strings with other scalars infers as string; each
    non-string becomes its ``str`` (bools lower-cased), top level and
    inside arrays and maps, as on the list path."""
    expected = spark.createDataFrame(rows)
    got = inline_table(spark, rows)
    assert got.schema == expected.schema
    assert got.collect() == expected.collect()


def test_schema_orders_fields_like_the_list_path(spark):
    """Keys sort within the first row; keys first seen later append."""
    rows = [{"Name": "a", "Age": 3, "City": "x"}, {"Email": "e", "Age": 4}]
    columns = inline_table(spark, rows).columns
    assert columns == spark.createDataFrame(rows).columns
    assert columns == ["Age", "City", "Name", "Email"]


def test_explicit_schema_verifies_rows_before_the_arrow_build(spark):
    schema = StructType(
        [StructField("x", IntegerType()), StructField("y", StringType())]
    )
    df = inline_table(spark, [{"x": 1, "y": "a"}, (2, "b")], schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == [(1, "a"), (2, "b")]
    assert inline_table(spark, [], "x int, y string").collect() == []
    with pytest.raises(PySparkException):
        inline_table(spark, [{"x": "1", "y": "a"}], schema)
    with pytest.raises(PySparkException):
        inline_table(spark, [{"x": 2**40, "y": "a"}], schema)


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([{"b": 1, "a": "x"}, {"b": 2, "a": None}], ["first", "second"]),
        ([(1, "x"), (2, "y")], ("id", "name")),
        ([1, 2, None], IntegerType()),
        (["a", None], "string"),
    ],
)
def test_schema_argument_matches_the_list_path(spark, rows, schema):
    """A list of names renames the inferred fields in order; an atomic
    type (or its DDL) gives one column named ``value``."""
    expected = spark.createDataFrame(rows, schema)
    got = inline_table(spark, rows, schema)
    assert got.schema == expected.schema
    assert got.collect() == expected.collect()


@pytest.mark.parametrize("wrap", [lambda d: d, lambda d: [d], lambda d: Row(d=d)])
def test_decimals_round_half_up_to_the_column_scale(spark, wrap):
    """Top level, in an array and in a struct (a ``Row`` value)."""
    values = [decimal.Decimal("1.1234567890123456785"), decimal.Decimal("-5E-19")]
    rows = [{"d": wrap(v)} for v in values]
    got = [r.d for r in inline_table(spark, rows).collect()]
    assert got == [r.d for r in spark.createDataFrame(rows).collect()]
    assert got == [
        wrap(decimal.Decimal("1.123456789012345679")),
        wrap(decimal.Decimal("-0.000000000000000001")),
    ]


# --- request path ------------------------------------------------------------

_PAYLOAD = {
    "Rule": {
        "Conditions": {
            "Conditions": [{"Property": "Age", "Operator": "GreaterThan", "Value": 30}]
        }
    },
    "Users": [{"Name": "a", "Age": 25}, {"Name": "b", "Age": 40}],
}


def test_request_plan_is_a_local_table_scan(spark):
    out = explain_request(spark, _PAYLOAD)
    assert out["status"] == 200
    assert "LocalTableScan" in out["physical_plan"]
    assert "ExistingRDD" not in out["physical_plan"]
    assert "Filter" in out["optimized_plan"]
    assert "LocalRelation" in out["optimized_plan"]


def test_out_of_range_integer_is_a_400_naming_the_column(spark):
    """An int beyond 64 bits used to become NULL silently (the list path
    infers ``bigint`` and the JVM drops what it cannot hold)."""
    payload = dict(_PAYLOAD, Users=[{"Name": "a", "Age": 25, "Big": 2**64}])
    res = evaluate_request(spark, payload)
    assert res["status"] == 400
    assert "'Big'" in res["Error"] and "bigint" in res["Error"]


def test_zip_code_as_string_and_int_is_a_200(spark):
    """JSON bodies mix ``"12345"`` and ``12345`` in one field; the column
    infers as string and both rows read ``"12345"``."""
    payload = dict(
        _PAYLOAD,
        Users=[
            {"Name": "a", "Age": 35, "ZipCode": "12345"},
            {"Name": "b", "Age": 40, "ZipCode": 12345},
        ],
    )
    res = evaluate_request(spark, payload)
    assert res["status"] == 200
    assert [r["ZipCode"] for r in res["rows"]] == ["12345", "12345"]


def test_filter_request_runs_no_spark_job(spark):
    """Catalyst folds the rule's Filter into the local relation while
    optimizing, so a filter request collects without a job; the list
    path ran one job over a Python RDD."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    res = evaluate_request(spark, _PAYLOAD)
    assert res["status"] == 200 and [r["Name"] for r in res["rows"]] == ["b"]
    assert set(tracker.getJobIdsForGroup()) == before


def test_concurrent_explain_leaves_the_shared_session_alone(spark):
    """explain plans on a clone of the session with the local-relation
    fold off; under concurrent explains and evaluations every answer
    stays right, every explain shows its Filter, and the shared session's
    excluded-rule setting never changes."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    key = "spark.sql.optimizer.excludedRules"
    before = spark.conf.get(key, None)
    seen = set()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)

    def evaluate(*args):
        seen.add(spark.conf.get(key, None))
        return evaluate_request(*args)

    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [
                pool.submit(explain_request if i % 2 else evaluate, spark, _PAYLOAD)
                for i in range(24)
            ]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    for i, res in enumerate(results):
        assert res["status"] == 200
        if i % 2:
            assert "Filter" in res["optimized_plan"]
        else:
            assert [r["Name"] for r in res["rows"]] == ["b"]
    assert seen == {before}
    assert spark.conf.get(key, None) == before
