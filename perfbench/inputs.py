"""Seeded input generation for every workload.

Everything the engine sees is made here from ``--seed``: the sf0.1-shaped
Parquet tables, the ``User`` request payloads, the rule documents and the
``vt`` DML op sequences. The same seed gives byte-identical inputs
(``selftest.py`` checks it); nothing is read from outside the checkout.

Numbers come from ``numpy.random.default_rng`` (tables) and
``random.Random`` seeded with a string (draws), both stable across
platforms and Python runs.
"""

from __future__ import annotations

import copy
import datetime as dt
import json
import random
import zlib
from typing import Any

import numpy as np
import pyarrow as pa

# --------------------------------------------------------------- tables

# Row counts and value domains of the sf0.1 synthetic star schema the
# engine's catalog runs on (TPC-H-ish tables plus an events stream).
SF01_ROWS = {
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
    "events": 100_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
ORDER_DAYS = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
SHIP_DAYS = (dt.date(1995, 1, 2), dt.date(2001, 11, 4))
EVENTS_START = dt.datetime(2024, 1, 1)
N_USERS = 1_500


def _days(rng: np.random.Generator, n: int, span: tuple[dt.date, dt.date]) -> pa.Array:
    lo = np.datetime64(span[0], "D")
    width = (np.datetime64(span[1], "D") - lo).astype(int) + 1
    days = lo + rng.integers(0, width, n)
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_table(seed: int, name: str) -> pa.Table:
    """One sf0.1-shaped table, deterministic in (seed, name)."""
    rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
    n = SF01_ROWS[name]
    key = np.arange(n, dtype=np.int64)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    if name == "customer":
        return pa.table({
            "c_custkey": key,
            "c_name": [f"Customer#{k:09d}" for k in range(n)],
            "c_nationkey": i32(rng.integers(0, 25, n)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        })
    if name == "part":
        names = [f"{c} {w}" for c in COLORS for w in NOUNS]
        return pa.table({
            "p_partkey": key,
            "p_name": _pick(rng, names, n),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": i32(rng.integers(1, 51, n)),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n), 1),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": key,
            "o_custkey": rng.integers(0, SF01_ROWS["customer"], n),
            "o_orderstatus": _pick(rng, STATUSES, n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, n, ORDER_DAYS),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, SF01_ROWS["orders"], n),
            "l_partkey": rng.integers(0, SF01_ROWS["part"], n),
            "l_suppkey": rng.integers(0, 1000, n),
            "l_linenumber": i32(rng.integers(1, 8, n)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, n, SHIP_DAYS),
        })
    if name == "documents":
        vocab = np.asarray(WORDS, dtype=object)
        texts = [
            " ".join(vocab[rng.integers(0, len(WORDS), int(k))])
            for k in rng.integers(8, 90, n)
        ]
        return pa.table({
            "doc_id": key,
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{k % 20}" for k in range(n)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        })
    if name == "events":
        span_us = 30 * 86_400 * 1_000_000
        offsets = np.sort(rng.integers(0, span_us, n))
        start = np.datetime64(EVENTS_START, "us")
        return pa.table({
            "event_id": key,
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        })
    raise KeyError(name)


# ------------------------------------------------- request payloads + rules

FIRST_NAMES = ["Ada", "Ali", "Can", "Deniz", "Ece", "Ira", "Mert", "Noor", "Sam", "Zoe"]
CITIES = ["Ankara", "Berlin", "Bursa", "Izmir", "Lagos", "Lima", "Paris", "Quito"]


def _cond(prop: str, op: str, value: Any = None) -> dict:
    return {"Property": prop, "Operator": op, "Value": value}


# The fixed rule pool of the request workloads. Rules repeat across
# requests on purpose: that is the property a compiled-rule cache would use.
REQUEST_RULES: dict[str, dict] = {
    "filter_age": {"Rule": {"Conditions": {"Conditions": [
        _cond("Age", "GreaterThanOrEqual", 40)]}}},
    "nested_negate": {"Rule": {"Conditions": {
        "LogicalOperator": "AND",
        "Conditions": [_cond("Score", "GreaterThan", 25.5)],
        "Groups": [
            {"LogicalOperator": "OR", "Conditions": [
                _cond("City", "Equal", "Ankara"), _cond("City", "Equal", "Izmir"),
                _cond("City", "Equal", "Lima")]},
            {"Negate": True, "Conditions": [
                _cond("Age", "In", [25, 30, 35, 40, 45, 50])]},
        ],
    }}},
    "string_ops": {"Rule": {"Conditions": {"LogicalOperator": "OR", "Conditions": [
        _cond("Name", "StartsWith", "Ali"),
        _cond("City", "EndsWith", "is"),
        _cond("Email", "Contains", "mert"),
    ]}}},
    "null_family": {"Rule": {"Conditions": {"LogicalOperator": "AND", "Conditions": [
        _cond("Email", "Null"), _cond("Age", "LessThan", 50)]}}},
    "argmax_score": {"Rule": {
        "GroupBy": ["City"],
        "Aggregation": {"AggregateProperty": "Score", "AggregateFunction": "Max"}}},
    "argmin_age": {"Rule": {
        "GroupBy": ["City"],
        "Aggregation": {"AggregateProperty": "Age", "AggregateFunction": "Min"}}},
    "count_city": {"Rule": {
        "GroupBy": ["City"], "Aggregation": {"AggregateFunction": "Count"}}},
    "union3": {"Rules": [
        {"Conditions": {"Conditions": [_cond("Age", "GreaterThan", 70)]}},
        {"Conditions": {"Conditions": [_cond("City", "Equal", "Paris")]}},
        {"Conditions": {"Conditions": [_cond("Score", "LessThan", 5)]}},
    ]},
}
# filter and group-by rules for the per-row-cost workload
BULK_RULES = ["filter_age", "nested_negate", "argmax_score", "count_city"]


def user_rows(rng: random.Random, n: int, tag: str) -> list[dict]:
    """``User``-shaped rows: Name/Age/City/Score plus a nullable ``Email``
    and a nested ``Tags`` list. Names are unique, so argmin/argmax ties
    always resolve before the list column."""
    rows = []
    for i in range(n):
        name = f"{rng.choice(FIRST_NAMES)}_{tag}{i:06d}"
        rows.append({
            "Name": name,
            "Age": rng.randint(18, 80),
            "City": rng.choice(CITIES),
            "Score": round(rng.uniform(0.0, 100.0), 2),
            "Email": None if rng.random() < 0.2 else f"{name.lower()}@example.org",
            "Tags": [rng.randint(0, 9) for _ in range(rng.randint(1, 3))],
        })
    return rows


def request_inputs(seed: int, workload: str) -> dict:
    """Payload pool, rule names and the op sequence of a request workload.

    Ops cycle through the rule pool in one fixed order, so runs that
    complete the same number of ops see the same rule mix whatever the
    seed; the payload of each op is drawn from the seeded pool."""
    rng = random.Random(f"{seed}:{workload}")
    if workload == "req_small":
        n_rows, n_payloads, rules, n_ops = 200, 4, list(REQUEST_RULES), 4000
    else:
        n_rows, n_payloads, rules, n_ops = 20_000, 2, BULK_RULES, 400
    payloads = [user_rows(rng, n_rows, f"p{p}_") for p in range(n_payloads)]
    ops = [(rng.randrange(n_payloads), rules[i % len(rules)]) for i in range(n_ops)]
    warmup = [(rng.randrange(n_payloads), rule) for rule in rules]
    return {"payloads": payloads, "rules": rules, "ops": ops, "warmup": warmup}


def request_bodies(rows: list[dict], rule_names: list[str]) -> dict[str, bytes]:
    """``{Rule|Rules, Users}`` request bodies for one payload, the rows
    encoded once and spliced into each rule's document."""
    users = json.dumps(rows).encode()
    return {
        name: json.dumps(REQUEST_RULES[name]).encode()[:-1] + b', "Users": ' + users + b"}"
        for name in rule_names
    }


# ------------------------------------------------------------ table rules

# Literal domains of the sf0.1 columns the reference query shapes test.
def _day(rng: random.Random, span: tuple[dt.date, dt.date]) -> str:
    day = span[0] + dt.timedelta(days=rng.randrange((span[1] - span[0]).days + 1))
    return f"{day.isoformat()}T00:00:00"


LITERALS = {
    "c_mktsegment": lambda r: r.choice(SEGMENTS),
    "c_acctbal": lambda r: round(r.uniform(-999.99, 9999.99), 2),
    "c_nationkey": lambda r: r.randint(0, 24),
    "p_retailprice": lambda r: round(r.uniform(900.0, 999.9), 1),
    "p_size": lambda r: r.randint(1, 50),
    "p_name": lambda r: r.choice(COLORS + NOUNS),
    "p_type": lambda r: (lambda t: t[: r.randint(2, len(t))])(r.choice(PART_TYPES)),
    "p_brand": lambda r: f"#{r.randint(1, 25)}",
    "o_orderstatus": lambda r: r.choice(STATUSES),
    "o_totalprice": lambda r: round(r.uniform(1000.0, 500000.0), 2),
    "o_orderdate": lambda r: _day(r, ORDER_DAYS),
    "l_shipdate": lambda r: _day(r, SHIP_DAYS),
    "n_chars": lambda r: r.randint(44, 577),
    "knum": lambda r: r.randint(0, 99),
}
# Every query also reads a seeded window of a quarter of its table's key
# range, so no two queries in a run repeat even where a shape has no
# literal or a small literal domain, and results stay small enough that
# the engine's work, not shipping rows to Python, dominates.
WINDOW_KEYS = {  # table: (key column, number of key values)
    "customer": ("c_custkey", SF01_ROWS["customer"]),
    "part": ("p_partkey", SF01_ROWS["part"]),
    "orders": ("o_orderkey", SF01_ROWS["orders"]),
    "lineitem": ("l_orderkey", SF01_ROWS["orders"]),
    "documents": ("doc_id", SF01_ROWS["documents"]),
    "events": ("event_id", SF01_ROWS["events"]),
}


def _redraw_value(rng: random.Random, cond: dict) -> None:
    prop, op, value = cond["Property"], cond["Operator"], cond.get("Value")
    if value is None:
        return
    if isinstance(value, dict):
        if "Check" in value:  # If: redraw both sides of the implication
            _redraw_value(rng, value["Check"])
            _redraw_value(rng, value["Then"])
            return
        # regex-count family over props ('{"k": NN}')
        if value["Target"].startswith("["):
            value["Target"] = f"[0-{rng.randint(1, 9)}]"
        else:
            value["Target"] = str(rng.randint(0, 9))
        value["Threshold"] = str(rng.randint(1, 2))
        return
    draw = LITERALS[prop]
    if op in ("In", "NotIn"):
        picked: list = []
        while len(picked) < len(value):
            v = draw(rng)
            if v not in picked:
                picked.append(v)
        cond["Value"] = picked
    else:
        cond["Value"] = draw(rng)


def _redraw_group(rng: random.Random, group: dict) -> None:
    for cond in group.get("Conditions") or []:
        _redraw_value(rng, cond)
    for sub in group.get("Groups") or []:
        _redraw_group(rng, sub)


def _windowed(rule: dict, window: list[dict]) -> dict:
    out = {k: v for k, v in rule.items() if k != "Conditions"}
    inner = rule.get("Conditions")
    out["Conditions"] = {"LogicalOperator": "AND", "Conditions": window}
    if inner:
        out["Conditions"]["Groups"] = [inner]
    return out


def table_shapes() -> dict:
    """The reference query shapes that can carry a fresh literal: every
    ``REFERENCE_QUERIES`` entry except the 5-row ``region`` passthrough."""
    from dynamicqueryengine_spark.workloads.reference import REFERENCE_QUERIES

    return {k: w for k, w in REFERENCE_QUERIES.items() if w.table in WINDOW_KEYS}


def table_queries(seed: int, n_ops: int = 700) -> list[dict]:
    """Seeded table-rule queries: the shapes cycle in one fixed
    interleaved order (the same shape mix in every run of a given length)
    and every literal is redrawn from the seed. Each entry is JSON data:
    ``{"shape", "rules", "params"}`` (one rule unless the shape is a
    multi-rule batch)."""
    rng = random.Random(f"{seed}:table_rules")
    shapes = table_shapes()
    seen: set[str] = set()
    order = random.Random("shape order").sample(sorted(shapes), len(shapes))
    queries: list[dict] = []
    while len(queries) < n_ops:
        for name in order:
            wl = shapes[name]
            while True:
                rules = copy.deepcopy(getattr(wl, "rules", None) or [wl.rule])
                params = copy.deepcopy(dict(wl.params)) if wl.params else None
                for rule in rules:
                    _redraw_group(rng, rule.get("Conditions") or {})
                for key in list(params or {}):
                    if key in LITERALS:
                        params[key] = LITERALS[key](rng)
                key, n_keys = WINDOW_KEYS[wl.table]
                lo = rng.randrange(n_keys - n_keys // 4 + 1)
                window = [_cond(key, "GreaterThanOrEqual", lo),
                          _cond(key, "LessThan", lo + n_keys // 4)]
                rules = [_windowed(r, window) for r in rules]
                q = {"shape": name, "rules": rules, "params": params}
                text = json.dumps(q, sort_keys=True)
                if text not in seen:
                    seen.add(text)
                    queries.append(q)
                    break
    return queries


# ------------------------------------------------------------------ vt DML

VT_KINDS = ["update", "delete", "merge"]


def vt_ops(seed: int, events: pa.Table, n_ops: int = 600) -> list[dict]:
    """Seeded DML sequence over random ``user_id`` values, the write
    kinds cycling update, delete, merge. Each write carries the rule-pruned
    read of its user and the point read that follow it.

    Merge rows re-key up to four of the user's ORIGINAL events (replace
    when still present, insert when an earlier delete removed them) and add
    two brand-new events, merged on ``(user_id, event_id)``."""
    rng = random.Random(f"{seed}:vt_dml")
    user_ids = events.column("user_id").to_numpy()
    event_ids = events.column("event_id").to_numpy()
    ts = events.column("ts").to_numpy()
    by_user: dict[int, np.ndarray] = {}
    order = np.argsort(user_ids, kind="stable")
    bounds = np.searchsorted(user_ids[order], np.arange(N_USERS + 1))
    for u in range(N_USERS):
        by_user[u] = order[bounds[u]:bounds[u + 1]]
    ops: list[dict] = []
    while len(ops) < n_ops:
        for kind in VT_KINDS:
            i = len(ops)
            user = rng.randrange(N_USERS)
            op: dict[str, Any] = {"kind": kind, "user_id": user}
            if kind == "update":
                op["delta"] = rng.randint(1, 20) * 0.25
            elif kind == "merge":
                rows = []
                own = by_user[user]
                for idx in sorted(rng.sample(range(len(own)), min(4, len(own)))):
                    j = int(own[idx])
                    rows.append([int(event_ids[j]), str(ts[j].astype("datetime64[us]")),
                                 user, "merge", round(rng.uniform(0.0, 500.0), 2),
                                 f'{{"k": {rng.randrange(100)}}}'])
                for k in range(2):
                    when = EVENTS_START + dt.timedelta(seconds=rng.randrange(30 * 86_400))
                    rows.append([1_000_000 + 10 * i + k, when.isoformat(), user,
                                 "merge", round(rng.uniform(0.0, 500.0), 2),
                                 f'{{"k": {rng.randrange(100)}}}'])
                op["rows"] = rows
            op["read_min_value"] = round(rng.uniform(0.0, 80.0), 2)
            op["point_event"] = rng.randrange(SF01_ROWS["events"])
            ops.append(op)
    return ops


def vt_read_rule(op: dict) -> dict:
    """The rule of a write's follow-up read of the user it wrote: one
    skip-eligible conjunct (``user_id`` equality, prunes on the clustered
    file stats) and one that only the compiled filter decides."""
    return {"Conditions": {"LogicalOperator": "AND", "Conditions": [
        _cond("user_id", "Equal", op["user_id"]),
        _cond("value", "GreaterThan", op["read_min_value"]),
    ]}}
