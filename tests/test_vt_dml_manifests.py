"""Pinned manifests for the four ``vt`` DML verbs.

Every scenario copies a small seeded table, runs one DML call (a few run
two) and compares three things against ``tests/data/vt_dml_manifests.json``:

* every manifest the call committed,
* the matching ``vt_history`` entries,
* the ``vt_read_changes`` rows over the committed range.

Generated names are normalized before the comparison: data/change dirs,
deletion-vector sidecars and part-file uuids become ``<n>`` tokens in
order of first appearance, and commit timestamps are dropped. Anything
else that changes — a manifest key, a file list, a stat, an audit-blob
field, a change row — fails the scenario.

The fixture is the contract; refresh it only for an intended format
change::

    VT_DML_MANIFESTS_CAPTURE=1 python -m pytest tests/test_vt_dml_manifests.py
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import re
import shutil

import pytest

from dynamicqueryengine_spark.sources.versioned import (
    _read_manifest,
    vt_delete,
    vt_history,
    vt_merge,
    vt_read_changes,
    vt_rename_column,
    vt_replace_where,
    vt_update,
    vt_versions,
    vt_write,
)

FIXTURE = os.path.join(
    os.path.dirname(__file__), "data", "vt_dml_manifests.json"
)
CAPTURE = os.environ.get("VT_DML_MANIFESTS_CAPTURE") == "1"

SCHEMA = "id long, grp string, amount double, day string"


def _base_rows():
    # 40 rows in id order over 4 slices: four files with disjoint id
    # ranges (stats pruning and whole-file proofs have something to do),
    # one null amount (null-count stats, SQL null semantics)
    return [
        (i, f"g{i % 4}", None if i == 5 else float(i), f"d{i // 10}")
        for i in range(40)
    ]


def _frame(spark, rows, slices=4):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), SCHEMA
    )


# ------------------------------------------------------------- regions --

PRED = [("id", "<", 12), ("amount", ">=", 2.0)]
RULE_EXACT = {
    "Conditions": {
        "LogicalOperator": "AND",
        "Conditions": [
            {"Property": "id", "Operator": "LessThan", "Value": 12},
            {"Property": "amount", "Operator": "GreaterThanOrEqual",
             "Value": 2.0},
        ],
    }
}
# id < 20 is skip-eligible (prunes files); StartsWith is outside the
# skip grammar, so the rule is neither exact nor stream-replayable
RULE_NONSKIP = {
    "Conditions": {
        "LogicalOperator": "AND",
        "Conditions": [
            {"Property": "id", "Operator": "LessThan", "Value": 20},
            {"Property": "grp", "Operator": "StartsWith", "Value": "g1"},
        ],
    }
}
REGIONS = {
    "pred": {"predicate": PRED},
    "rule": {"rule": RULE_EXACT},
    "nonskip": {"rule": RULE_NONSKIP},
}
# replace_where regions: the incoming rows must sit inside them
RW_REGIONS = {
    "pred": {"predicate": [("day", "=", "d1")]},
    "rule": {"rule": {"Conditions": {"Conditions": [
        {"Property": "day", "Operator": "Equal", "Value": "d1"}]}}},
    "nonskip": {"rule": {"Conditions": {
        "LogicalOperator": "AND",
        "Conditions": [
            {"Property": "id", "Operator": "LessThan", "Value": 20},
            {"Property": "day", "Operator": "StartsWith", "Value": "d1"},
        ],
    }}},
}
MODES = {
    "rewrite": {"mode": "rewrite"},
    "dv": {"mode": "dv"},
    "auto": {"mode": "auto", "dv_max_rows": 1},  # forces the fallback
}


def _updates(spark):
    # ids 3, 4 and 17 update; 100 and 101 insert
    rows = [
        (3, "g3", 300.0, "d0"),
        (4, "g0", 400.0, "d0"),
        (17, "g1", 1700.0, "d1"),
        (100, "g0", 1.0, "d9"),
        (101, "g1", 2.0, "d9"),
    ]
    return _frame(spark, rows, slices=2)


def _incoming(spark):
    return _frame(
        spark,
        [(i, f"g{i % 4}", float(i) * 2, "d1") for i in range(10, 14)],
        slices=1,
    )


# ----------------------------------------------------------- scenarios --

SCENARIOS: dict = {}


def _scenario(name, base="plain"):
    def deco(fn):
        SCENARIOS[name] = (base, fn)
        return fn

    return deco


def _register_grid():
    for mname, mkw in MODES.items():
        for rname, rkw in REGIONS.items():
            for cf in (False, True):
                suffix = f"{mname}-{rname}-cf{int(cf)}"

                def delete(spark, path, mkw=mkw, rkw=rkw, cf=cf):
                    vt_delete(spark, path, change_feed=cf, **rkw, **mkw)

                def update(spark, path, mkw=mkw, rkw=rkw, cf=cf):
                    vt_update(
                        spark, path,
                        assignments={"amount": "amount * 10",
                                     "grp": "upper(grp)"},
                        change_feed=cf, **rkw, **mkw,
                    )

                _scenario(f"delete-{suffix}")(delete)
                _scenario(f"update-{suffix}")(update)
        for clause in ("upsert", "delete_where"):
            for cf in (False, True):

                def merge(spark, path, mkw=mkw, clause=clause, cf=cf):
                    kw = {}
                    if clause == "delete_where":
                        kw["delete_where"] = "grp = 'g0'"
                    vt_merge(
                        spark, path, _updates(spark), ["id"],
                        change_feed=cf, **kw, **mkw,
                    )

                _scenario(f"merge-{mname}-{clause}-cf{int(cf)}")(merge)
    for rname, rkw in RW_REGIONS.items():
        for cf in (False, True):

            def replace(spark, path, rkw=rkw, cf=cf):
                vt_replace_where(
                    spark, path, _incoming(spark), change_feed=cf, **rkw
                )

            _scenario(f"replace_where-{rname}-cf{int(cf)}")(replace)


_register_grid()


@_scenario("delete-metadata-only-whole-files")
def _delete_whole_files(spark, path):
    vt_delete(spark, path, ("id", "<", 20))


@_scenario("delete-whole-files-plus-boundary")
def _delete_boundary(spark, path):
    vt_delete(spark, path, ("id", "<", 15))


@_scenario("delete-drop-partition", base="partitioned")
def _drop_partition(spark, path):
    vt_delete(spark, path, ("day", "in", ["d1", "d2"]))


@_scenario("replace_where-partition-backfill", base="partitioned")
def _rw_partitioned(spark, path):
    vt_replace_where(spark, path, _incoming(spark), ("day", "=", "d1"))


@_scenario("format-replaceWhere", base="partitioned")
def _format_replace_where(spark, path):
    from dynamicqueryengine_spark.sources.datasource import vt_register

    vt_register(spark)
    (
        _incoming(spark).write.format("vt")
        .option("path", path)
        .option("replaceWhere", "day = 'd1'")
        .mode("overwrite")
        .save()
    )


@_scenario("merge-txn-replay")
def _merge_txn_replay(spark, path):
    for _ in range(2):
        vt_merge(
            spark, path, _updates(spark), ["id"], txn=("app", 7),
            change_feed=True,
        )


@_scenario("merge-pure-insert")
def _merge_pure_insert(spark, path):
    ins = _frame(
        spark, [(200, "g0", 1.0, "d9"), (201, "g1", 2.0, "d9")], slices=1
    )
    vt_merge(spark, path, ins, ["id"])


@_scenario("merge-into-empty-path", base=None)
def _merge_initial(spark, path):
    vt_merge(spark, path, _updates(spark), ["id"], change_feed=True)


@_scenario("mapped-delete-rewrite", base="mapped")
def _mapped_delete(spark, path):
    vt_delete(spark, path, [("id", "<", 12), ("amt", ">=", 2.0)])


@_scenario("mapped-delete-dv", base="mapped")
def _mapped_delete_dv(spark, path):
    vt_delete(spark, path, ("amt", ">", 30.0), mode="dv")


@_scenario("mapped-update-cf", base="mapped")
def _mapped_update(spark, path):
    vt_update(
        spark, path, ("id", "<", 12), {"amt": "amt + 1"}, change_feed=True
    )


@_scenario("mapped-merge-dv", base="mapped")
def _mapped_merge(spark, path):
    ups = _updates(spark).withColumnRenamed("amount", "amt")
    vt_merge(spark, path, ups, ["id"], mode="dv", change_feed=True)


@_scenario("mapped-replace_where", base="mapped")
def _mapped_replace(spark, path):
    vt_replace_where(
        spark, path,
        _incoming(spark).withColumnRenamed("amount", "amt"),
        ("day", "=", "d1"), change_feed=True,
    )


@_scenario("delete-after-dv-rewrites-vectored-file")
def _delete_after_dv(spark, path):
    vt_delete(spark, path, ("id", "=", 11), mode="dv")
    vt_delete(spark, path, [("id", ">", 8), ("id", "<", 14)])


@_scenario("update-noop-pruned")
def _update_noop(spark, path):
    vt_update(spark, path, ("id", ">", 1000), {"amount": "0.0"})


# ------------------------------------------------------- normalization --

_NAME_RE = re.compile(
    r"\b[dc]_[0-9a-f]{12}\b"
    r"|\bdv_[0-9a-f]{32}\.json\b"
    r"|[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    r"|(?<=part-)[0-9a-f]{32}(?=\.parquet)"
)


class _Names:
    """Generated name → ``<n>`` token, numbered by first appearance."""

    def __init__(self):
        self.tokens: dict = {}

    def see(self, s: str) -> None:
        for m in _NAME_RE.finditer(s):
            self.tokens.setdefault(m.group(0), f"<{len(self.tokens)}>")

    def sub(self, s: str) -> str:
        self.see(s)
        return _NAME_RE.sub(lambda m: self.tokens[m.group(0)], s)

    def walk(self, obj):
        if isinstance(obj, dict):
            return {self.sub(k): self.walk(v) for k, v in obj.items()}
        if isinstance(obj, list):
            return [self.walk(v) for v in obj]
        if isinstance(obj, str):
            return self.sub(obj)
        return obj


def _register_manifest(names: _Names, m: dict) -> None:
    # ordered sources first, so tokens never depend on uuid sort order
    for d in m.get("dirs", []):
        names.see(d)
        for f in m.get("files", {}).get(d, []):
            names.see(f)
    if m.get("changes"):
        names.see(m["changes"])
    for d in m.get("dirs", []):
        for f in sorted(m.get("dv", {}).get(d, {}), key=names.sub):
            names.see(m["dv"][d][f]["ref"])


def _normalize(names: _Names, m: dict) -> dict:
    out = names.walk({k: v for k, v in m.items() if k != "ts"})
    if "partial_dirs" in out:
        out["partial_dirs"] = sorted(out["partial_dirs"])
    return out


def _jsonable(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def _snapshot(spark, path: str, base_head: int) -> dict:
    versions = vt_versions(path)
    head = versions[-1]
    names = _Names()
    new = [v for v in versions if v > base_head]
    manifests = [_read_manifest(path, v) for v in new]
    for m in manifests:
        _register_manifest(names, m)
    history = [
        {k: v for k, v in e.items() if k != "ts"}
        for e in reversed(vt_history(path))
        if e["version"] > base_head
    ]
    changes: list | dict = []
    if head > base_head:
        try:
            ch = vt_read_changes(spark, path, base_head, head)
        except ValueError as exc:
            # a merge committed without change_feed=True is not
            # reconstructable: the refusal is part of the contract
            changes = {"error": str(exc)}
        else:
            changes = sorted(
                (
                    [[c, _jsonable(r[c])] for c in ch.columns]
                    for r in ch.collect()
                ),
                key=lambda row: json.dumps(row, sort_keys=True),
            )
    return {
        "head": head - base_head,
        "manifests": [_normalize(names, m) for m in manifests],
        "history": names.walk(history),
        "changes": changes,
    }


# ----------------------------------------------------------- fixtures --

@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("vt_dml_bases")
    out = {}
    plain = str(root / "plain")
    vt_write(spark, plain, _frame(spark, _base_rows()), bloom_cols=["grp"])
    out["plain"] = plain
    part = str(root / "partitioned")
    vt_write(
        spark, part, _frame(spark, _base_rows()), partition_by=["day"]
    )
    out["partitioned"] = part
    mapped = str(root / "mapped")
    vt_write(spark, mapped, _frame(spark, _base_rows()))
    vt_rename_column(mapped, "amount", "amt")
    out["mapped"] = mapped
    return out


@pytest.fixture(scope="module")
def expected():
    if CAPTURE:
        captured: dict = {}
        yield captured
        os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
        # one scenario per line: reviewable diffs, no indentation bulk
        lines = [
            f"{json.dumps(k)}: {json.dumps(captured[k], sort_keys=True)}"
            for k in sorted(captured)
        ]
        with open(FIXTURE, "w") as f:
            f.write("{\n" + ",\n".join(lines) + "\n}\n")
        return
    with open(FIXTURE) as f:
        yield json.load(f)


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_dml_manifests_match_fixture(spark, bases, expected, tmp_path,
                                     name):
    base, fn = SCENARIOS[name]
    path = str(tmp_path / "t")
    if base is not None:
        shutil.copytree(bases[base], path)
    base_head = vt_versions(path)[-1] if base is not None else 0
    fn(spark, path)
    got = json.loads(json.dumps(_snapshot(spark, path, base_head)))
    if CAPTURE:
        expected[name] = got
        return
    want = expected[name]
    assert got["head"] == want["head"]
    for i, (g, w) in enumerate(zip(got["manifests"], want["manifests"])):
        assert g == w, f"manifest {i + 1} of {name} differs"
    assert got["history"] == want["history"]
    assert got["changes"] == want["changes"]


def test_fixture_covers_every_scenario(expected):
    if CAPTURE:
        pytest.skip("capturing")
    assert sorted(expected) == sorted(SCENARIOS)
