"""The four workloads. Each is a closed loop with one client: the next op
is sent only when the previous one has returned.

A workload makes its inputs from the seed (``prepare``, untimed), sets up
the engine-side state (``setup``, timed, repeated), warms up, runs op
``i`` on request (``run_op``, timed by the caller) and checks every
answer against DuckDB afterwards (``check``). The engine is reached only
through its public modules, looked up at call time so the traced run's
wrappers see every call.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import shutil
import time
from typing import Any

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracle
from dynamicqueryengine_spark import api
from dynamicqueryengine_spark.operators import executor
from dynamicqueryengine_spark.plans import model
from dynamicqueryengine_spark.sources import registry, versioned


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    """Shared shape; subclasses fill in the hooks."""

    name = ""
    # ops per cycle of the op mix; a run ends on a whole cycle, after at
    # least ``min_cycles`` of them
    cycle = 1
    min_cycles = 1

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.results: dict[int, Any] = {}

    def prepare(self) -> None:
        """Make the inputs from the seed (untimed)."""

    def setup(self, rep: int) -> None:
        """One repetition of the engine-side set-up (timed)."""

    def release(self, rep: int) -> None:
        """Untimed clean-up after a set-up repetition that is not the last."""

    def warmup(self) -> None: ...

    def kind(self, i: int) -> str:
        return "op"

    def root_span(self, i: int) -> str:
        return "client.op"

    def prepare_op(self, i: int) -> None:
        """Untimed input preparation right before op ``i``."""

    def run_op(self, i: int) -> None:
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        """Untimed bookkeeping after a successful op (answer digests)."""

    def check(self, n_ops: int) -> set[int]:
        """Indices of ops whose answer was wrong or missing."""
        return set()

    def rows(self, i: int) -> int:
        return 0

    def close(self) -> None: ...


# --------------------------------------------------------------- requests

class RequestWorkload(Workload):
    """``POST /rules/evaluate`` to ``api.serve()`` on loopback."""

    def prepare(self) -> None:
        data = inputs.request_inputs(self.seed, self.name)
        self.payloads = data["payloads"]
        self.ops = data["ops"]
        self.warmup_ops = data["warmup"]
        self.bodies = [inputs.request_bodies(rows, data["rules"]) for rows in self.payloads]
        self.server = None

    def _serve(self) -> None:
        self.server = api.serve(self.spark, port=0)
        self.port = self.server.server_address[1]

    def _stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.server = None

    def _call(self, method: str, path: str, body: bytes | None = None) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request(method, path, body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def setup(self, rep: int) -> None:
        self._serve()
        status, _ = self._call("GET", "/rules/describe")
        if status != 200:
            raise RuntimeError(f"describe returned {status}")

    def release(self, rep: int) -> None:
        self._stop()

    def warmup(self) -> None:
        for p, rule in self.warmup_ops:
            status, data = self._call("POST", "/rules/evaluate", self.bodies[p][rule])
            if status != 200:
                raise RuntimeError(f"warm-up {rule} returned {status}: {data[:200]!r}")

    def kind(self, i: int) -> str:
        return self.ops[i][1]

    def root_span(self, i: int) -> str:
        return "api.http"

    def run_op(self, i: int) -> None:
        p, rule = self.ops[i]
        self.results[i] = self._call("POST", "/rules/evaluate", self.bodies[p][rule])

    def after_op(self, i: int) -> None:
        status, data = self.results[i]
        self.results[i] = (status, oracle.digest(json.loads(data)) if status == 200 else None)

    def check(self, n_ops: int) -> set[int]:
        con = duckdb.connect()
        expected: dict[tuple[int, str], tuple[int, str]] = {}
        bad = set()
        for i in range(n_ops):
            key = self.ops[i]
            if key not in expected:
                doc = inputs.REQUEST_RULES[key[1]]
                expected[key] = oracle.request_answer(con, self.payloads[key[0]], doc)
            if self.results.get(i) != (200, expected[key]):
                bad.add(i)
        con.close()
        return bad

    def rows(self, i: int) -> int:
        return len(self.payloads[self.ops[i][0]])

    def close(self) -> None:
        if self.server is not None:
            self._stop()


class ReqSmall(RequestWorkload):
    name = "req_small"
    cycle = len(inputs.REQUEST_RULES)
    min_cycles = 4


class ReqBulk(RequestWorkload):
    """20k-row payloads, where per-row cost (``inline_table``, response
    serialisation) dominates: the check that an inline-path change made
    for ``req_small`` does not hurt large payloads. Not in BENCHMARK.json,
    whose run-time budget holds three workloads; run it by hand."""

    name = "req_bulk"
    cycle = len(inputs.BULK_RULES)


# ------------------------------------------------------------ table rules

class TableRules(Workload):
    """Reference query shapes with fresh literals over sf0.1 Parquet,
    each resolved through a new ``TableRegistry`` and collected."""

    name = "table_rules"
    tables = ("customer", "part", "orders", "lineitem", "documents", "events")
    min_cycles = 2

    def prepare(self) -> None:
        self.table_dir = os.path.join(self.work, "tables")
        os.makedirs(self.table_dir)
        for name in self.tables:
            pq.write_table(inputs.make_table(self.seed, name),
                           os.path.join(self.table_dir, f"{name}.parquet"))
        self.shapes = inputs.table_shapes()
        self.queries = inputs.table_queries(self.seed)
        self.cycle = len(self.shapes)

    def setup(self, rep: int) -> None:
        reg = registry.TableRegistry(self.spark, self.table_dir, tables=self.tables)
        for name in self.tables:
            reg.table(name)

    def warmup(self) -> None:
        for i in range(len(self.queries) - 3, len(self.queries)):
            self.run_op(i)
        self.results.clear()

    def kind(self, i: int) -> str:
        return self.queries[i]["shape"]

    def root_span(self, i: int) -> str:
        return "client.query"

    def run_op(self, i: int) -> None:
        query = self.queries[i]
        wl = self.shapes[query["shape"]]
        df = registry.TableRegistry(self.spark, self.table_dir, tables=self.tables)[wl.table]
        if getattr(wl, "prepare", None) is not None:  # derived projection of the shape
            df = wl.prepare(df)
        rules = [model.RuleDefinition.from_dict(r) for r in query["rules"]]
        if hasattr(wl, "combine"):
            out = executor.execute_rules(df, rules, external_params=query["params"],
                                         combine=wl.combine)
        else:
            out = executor.apply_rule(df, rules[0], external_params=query["params"],
                                      group_by_mode=wl.group_by_mode)
        self.results[i] = out.collect()

    def after_op(self, i: int) -> None:
        self.results[i] = oracle.digest(r.asDict() for r in self.results[i])

    def check(self, n_ops: int) -> set[int]:
        con = oracle.table_connection(self.table_dir, self.tables)
        bad = {
            i for i in range(n_ops)
            if self.results.get(i) != oracle.table_answer(
                con, self.shapes[self.queries[i]["shape"]], self.queries[i])
        }
        con.close()
        return bad

    def rows(self, i: int) -> int:
        return inputs.SF01_ROWS[self.shapes[self.queries[i]["shape"]].table]


# ----------------------------------------------------------------- vt DML

VT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])


class VtDml(Workload):
    """``vt_update``/``vt_delete``/``vt_merge`` on random users of a
    fresh ``vt`` events table clustered on ``user_id``. One op is a write
    followed by a rule-pruned read and a point read; the time of each
    step is kept in ``steps_ms``."""

    name = "vt_dml"
    cycle = len(inputs.VT_KINDS)
    min_cycles = 6

    def prepare(self) -> None:
        self.table_dir = os.path.join(self.work, "tables")
        os.makedirs(self.table_dir)
        events = inputs.make_table(self.seed, "events")
        self.events_path = os.path.join(self.table_dir, "events.parquet")
        pq.write_table(events, self.events_path)
        self.ops = inputs.vt_ops(self.seed, events)
        self.paths: list[str] = []
        self.updates = None
        self.steps_ms: dict[int, tuple[float, float, float]] = {}
        # files rewritten and bytes added per write; filled when
        # ``track_writes`` is set (the traced run)
        self.track_writes = False
        self.write_stats: dict[int, dict] = {}
        self._before = (0, 0)

    def setup(self, rep: int) -> None:
        path = os.path.join(self.work, f"vt{rep}")
        events = registry.load_table(self.spark, self.table_dir, "events")
        versioned.vt_write(self.spark, path, events)
        versioned.vt_optimize(self.spark, path, ["user_id"])
        self.paths.append(path)

    def warmup(self) -> None:
        """One cycle of ops on a spare set-up table, then drop the spare
        tables: the run's table is the last one set up."""
        self.path = self.paths[0]
        for i in range(len(self.ops) - self.cycle, len(self.ops)):
            self.prepare_op(i)
            self.run_op(i)
        for path in self.paths[:-1]:
            shutil.rmtree(path)
        self.path = self.paths[-1]
        self.results.clear()
        self.steps_ms.clear()

    def kind(self, i: int) -> str:
        return self.ops[i]["kind"]

    def prepare_op(self, i: int) -> None:
        op = self.ops[i]
        if op["kind"] == "merge":
            rows = [dict(zip(VT_SCHEMA.names, r)) for r in op["rows"]]
            for r in rows:
                r["ts"] = dt.datetime.fromisoformat(r["ts"])
            self.updates = self.spark.createDataFrame(pa.Table.from_pylist(rows, schema=VT_SCHEMA))
        if self.track_writes:
            self._before = (versioned.vt_head(self.path), dir_bytes(self.path))

    def run_op(self, i: int) -> None:
        op = self.ops[i]
        spark, path = self.spark, self.path
        where = ("user_id", "=", op["user_id"])
        t0 = time.perf_counter()
        if op["kind"] == "update":
            version = versioned.vt_update(spark, path, where, {"value": f"value + {op['delta']}"})
        elif op["kind"] == "delete":
            version = versioned.vt_delete(spark, path, where)
        else:
            version = versioned.vt_merge(spark, path, self.updates, ["user_id", "event_id"])
        t1 = time.perf_counter()
        rule_rows = versioned.vt_read(spark, path, rule=inputs.vt_read_rule(op)).collect()
        t2 = time.perf_counter()
        point_rows = versioned.vt_read(spark, path, predicate=("event_id", "=", op["point_event"])).collect()
        t3 = time.perf_counter()
        self.results[i] = (version, rule_rows, point_rows)
        self.steps_ms[i] = ((t1 - t0) * 1000, (t2 - t1) * 1000, (t3 - t2) * 1000)

    def after_op(self, i: int) -> None:
        version, rule_rows, point_rows = self.results[i]
        self.results[i] = (oracle.digest(r.asDict() for r in rule_rows),
                           oracle.digest(r.asDict() for r in point_rows))
        if self.track_writes:
            head, size = self._before
            files = 0
            if version != head:  # a write that matched nothing commits nothing
                entry = versioned.vt_history(self.path)[0]
                files = entry.get(self.ops[i]["kind"], {}).get("files_rewritten", 0)
            self.write_stats[i] = {
                "files_rewritten": files, "bytes_written": dir_bytes(self.path) - size,
            }

    def check(self, n_ops: int) -> set[int]:
        """Replay the writes in DuckDB, compare each read and the final
        snapshot, and measure space amplification against a fresh write
        of the live snapshot."""
        replay = oracle.VtReplay(self.events_path)
        bad = set()
        self.live_rows = []
        for i in range(n_ops):
            op = self.ops[i]
            replay.apply(op)
            if self.results.get(i) != (replay.rule_read(op), replay.point_read(op)):
                bad.add(i)
            self.live_rows.append(replay.con.execute("SELECT count(*) FROM vt").fetchone()[0])
        if not replay.same_rows(versioned.vt_read(self.spark, self.path).toArrow()) and n_ops:
            bad.add(n_ops - 1)
        replay.close()
        fresh = os.path.join(self.work, "vt_fresh")
        versioned.vt_write(self.spark, fresh, versioned.vt_read(self.spark, self.path))
        self.space_amp = dir_bytes(self.path) / dir_bytes(fresh)
        return bad

    def rows(self, i: int) -> int:
        return self.live_rows[i]


WORKLOADS = {w.name: w for w in (ReqSmall, ReqBulk, TableRules, VtDml)}
