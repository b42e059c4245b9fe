"""Self-test of the input generators: the same seed must give
byte-identical tables, payloads, rules and op sequences, and a different
seed different ones. Needs no Spark session.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

import pyarrow as pa  # noqa: E402

import inputs  # noqa: E402


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def fingerprint(seed: int) -> dict[str, str]:
    """sha256 of every generated input for ``seed``."""
    out = {}
    tables = {name: inputs.make_table(seed, name) for name in inputs.SF01_ROWS}
    for name, table in tables.items():
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        out[f"table:{name}"] = _sha(sink.getvalue().to_pybytes())
    for workload in ("req_small", "req_bulk"):
        data = inputs.request_inputs(seed, workload)
        bodies = [inputs.request_bodies(rows, data["rules"]) for rows in data["payloads"]]
        out[f"{workload}:payloads"] = _sha(b"".join(b for p in bodies for b in p.values()))
        out[f"{workload}:ops"] = _sha(json.dumps([data["ops"], data["warmup"]]).encode())
    out["table_rules:queries"] = _sha(json.dumps(inputs.table_queries(seed)).encode())
    out["vt_dml:ops"] = _sha(json.dumps(inputs.vt_ops(seed, tables["events"])).encode())
    return out


def main() -> int:
    first, again, other = fingerprint(1), fingerprint(1), fingerprint(2)
    failures = [f"seed 1 not reproducible: {k}" for k in first if first[k] != again[k]]
    failures += [f"seeds 1 and 2 give the same {k}" for k in first if first[k] == other[k]]
    for line in failures:
        print(line)
    print(f"selftest: {len(first)} inputs checked, {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
