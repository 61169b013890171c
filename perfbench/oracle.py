"""Expected answers, computed without the engine under test.

Every query op carries an oracle SQL statement that DuckDB runs over
the same parquet files the graph is built from (the gid scheme and
edge mapping of ``grip_spark.tpch``).  Engine results and oracle rows
are both reduced to a canonical, order-free form by :func:`canon`
before they are compared, so row order, float noise and the
``data``-struct null padding never count as differences.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from datagen import TABLES


def _norm(v):
    """JSON-stable scalar: integral floats become ints, other floats are
    rounded (parquet doubles and Spark sums differ in the last bits)."""
    if isinstance(v, float):
        return int(v) if v.is_integer() else round(v, 6)
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items() if x is not None}
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _sorted(items: list) -> list:
    return sorted(items, key=lambda x: json.dumps(x, sort_keys=True))


def _element(e: dict) -> list:
    return [e["gid"], e["label"], _norm(e.get("data") or {})]


def canon(shape: str, rows) -> object:
    """Reduce an engine result (``Traversal.execute()`` rows, or the
    dict/None ``getVertex`` returns) to the comparable form of ``shape``."""
    if shape == "count":
        return int(rows[0]["count"])
    if shape == "gids":
        return sorted(r["gid"] for r in rows)
    if shape == "elements":
        if rows is None:
            return []
        rows = [rows] if isinstance(rows, dict) else rows
        return _sorted([_element(r) for r in rows])
    if shape == "render":
        return _sorted([_norm(r) for r in rows])
    if shape == "agg":
        return _sorted([[r["name"], str(_norm(r["key"])), _norm(r["value"])] for r in rows])
    if shape.startswith("distinct:"):
        field = shape.split(":", 1)[1]
        return sorted(r["data"][field] for r in rows)
    if shape.startswith("select:"):
        marks = shape.split(":", 1)[1].split(",")
        return _sorted([[r[m]["gid"] for m in marks] for r in rows])
    if shape == "path":
        return _sorted([[next(iter(step.values())) for step in r] for r in rows])
    raise ValueError(f"unknown answer shape {shape!r}")


def expect(shape: str, fields: list[str] | None, rows: list[tuple]) -> object:
    """Canonical form of oracle rows for ``shape`` (see :func:`canon`).

    ``elements`` rows are ``(gid, label, *fields)``; ``render`` rows are
    the template's values in ``fields`` order; ``agg`` rows are
    ``(name, key, value)``; the other shapes take one or more gid columns."""
    if shape == "count":
        return int(rows[0][0])
    if shape == "gids":
        return sorted(r[0] for r in rows)
    if shape == "elements":
        return _sorted(
            [[r[0], r[1], _norm(dict(zip(fields, r[2:])))] for r in rows]
        )
    if shape == "render":
        return _sorted([_norm(dict(zip(fields, r))) for r in rows])
    if shape == "agg":
        return _sorted([[r[0], str(_norm(r[1])), _norm(r[2])] for r in rows])
    if shape.startswith("distinct:"):
        return sorted(r[0] for r in rows)
    if shape.startswith("select:") or shape == "path":
        return _sorted([list(r) for r in rows])
    raise ValueError(f"unknown answer shape {shape!r}")


class Oracle:
    """DuckDB over the generated tables, in a child process of its own,
    so the oracle's memory and threads never count toward the engine's
    peak memory or share its process."""

    def __init__(self, data_dir: str):
        self.proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), data_dir],
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def rows(self, sql: str) -> list[tuple]:
        self.proc.stdin.write(json.dumps(sql) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("oracle process exited")
        reply = json.loads(line)
        if "error" in reply:
            raise RuntimeError(f"oracle: {reply['error']}")
        return [tuple(r) for r in reply["rows"]]

    def answer(self, op: dict) -> object:
        return expect(op["shape"], op.get("fields"), self.rows(op["sql"]))

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def serve(data_dir: str) -> None:
    """Child side of :class:`Oracle`: one JSON-encoded SQL statement per
    input line, one ``{"rows"}`` or ``{"error"}`` reply line each."""
    import duckdb

    con = duckdb.connect(":memory:")
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for line in sys.stdin:
        try:
            reply = {"rows": con.execute(json.loads(line)).fetchall()}
        except Exception as exc:  # reported to the parent, which counts the op as failed
            reply = {"error": f"{type(exc).__name__}: {exc}"}
        sys.stdout.write(json.dumps(reply) + "\n")
        sys.stdout.flush()


if __name__ == "__main__":
    serve(sys.argv[1])
