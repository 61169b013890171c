"""Seeded GripQL benchmark driven through grip_spark's public API.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (one closed-loop client, ``local[min(nproc, 2)]``):

* ``oltp_anchor``  anchored 1-3 hop traversals, edge filters, fields,
  render, getVertex and a per-anchor aggregate on the cached graph.
  Per-query fixed cost (compile, Catalyst, job scheduling) dominates.
* ``ingest_mixed`` upsert/delete batches with read-your-writes
  traversals; every ``BATCHES_PER_PERSIST`` batches the graph is
  persisted, reloaded through a fresh GraphManager and every
  acknowledged write is checked in the persisted files alone.
* ``olap_scan``    whole-label filters, hops, multi-aggregations,
  distinct, histogram, select, path and a mark/jump BFS on the
  bucketed on-disk layout with nothing cached, so every query reads
  parquet.  Execution (scans, joins, shuffles) dominates.
* ``corpus_build`` ``pipeline.build_corpus`` (line rules, quality,
  language, exact and MinHash dedup, split) over a seeded documents
  table, one build per op, each with its own seeded salt.

Every answer is checked, outside the timed op: query answers against
DuckDB over the same parquet files, ingest answers against an
in-Python model of the applied batches, corpus builds against the
documents' known make-up and the split hash.  A wrong answer or an
exception counts as failed.  The inputs are generated, and the DuckDB
oracle runs, in child processes, so neither counts toward the
benchmark's peak memory.

Prints one diagnostics line, then one JSON line ``{"correct",
"attempted", "failed", "metrics"}``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics, measured on
the second half of the run while the first half runs untraced, so the
tracing overhead is measured too.  Set-up repeats ``SETUP_ROUNDS``
times; the first round also warms the JVM, so ``setup_s`` is the
median of the others, in CPU seconds like ``cpu_ms_per_op``, the
JVM's JIT threads left out of both (wall set-up times and the JIT's CPU
are in the diagnostics).  All scratch files live under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import grip_spark  # noqa: E402,F401  (fail before any set-up when the engine is absent)

from datagen import sizes  # noqa: E402
from oracle import Oracle, canon  # noqa: E402
from tracing import CpuClock, HostNoise, Tracer, peak_rss_mb  # noqa: E402
import workloads as wl  # noqa: E402

# 3,750 vertices and 16,952 edges under tpch_graph's mapping.  At 0.1
# (186k vertices, ~0.8M edges) one ingest_mixed run (then persisting
# every batch, 6 s measured) took 115 s and 2.6 GB peak RSS on a 4-vCPU
# VM, against ~59 s and ~1 GB at this scale: too long for the run budget.
SCALE = 0.002
SETUP_ROUNDS = 3
BATCHES_PER_PERSIST = 1
QUERY_ROUNDS = 16      # pre-generated (and oracle-checked) rounds; runs wrap around
GRAPH_NAME = "live"

# Wall-clock times are diagnostics, not end-to-end metrics: on a shared
# VM they move 20-60 % with other tenants' CPU steal (a corpus build took
# 9.6 s at <1 % steal and 13-15.5 s at 8-17 %; the median ingest set-up
# round 5.1 s in ten runs at ~9 % mean steal and 7.4 s in ten at ~20 %).
# CPU time leaves steal out and carries the engine's work instead.  The
# JIT threads' CPU is left out (see CpuClock): it was about half of a
# warm op's CPU and the part that varied most between runs.
END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}
# per-op means over the traced ops (0 where a layer is not used)
PER_LAYER = {
    "traversal.from_json_ms": "ms",
    "compile.plan_ms": "ms", "compile.eager_jobs": "count",
    "spark.optimize_ms": "ms", "spark.plan_nodes": "count", "spark.exchanges": "count",
    "spark.broadcast_exchanges": "count", "spark.cartesian_products": "count",
    "spark.exec_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count", "spark.task_busy_ms": "ms",
    "spark.busy_frac": "fraction", "spark.input_rows": "count",
    "spark.rows_examined_per_result": "ratio", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B", "spark.create_df_ms": "ms", "spark.cache_bytes": "B",
    "results.convert_ms": "ms", "results.rows": "count",
    "graph.get_vertex_ms": "ms", "graph.upsert_ms": "ms", "graph.delete_ms": "ms",
    "graph.lineage_nodes": "count", "graph.save_ms": "ms", "graph.load_ms": "ms",
    "graph.bytes_written": "B",
    "manager.persist_ms": "ms", "manager.get_ms": "ms",
    "corpus.input_ms": "ms", "text.line_filter_ms": "ms", "text.quality_ms": "ms",
    "text.langid_ms": "ms", "dedup.exact_ms": "ms", "dedup.minhash_ms": "ms",
    "dedup.components_ms": "ms", "dedup.pairs_out": "count", "sampling.split_ms": "ms",
    "results.collect_ms": "ms",
    "trace.unattributed_ms": "ms", "trace.overhead_ms": "ms",
}
# the build_corpus stages, as (module, function, phase): each call starts
# a phase that lasts until the next stage's call
CORPUS_STAGES = (
    ("text", "line_filter", "text.line_filter"), ("text", "quality_score", "text.quality"),
    ("text", "detect_language", "text.langid"), ("dedup", "dedup_exact", "dedup.exact"),
    ("dedup", "minhash_lsh_pairs", "dedup.minhash"),
    ("dedup", "attach_components", "dedup.components"),
    ("sampling", "split_assign", "sampling.split"),
)
PLAN_COUNTS = ("spark.plan_nodes", "spark.exchanges", "spark.broadcast_exchanges",
               "spark.cartesian_products", "spark.jobs", "spark.tasks")


def make_workdir(name: str) -> str:
    """A fresh scratch directory under ``.perfbench_work/`` in the
    checkout, also used as the temp dir of this process and Spark."""
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "checkpoint"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    return work


def remove_workdir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):  # kept while another run still uses it
        os.rmdir(os.path.dirname(work))


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", "1g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.local.dir", os.path.join(work, "local"))
        # serial GC: no GC threads competing with task threads, steadier peak RSS;
        # a fixed set of JIT compiler threads, whose CPU CpuClock leaves out
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+UseSerialGC "
                "-XX:-UseDynamicNumberOfCompilerThreads")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoint"))
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited (the gateway
    JVM exits when its stdin pipe closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_query(graph, op: dict, tracer: Tracer):
    """One query op through the public API.  Traced, ``execute()`` is
    unrolled into its steps so each layer gets its own span."""
    from grip_spark.compile.planner import Planner
    from grip_spark.compile.results import convert_rows
    from grip_spark.traversal import Traversal

    if "gid" in op:
        with tracer.span("graph.get_vertex", group="exec"):
            res = graph.getVertex(op["gid"])
        tracer.count("results.rows", 0 if res is None else 1)
        return res
    if not tracer.enabled:
        return Traversal.from_json(graph, op["query"]).execute()
    with tracer.span("traversal.from_json"):
        t = Traversal.from_json(graph, op["query"])
    with tracer.span("compile.plan", group="plan"):
        planner = Planner(graph)
        df = planner.plan(t.stmts)
    with tracer.span("spark.optimize", group="optimize"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span("spark.exec", group="exec"):
        try:
            rows = df.collect()
        finally:
            for p in planner.persisted:
                p.unpersist()
    tracer.plan_shape(df)
    with tracer.span("results.convert"):
        res = convert_rows(rows, planner.result_kind, planner.final_marks,
                           planner.agg_key_types, planner.render_template)
    tracer.count("results.rows", len(res))
    return res


class QueryWorkload:
    """``oltp_anchor`` (cached graph) and ``olap_scan`` (bucketed tables)."""

    def __init__(self, name: str, spark, work: str, data_dir: str, seed: int, cores: int,
                 scale: float, oracle: Oracle):
        self.name, self.spark, self.work, self.data_dir = name, spark, work, data_dir
        self.cores = cores
        self.rounds = wl.query_rounds(name, seed, scale, QUERY_ROUNDS + 1)
        self.graph = None
        self.extra: dict = {}

    def inputs(self):
        return self.rounds

    def setup_round(self, i: int) -> None:
        from grip_spark.graph import GripGraph
        from grip_spark.tpch import tpch_graph

        # a fresh path per round, so no round reuses another's file listing
        src = os.path.join(self.work, f"src{i}")
        os.symlink(self.data_dir, src)
        g = tpch_graph(self.spark, src)
        if self.name == "oltp_anchor":
            g.vertices.count()
            g.edges.count()
        else:
            g.save_tables(f"pb{i}", buckets=self.cores)
            g.vertices.unpersist()
            g.edges.unpersist()
            g = GripGraph.from_tables(self.spark, f"pb{i}")
        if self.graph is not None and self.name == "oltp_anchor":
            self.graph.vertices.unpersist()
            self.graph.edges.unpersist()
        self.graph = g

    def prepare_checks(self, oracle: Oracle) -> None:
        for ops in self.rounds:
            for op in ops:
                op["expect"] = oracle.answer(op)

    def cycles(self):
        """Warm-up round first, then measured rounds forever."""
        yield [(op["kind"], op) for op in self.rounds[0]]
        i = 0
        while True:
            yield [(op["kind"], op) for op in self.rounds[1 + i % QUERY_ROUNDS]]
            i += 1

    def run(self, kind: str, op: dict, tracer: Tracer):
        return run_query(self.graph, op, tracer)

    def check(self, kind: str, op: dict, result) -> bool:
        return canon(op["shape"], result) == op["expect"]

    def finish(self, res: dict) -> None:
        pass


class IngestWorkload:
    """``ingest_mixed``: write batches, read-your-writes, persist, reload."""

    BATCH = ("write", "read_vertices", "read_in")
    # a cycle persists the batches written since the last persist; between
    # persists each batch's reads go through one more batch of lineage
    CYCLE = ("persist", "reload") + BATCH * BATCHES_PER_PERSIST

    def __init__(self, name: str, spark, work: str, data_dir: str, seed: int, cores: int,
                 scale: float, oracle: Oracle):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.data_dir = data_dir
        # datagen numbers orders 0..n-1, so the row index is the order key
        self.order_cust = [c for (c,) in oracle.rows(
            "SELECT o_custkey FROM orders ORDER BY o_orderkey")]
        self.model = wl.IngestModel(self.order_cust, sizes(scale)["customer"], seed)
        self.oracle = oracle
        self.manager = None
        self.graph = None
        self.base = None
        self.batch: dict | None = None
        self.write_elems: list[int] = []
        self.extra: dict = {}

    def inputs(self):
        model = wl.IngestModel(self.order_cust, sizes(self.scale)["customer"], self.seed)
        return [model.next_batch() for _ in range(4)]

    def setup_round(self, i: int) -> None:
        from grip_spark.manager import GraphManager
        from grip_spark.tpch import tpch_graph

        src = os.path.join(self.work, f"src{i}")
        os.symlink(self.data_dir, src)
        g = tpch_graph(self.spark, src)
        self.base = os.path.join(self.work, f"graphs{i}")
        m = GraphManager(self.spark, self.base)
        m.addGraph(GRAPH_NAME, g)
        m.persist(GRAPH_NAME)
        g.vertices.unpersist()
        g.edges.unpersist()
        self.manager = GraphManager(self.spark, self.base)
        self.graph = self.manager.getGraph(GRAPH_NAME)

    def prepare_checks(self, oracle: Oracle) -> None:
        pass

    def cycles(self):
        """Warm-up: one batch and its reads (set-up already ran persist and
        load).  Then cycles of persist, reload and the next batches with
        their reads; at the default run length a run measures one cycle."""
        yield [(kind, None) for kind in self.BATCH]
        while True:
            yield [(kind, None) for kind in self.CYCLE]

    def run(self, kind: str, op, tracer: Tracer):
        return getattr(self, f"_{kind}")(tracer)

    def check(self, kind: str, op, result) -> bool:
        b = self.batch
        if kind == "write":
            # expectations as of this batch (later batches change the model)
            b["expect_vertices"] = self.model.expect_vertices(b["probe_gids"])
            b["expect_in"] = self.model.expect_in_placed(b["probe_order"])
            return result is True
        if kind == "read_in":
            return canon("gids", result) == b["expect_in"]
        if kind == "persist":
            return verify_persisted(self.oracle, os.path.join(self.base, GRAPH_NAME),
                                    self.model, self.order_cust)
        # read_vertices, reload: the batch's probe vertices
        return canon("elements", result) == canon("elements", [
            {"gid": g, "label": lab, "data": d} for g, lab, d in b["expect_vertices"]])

    def _write(self, tracer: Tracer) -> bool:
        b = self.model.next_batch()
        with tracer.span("spark.create_df"):
            vdf = self.spark.createDataFrame(b["vertices"], wl.VERTEX_DDL)
            edf = self.spark.createDataFrame(b["edges"], wl.EDGE_DDL)
        with tracer.span("graph.upsert", group="write"):
            g = self.graph.addVertices(vdf).addEdges(edf)
        with tracer.span("graph.delete", group="write"):
            g = g.deleteVertices(b["deletes"])
        self.manager.addGraph(GRAPH_NAME, g)
        self.graph = g
        self.write_elems.append(len(b["vertices"]) + len(b["edges"]) + len(b["deletes"]))
        if tracer.enabled:
            tracer.count("graph.lineage_nodes", lineage_nodes(g))
        self.batch = b
        return True

    def _read_vertices(self, tracer: Tracer, graph=None):
        op = {"query": {"query": [{"v": self.batch["probe_gids"]}]}}
        return run_query(graph or self.graph, op, tracer)

    def _read_in(self, tracer: Tracer):
        op = {"query": {"query": [{"v": [self.batch["probe_order"]]}, {"in": ["placed"]}]}}
        return run_query(self.graph, op, tracer)

    def _persist(self, tracer: Tracer) -> None:
        with instrument_storage(tracer), tracer.span("manager.persist", group="persist"):
            self.manager.persist(GRAPH_NAME)
        self.graph = self.manager.getGraph(GRAPH_NAME)
        if tracer.enabled:
            tracer.count("graph.bytes_written", dir_bytes(os.path.join(self.base, GRAPH_NAME)))

    def _reload(self, tracer: Tracer):
        """Fresh manager over the persisted files, through the first
        answered query."""
        from grip_spark.manager import GraphManager

        with instrument_storage(tracer), tracer.span("manager.get", group="get"):
            m = GraphManager(self.spark, self.base)
            g = m.getGraph(GRAPH_NAME)
        res = self._read_vertices(tracer, graph=g)
        self.manager, self.graph = m, g
        return res

    def finish(self, res: dict) -> None:
        """Write and reload figures of the measured ops."""
        write_ms = kind_latencies(res, "write")
        elems = sum(self.write_elems[-len(write_ms):])
        path = os.path.join(self.base, GRAPH_NAME)
        self.extra = {
            "write_p50_ms": _metric(statistics.median(write_ms), "ms"),
            "write_elems_per_s": _metric(elems / (sum(write_ms) / 1e3), "elem/s"),
            "reload_s": _metric(statistics.median(kind_latencies(res, "reload")) / 1e3, "s"),
            "stored_bytes_per_input_byte": _metric(dir_bytes(path) / grip_json_bytes(path),
                                                   "ratio"),
            "batches": self.model.batches,
        }


class CorpusWorkload:
    """``corpus_build``: ``pipeline.build_corpus`` over a seeded
    documents table; one op is one build and the collect of its output."""

    def __init__(self, name: str, spark, work: str, data_dir: str, seed: int, cores: int,
                 scale: float, oracle: Oracle):
        self.spark, self.work, self.data_dir, self.seed = spark, work, data_dir, seed
        self.rows, self.keep = wl.corpus_documents(seed)
        self.docs = None
        self.report: list = []
        self.extra: dict = {}

    def inputs(self):
        return {"rows": self.rows, "salts": [self._salt(i) for i in range(4)]}

    def _salt(self, i: int) -> str:
        return f"corpus:{self.seed}:{i}"

    def setup_round(self, i: int) -> None:
        if self.docs is not None:
            self.docs.unpersist()
        src = os.path.join(self.work, f"src{i}")
        os.symlink(self.data_dir, src)
        self.docs = self.spark.read.parquet(os.path.join(src, "documents.parquet")).cache()
        self.docs.count()

    def prepare_checks(self, oracle: Oracle) -> None:
        pass  # the expected corpus comes with the generated documents

    def cycles(self):
        i = 0
        while True:
            yield [("build", {"salt": self._salt(i)})]
            i += 1

    def run(self, kind: str, op: dict, tracer: Tracer):
        from grip_spark.pipeline import build_corpus

        with instrument_corpus(tracer):
            tracer.phase("corpus.input", group="input")
            out, report = build_corpus(
                self.docs, min_quality=wl.CORPUS_MIN_QUALITY, languages=("en",),
                fuzzy_threshold=0.8, splits=wl.CORPUS_SPLITS, salt=op["salt"], report=True)
            tracer.phase("results.collect", group="collect")
            rows = out.select("doc_id", "split", "quality", "lang_guess").collect()
            # the build leaves its last two stages cached
            self.spark.catalog.clearCache()
        return rows, report

    def check(self, kind: str, op: dict, result) -> bool:
        """The build keeps exactly the lowest-id member of every good
        document's copies and variants, in the split the salted hash
        assigns, and only English documents above the quality floor."""
        rows, report = result
        self.report = report
        want = {i: wl.split_of(f"{op['salt']}:split", i) for i in self.keep}
        got = {r["doc_id"]: r["split"] for r in rows}
        return (len(got) == len(rows) and got == want
                and report[0] == {"stage": "input", "rows": len(self.rows)}
                and all(r["lang_guess"] == "en" and r["quality"] >= wl.CORPUS_MIN_QUALITY
                        for r in rows))

    def finish(self, res: dict) -> None:
        build_ms = kind_latencies(res, "build")
        self.extra = {
            "docs_per_s": _metric(len(self.rows) * len(build_ms) / (sum(build_ms) / 1e3),
                                  "doc/s"),
            "docs": len(self.rows), "docs_kept": len(self.keep),
            "stage_rows": {r["stage"]: r["rows"] for r in self.report},
        }


def kind_latencies(res: dict, kind: str) -> list[float]:
    return [ms for k, ms in zip(res["kinds"], res["lat"]) if k == kind]


def lineage_nodes(g) -> int:
    """Logical-plan size of the graph's two tables (grows per batch)."""
    return sum(df._jdf.queryExecution().logical().toString().count("\n")
               for df in (g.vertices, g.edges))


@contextlib.contextmanager
def instrument_storage(tracer: Tracer):
    """Span ``GripGraph.save``/``load`` while the graph manager calls them."""
    from grip_spark.graph import GripGraph

    if not tracer.enabled:
        yield
        return
    save, load = GripGraph.__dict__["save"], GripGraph.__dict__["load"]

    def traced_save(self, *a, **k):
        with tracer.span("graph.save", group="save"):
            return save(self, *a, **k)

    def traced_load(cls, *a, **k):
        with tracer.span("graph.load", group="load"):
            return load.__func__(cls, *a, **k)

    GripGraph.save, GripGraph.load = traced_save, classmethod(traced_load)
    try:
        yield
    finally:
        GripGraph.save, GripGraph.load = save, load


@contextlib.contextmanager
def instrument_corpus(tracer: Tracer):
    """Give every ``build_corpus`` stage its own phase while a traced
    build runs (``CORPUS_STAGES``), and count the near-duplicate pairs
    the MinHash stage finds (a job of the tracer's own)."""
    if not tracer.enabled:
        yield
        return
    saved = []
    for mod_name, fn_name, phase in CORPUS_STAGES:
        mod = importlib.import_module(f"grip_spark.{mod_name}")
        fn = getattr(mod, fn_name)
        saved.append((mod, fn_name, fn))

        def staged(*a, _fn=fn, _phase=phase, **k):
            tracer.phase(_phase, group=_phase)
            out = _fn(*a, **k)
            if _phase == "dedup.minhash":
                tracer.phase("trace.pairs_count", group="trace")
                tracer.count("dedup.pairs_out", out.count())
                tracer.phase(_phase, group=_phase)
            return out

        setattr(mod, fn_name, staged)
    try:
        yield
    finally:
        for mod, fn_name, fn in saved:
            setattr(mod, fn_name, fn)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _parquet_glob(path: str, table: str) -> str:
    return f"read_parquet('{path}/{table}/**/*.parquet', hive_partitioning = true)"


def verify_persisted(oracle: Oracle, path: str, model: wl.IngestModel, order_cust) -> bool:
    """Every acknowledged write, checked in the persisted files alone."""
    gids = sorted(set(model.vertices) | model.deleted)
    rows = oracle.rows(
        f"SELECT gid, label, data FROM {_parquet_glob(path, 'vertices')} "
        f"WHERE gid IN ({', '.join(repr(g) for g in gids)})")
    got = canon("elements", [{"gid": g, "label": lab, "data": d} for g, lab, d in rows])
    want = canon("elements", [{"gid": g, "label": "Customer", "data": d}
                              for g, d in model.vertices.items()])
    if got != want:
        return False
    gone = set(model.dead_edges) | {f"cn:{c}" for c in model.deleted_orig}
    gone |= {f"pl:{o}" for o, c in enumerate(order_cust) if c in model.deleted_orig}
    probe = sorted(set(model.edges) | gone)
    rows = oracle.rows(
        f"SELECT gid, src, dst FROM {_parquet_glob(path, 'edges')} "
        f"WHERE gid IN ({', '.join(repr(g) for g in probe)})")
    return sorted(rows) == sorted((g, s, d) for g, (s, d) in model.edges.items())


def grip_json_bytes(path: str) -> int:
    """Size of the persisted graph as GRIP bulk-load JSON lines (the
    user's view of the data: null fields absent)."""
    import pyarrow.dataset as ds

    total = 0
    for table, keys in (("vertices", ("gid", "label", "data")),
                        ("edges", ("gid", "label", "src", "dst", "data"))):
        t = ds.dataset(os.path.join(path, table), format="parquet",
                       partitioning="hive").to_table()
        for row in t.select([k for k in keys if k in t.column_names]).to_pylist():
            row["data"] = {k: v for k, v in (row.get("data") or {}).items() if v is not None}
            total += len(json.dumps(row, separators=(",", ":"))) + 1
    return total


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measure(workload, seconds: float, tracer: Tracer, cycles, cpu=None) -> dict:
    """Closed loop over whole cycles until ``seconds`` have passed (at
    least one cycle).  Only the op is timed, in wall time and, given a
    ``cpu`` clock, in CPU time; its answer is checked after."""
    lat: list[float] = []
    cpu_ms: list[float] = []
    kinds: list[str] = []
    failed = 0
    errors: list[str] = []
    deadline = time.perf_counter() + seconds
    while True:
        for kind, op in next(cycles):
            c0 = cpu() if cpu else 0.0
            t0 = time.perf_counter()
            try:
                with tracer.op(kind):
                    result = workload.run(kind, op, tracer)
                elapsed = time.perf_counter() - t0
                used = cpu() - c0 if cpu else 0.0
                ok = workload.check(kind, op, result)
                why = "wrong answer"
            except Exception as exc:  # an op that raises counts as failed; the run goes on
                elapsed = time.perf_counter() - t0
                used = cpu() - c0 if cpu else 0.0
                ok, why = False, f"{type(exc).__name__}: {str(exc)[:200]}"
            lat.append(elapsed * 1e3)
            cpu_ms.append(used * 1e3)
            kinds.append(kind)
            if not ok:
                failed += 1
                if len(errors) < 5:
                    errors.append(f"{kind}: {why}")
        if time.perf_counter() >= deadline:
            break
    return {"lat": lat, "cpu_ms": cpu_ms, "kinds": kinds, "failed": failed, "errors": errors}


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def latency_diag(res: dict) -> dict:
    """p50, p90 with its sample count (reported only with >= 10 samples
    beyond it), throughput and the median latency of each op kind.  With
    one closed-loop client, ops_per_s is 1 / mean latency: ops per second
    of op time, as the answer checks between ops are the benchmark's work."""
    lat = res["lat"]
    beyond = len(lat) - int(0.9 * len(lat)) - 1
    return {"op_p50_ms": _metric(statistics.median(lat), "ms"),
            "op_p90_ms": _metric(quantile(lat, 0.9), "ms") if beyond >= 10 else None,
            "op_p90_samples_beyond": beyond, "op_samples": len(lat),
            "ops_per_s": _metric(len(lat) / (sum(lat) / 1e3), "op/s"),
            "kind_p50_ms": {k: round(statistics.median(kind_latencies(res, k)), 1)
                            for k in sorted(set(res["kinds"]))}}


def traced_metrics(tracer: Tracer, plain: dict, traced: dict) -> tuple[dict, dict]:
    """Per-layer metrics and the per-op / per-workload trace diagnostics."""
    s = tracer.summary()
    s["compile.eager_jobs"] = s.get("jobs.plan", 0.0)
    s["spark.cache_bytes"] = tracer.cache_bytes()
    s["trace.overhead_ms"] = statistics.fmean(traced["lat"]) - statistics.fmean(plain["lat"])
    metrics = {k: _metric(s.get(k, 0.0), unit) for k, unit in PER_LAYER.items()}
    diag = {
        "traced_ops": len(tracer.ops),
        "totals": {k: sum(r["counts"].get(k, 0.0) for r in tracer.ops) for k in PLAN_COUNTS},
        "per_op": [{"kind": r["kind"], "wall_ms": round(r["wall_ms"], 2),
                    "unattributed_ms": round(r["unattributed_ms"], 2),
                    **{k: round(v, 2) for k, v in sorted(r["counts"].items())}}
                   for r in tracer.ops],
    }
    return metrics, diag


WORKLOADS = {"oltp_anchor": QueryWorkload, "ingest_mixed": IngestWorkload,
             "olap_scan": QueryWorkload, "corpus_build": CorpusWorkload}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # two task slots: on a 4-vCPU VM as fast as four for both workloads (their
    # ops are scheduling-bound at this scale) and less hurt by CPU steal, since
    # a stage waits for its slowest task
    cores = min(len(os.sched_getaffinity(0)), 2)
    work = make_workdir(args.workload)
    spark = oracle = gen = None
    try:
        data_dir = os.path.join(work, "data")
        docs = ["--docs-seed", str(args.seed)] if args.workload == "corpus_build" else []
        # the inputs are generated while the JVM starts
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "datagen.py"), data_dir,
                                "--scale", str(SCALE), *docs])
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        if gen.wait() != 0:
            raise RuntimeError(f"datagen.py exited with {gen.returncode}")
        oracle = Oracle(data_dir)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        w = WORKLOADS[args.workload](args.workload, spark, work, data_dir, args.seed, cores,
                                     SCALE, oracle)
        digest = wl.input_hash(w.inputs())

        cpu = CpuClock(jvm_pid)
        setup, setup_cpu = [], []
        for i in range(SETUP_ROUNDS):
            t0, c0 = time.perf_counter(), cpu()
            w.setup_round(i)
            setup.append(time.perf_counter() - t0)
            setup_cpu.append(cpu() - c0)
        t0 = time.perf_counter()
        w.prepare_checks(oracle)
        oracle_s = time.perf_counter() - t0

        cycles = w.cycles()
        untraced = Tracer(spark, cores, enabled=False)
        warm = measure(w, 0, untraced, cycles)  # one cycle; only its failures count
        jit0 = cpu.jit()
        with HostNoise() as noise:
            if args.trace:
                plain = measure(w, args.seconds / 2, untraced, cycles)
                tracer = Tracer(spark, cores, enabled=True)
                res = measure(w, args.seconds / 2, tracer, cycles)
                runs = (warm, plain, res)
            else:
                res = measure(w, args.seconds, untraced, cycles, cpu)
                runs = (warm, res)
        rss_mb = peak_rss_mb(jvm_pid)  # before the post-run bookkeeping below
        jit_s = cpu.jit() - jit0
        w.finish(res)
        attempted = sum(len(r["lat"]) for r in runs)
        failed = sum(r["failed"] for r in runs)
        diag = {
            "workload": args.workload, "seed": args.seed, "input_hash": digest,
            "scale": SCALE, "cores": cores, "session_start_s": session_s,
            "setup_rounds_s": setup, "setup_rounds_cpu_s": setup_cpu, "oracle_s": oracle_s,
            "jit_cpu_s_while_measuring": jit_s,
            "ops_failed_frac": _metric(failed / attempted, "fraction"),
            "errors": [e for r in runs for e in r["errors"]][:5],
            **latency_diag(res), "host": noise.report(), **w.extra,
        }
        if args.trace:
            metrics, trace_diag = traced_metrics(tracer, plain, res)
            diag.update(trace_diag)
        else:
            values = {
                "setup_s": statistics.median(setup_cpu[1:]),
                "cpu_ms_per_op": statistics.fmean(res["cpu_ms"]),
                "peak_rss_mb": rss_mb,
            }
            metrics = {k: _metric(values[k], unit) for k, unit in END_TO_END.items()}
        print(json.dumps({"diagnostics": diag}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        if oracle is not None:
            oracle.close()
        if spark is not None:
            stop_spark(spark)
        remove_workdir(work)


if __name__ == "__main__":
    sys.exit(main())
