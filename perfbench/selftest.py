"""Self-checks of the benchmark itself (needs Spark; about two minutes):

    python3 perfbench/selftest.py

1. Seed determinism: each workload's input hash repeats for the same
   seed and changes with the seed.
2. Oracle agreement on a tiny configuration (TPC-H sf0.001 row counts):
   two rounds of every query workload, two ``ingest_mixed`` cycles and
   two corpus builds pass their checks against the engine.
3. A deliberately corrupted expectation (a query answer, a
   read-your-writes answer, an acknowledged write missing from the
   persisted files, a document the build must keep) is reported as a
   failure.

Prints one line per check and exits 0 when every check passes.
"""

from __future__ import annotations

import os
import sys

import run
import workloads as wl
from datagen import generate, generate_documents
from oracle import Oracle
from tracing import Tracer

TINY = 0.001
QUERY_WORKLOADS = ("oltp_anchor", "olap_scan")


class Checks:
    def __init__(self):
        self.failed = 0

    def __call__(self, name: str, ok: bool, detail: object = "") -> None:
        print(f"{'PASS' if ok else 'FAIL'} {name}" + (f"  {detail}" if detail and not ok else ""),
              flush=True)
        self.failed += not ok


def hashes(check: Checks, data_dir: str, oracle: Oracle) -> None:
    for name, cls in run.WORKLOADS.items():
        def digest(seed: int) -> str:
            return wl.input_hash(cls(name, None, None, data_dir, seed, 1, TINY, oracle).inputs())
        check(f"{name}: same seed, same input hash", digest(7) == digest(7))
        check(f"{name}: other seed, other input hash", digest(7) != digest(8))


def _subdir(work: str, name: str) -> str:
    os.makedirs(os.path.join(work, name))
    return os.path.join(work, name)


def cycle(w, tracer: Tracer, cycles) -> dict:
    """One measured cycle: the next of ``cycles``, or ``cycles`` itself
    when it is a list of ops."""
    return run.measure(w, 0, tracer, iter([cycles]) if isinstance(cycles, list) else cycles)


def query_workload(check: Checks, spark, work: str, data_dir: str, oracle: Oracle,
                   name: str) -> None:
    w = run.QueryWorkload(name, spark, _subdir(work, name), data_dir, 5, 2, TINY, oracle)
    w.setup_round(0)
    w.prepare_checks(oracle)
    cycles = w.cycles()
    for traced in (False, True):
        res = cycle(w, Tracer(spark, 2, enabled=traced), cycles)
        check(f"{name}: engine agrees with oracle ({'traced' if traced else 'untraced'})",
              res["failed"] == 0, res["errors"])
    op = dict(w.rounds[1][0], expect="corrupted")
    res = cycle(w, Tracer(spark, 2, enabled=False), [(op["kind"], op)])
    check(f"{name}: corrupted answer counts as failed", res["failed"] == 1)


def ingest_workload(check: Checks, spark, work: str, data_dir: str, oracle: Oracle) -> None:
    w = run.IngestWorkload("ingest_mixed", spark, _subdir(work, "ingest_mixed"), data_dir, 5, 2,
                           TINY, oracle)
    w.setup_round(0)
    w.prepare_checks(oracle)
    cycles = w.cycles()
    for traced in (False, True):
        res = cycle(w, Tracer(spark, 2, enabled=traced), cycles)
        check(f"ingest_mixed: engine agrees with model ({'traced' if traced else 'untraced'})",
              res["failed"] == 0, res["errors"])
    plain = Tracer(spark, 2, enabled=False)
    cycle(w, plain, [("write", None)])
    w.batch["expect_in"] = w.batch["expect_in"] + ["c:corrupted"]
    res = cycle(w, plain, [("read_in", None)])
    check("ingest_mixed: corrupted read-your-writes answer counts as failed", res["failed"] == 1)
    w.model.vertices["c:lost"] = {"c_name": "lost write"}
    res = cycle(w, plain, [("persist", None)])
    check("ingest_mixed: write missing from persisted files counts as failed",
          res["failed"] == 1)


def corpus_workload(check: Checks, spark, work: str, data_dir: str, oracle: Oracle) -> None:
    w = run.CorpusWorkload("corpus_build", spark, _subdir(work, "corpus_build"), data_dir, 5, 2,
                           TINY, oracle)
    w.setup_round(0)
    cycles = w.cycles()
    for traced in (False, True):
        tracer = Tracer(spark, 2, enabled=traced)
        res = cycle(w, tracer, cycles)
        check(f"corpus_build: build agrees with the documents' make-up "
              f"({'traced' if traced else 'untraced'})", res["failed"] == 0, res["errors"])
    check("corpus_build: traced build has a phase per stage",
          {name for *_, name in run.CORPUS_STAGES} <= {s[0] for s in tracer.ops[0]["spans"]}
          and tracer.ops[0]["counts"]["dedup.pairs_out"] > 0, tracer.ops[0]["spans"])
    w.keep = w.keep[1:]
    res = cycle(w, Tracer(spark, 2, enabled=False), cycles)
    check("corpus_build: a document wrongly kept counts as failed", res["failed"] == 1)


def main() -> int:
    work = run.make_workdir("selftest")
    check = Checks()
    spark = oracle = None
    try:
        data_dir = os.path.join(work, "data")
        generate(data_dir, TINY)
        generate_documents(data_dir, 5)
        oracle = Oracle(data_dir)
        hashes(check, data_dir, oracle)
        spark = run.start_spark(work, 2)
        for name in QUERY_WORKLOADS:
            query_workload(check, spark, work, data_dir, oracle, name)
        ingest_workload(check, spark, work, data_dir, oracle)
        corpus_workload(check, spark, work, data_dir, oracle)
    finally:
        if oracle is not None:
            oracle.close()
        if spark is not None:
            run.stop_spark(spark)
        run.remove_workdir(work)
    print(f"{check.failed} check(s) failed")
    return 1 if check.failed else 0


if __name__ == "__main__":
    sys.exit(main())
