"""Seeded op streams.

Everything a run sends to the engine is generated here from the seed
and the (fixed) table sizes: query rounds for ``oltp_anchor`` and
``olap_scan``, write batches for ``ingest_mixed``, the documents table
for ``corpus_build``.  A round holds one
op of every kind in a seed-shuffled order, and runs execute whole
rounds, so every run times the same mix whatever its length.

Query ops are ``{"kind", "query" | "gid", "shape", "sql"[, "fields"]}``:
``query`` is GripQL wire JSON for ``Traversal.from_json``; ``gid``
marks a ``GripGraph.getVertex`` call; ``sql`` is the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import json
import random
import re

from datagen import PRIORITIES, REGIONS, SEGMENTS, sizes


def _q(*stmts) -> dict:
    return {"query": list(stmts)}


def _cond(op: str, key: str, value) -> dict:
    return {"condition": {"key": key, "value": value, "condition": op}}


def _oltp_op(kind: str, r: random.Random, n: dict) -> dict:
    c = r.randrange(n["customer"])
    o = r.randrange(n["orders"])
    if kind == "hop1":
        return {"query": _q({"v": [f"c:{c}"]}, {"out": ["placed"]}), "shape": "gids",
                "sql": f"SELECT 'o:' || o_orderkey FROM orders WHERE o_custkey = {c}"}
    if kind == "hop2":
        return {"query": _q({"v": [f"c:{c}"]}, {"out": ["placed"]}, {"out": ["contains"]}),
                "shape": "gids",
                "sql": "SELECT 'p:' || l_partkey FROM orders JOIN lineitem "
                       f"ON l_orderkey = o_orderkey WHERE o_custkey = {c}"}
    if kind == "hop3":
        return {"query": _q({"v": [f"o:{o}"]}, {"out": ["contains"]}, {"out": ["supplied"]},
                            {"out": ["in_nation"]}),
                "shape": "gids",
                "sql": "SELECT 'n:' || s.s_nationkey FROM lineitem l JOIN "
                       "(SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps "
                       "ON ps.l_partkey = l.l_partkey JOIN supplier s "
                       f"ON s.s_suppkey = ps.l_suppkey WHERE l.l_orderkey = {o}"}
    if kind == "edge_has":
        q = r.randrange(5, 46)
        return {"query": _q({"v": [f"o:{o}"]}, {"outE": ["contains"]},
                            {"has": _cond("GT", "l_quantity", q)}),
                "shape": "gids",
                "sql": "SELECT 'li:' || l_orderkey || ':' || l_linenumber FROM lineitem "
                       f"WHERE l_orderkey = {o} AND l_quantity > {q}"}
    if kind == "fields":
        parts = sorted(r.sample(range(n["part"]), 3))
        return {"query": _q({"v": []}, {"hasId": [f"p:{p}" for p in parts]},
                            {"fields": ["p_name", "p_retailprice"]}),
                "shape": "elements", "fields": ["p_name", "p_retailprice"],
                "sql": "SELECT 'p:' || p_partkey, 'Part', p_name, p_retailprice FROM part "
                       f"WHERE p_partkey IN ({', '.join(map(str, parts))})"}
    if kind == "render":
        return {"query": _q({"v": [f"c:{c}"]},
                            {"render": {"name": "c_name", "seg": "c_mktsegment",
                                        "bal": "c_acctbal"}}),
                "shape": "render", "fields": ["name", "seg", "bal"],
                "sql": "SELECT c_name, c_mktsegment, c_acctbal FROM customer "
                       f"WHERE c_custkey = {c}"}
    if kind == "get_vertex":
        s = r.randrange(n["supplier"])
        return {"gid": f"s:{s}", "shape": "elements", "fields": ["s_name", "s_acctbal"],
                "sql": "SELECT 's:' || s_suppkey, 'Supplier', s_name, s_acctbal "
                       f"FROM supplier WHERE s_suppkey = {s}"}
    if kind == "agg":
        return {"query": _q({"v": [f"c:{c}"]}, {"out": ["placed"]},
                            {"aggregate": {"aggregations": [
                                {"name": "st", "term": {"field": "o_orderstatus"}},
                                {"name": "n", "count": {}}]}}),
                "shape": "agg",
                "sql": "SELECT 'st', o_orderstatus, count(*) FROM orders "
                       f"WHERE o_custkey = {c} GROUP BY o_orderstatus "
                       f"UNION ALL SELECT 'n', 'count', count(*) FROM orders WHERE o_custkey = {c}"}
    raise ValueError(kind)


def _olap_op(kind: str, r: random.Random, n: dict) -> dict:
    if kind == "filter_count":
        t = r.randrange(100_000, 450_000)
        return {"query": _q({"v": []}, {"hasLabel": ["Order"]},
                            {"has": _cond("GT", "o_totalprice", t)}, {"count": ""}),
                "shape": "count",
                "sql": f"SELECT count(*) FROM orders WHERE o_totalprice > {t}"}
    if kind == "hop1_count":
        seg = r.choice(SEGMENTS)
        return {"query": _q({"v": []}, {"hasLabel": ["Customer"]},
                            {"has": _cond("EQ", "c_mktsegment", seg)}, {"out": ["placed"]},
                            {"count": ""}),
                "shape": "count",
                "sql": "SELECT count(*) FROM customer JOIN orders ON o_custkey = c_custkey "
                       f"WHERE c_mktsegment = '{seg}'"}
    if kind == "hop2_agg":
        a = r.randrange(0, 9000)
        base = ("FROM customer JOIN orders ON o_custkey = c_custkey JOIN lineitem "
                f"ON l_orderkey = o_orderkey WHERE c_acctbal < {a}")
        return {"query": _q({"v": []}, {"hasLabel": ["Customer"]},
                            {"has": _cond("LT", "c_acctbal", a)}, {"out": ["placed"]},
                            {"outE": ["contains"]},
                            {"aggregate": {"aggregations": [
                                {"name": "rf", "term": {"field": "l_returnflag"}},
                                {"name": "qty", "histogram": {"field": "l_quantity",
                                                              "interval": 10}},
                                {"name": "n", "count": {}}]}}),
                "shape": "agg",
                "sql": f"SELECT 'rf', l_returnflag, count(*) {base} GROUP BY 2 UNION ALL "
                       f"SELECT 'qty', CAST(floor(l_quantity / 10) * 10 AS BIGINT), count(*) {base} GROUP BY 2 "
                       f"UNION ALL SELECT 'n', 'count', count(*) {base}"}
    if kind == "distinct":
        k = r.randrange(1, 51)
        return {"query": _q({"v": []}, {"hasLabel": ["Part"]},
                            {"has": _cond("GTE", "p_size", k)}, {"distinct": ["p_brand"]}),
                "shape": "distinct:p_brand",
                "sql": f"SELECT DISTINCT p_brand FROM part WHERE p_size >= {k}"}
    if kind == "histogram":
        pri = r.choice(PRIORITIES)
        step = r.choice([50_000, 100_000, 125_000])
        return {"query": _q({"v": []}, {"hasLabel": ["Order"]},
                            {"has": _cond("EQ", "o_orderpriority", pri)},
                            {"aggregate": {"aggregations": [
                                {"name": "tp", "histogram": {"field": "o_totalprice",
                                                             "interval": step}}]}}),
                "shape": "agg",
                "sql": f"SELECT 'tp', floor(o_totalprice / {step}) * {step}, count(*) "
                       f"FROM orders WHERE o_orderpriority = '{pri}' GROUP BY 2"}
    if kind == "select":
        a = r.randrange(0, 9000)
        return {"query": _q({"v": []}, {"hasLabel": ["Supplier"]},
                            {"has": _cond("GT", "s_acctbal", a)}, {"as": "s"},
                            {"out": ["in_nation"]}, {"as": "n"},
                            {"select": {"marks": ["s", "n"]}}),
                "shape": "select:s,n",
                "sql": "SELECT 's:' || s_suppkey, 'n:' || s_nationkey FROM supplier "
                       f"WHERE s_acctbal > {a}"}
    if kind == "path":
        region = r.randrange(len(REGIONS))
        return {"query": _q({"v": []}, {"hasLabel": ["Region"]},
                            {"has": _cond("EQ", "r_name", REGIONS[region])},
                            {"in": ["in_region"]}, {"in": ["in_nation"]},
                            {"hasLabel": ["Customer"]}, {"path": []}),
                "shape": "path",
                "sql": "SELECT 'r:' || n_regionkey, 'n:' || n_nationkey, 'c:' || c_custkey "
                       "FROM nation JOIN customer ON c_nationkey = n_nationkey "
                       f"WHERE n_regionkey = {region}"}
    if kind == "jump_bfs":
        starts = sorted(r.sample(range(25), r.randrange(2, 5)))
        depth = r.choice([2, 3])
        names = [f"NATION_{i}" for i in starts]
        return {"query": _q({"v": []}, {"hasLabel": ["Nation"]},
                            {"has": _cond("WITHIN", "n_name", names)},
                            {"set": {"key": "i", "value": 0}}, {"as": "s"}, {"mark": "a"},
                            {"increment": {"key": "$s.i", "value": 1}},
                            {"has": _cond("LT", "$s.i", depth + 1)},
                            {"out": ["in_region"]}, {"in": ["in_region"]},
                            {"jump": {"mark": "a", "expression": None, "emit": True}}),
                "shape": "gids",
                "sql": "WITH RECURSIVE walk(nk, lvl) AS ("
                       "SELECT n_nationkey, 0 FROM nation WHERE n_nationkey IN "
                       f"({', '.join(map(str, starts))}) UNION ALL "
                       "SELECT n2.n_nationkey, lvl + 1 FROM walk "
                       "JOIN nation n1 ON n1.n_nationkey = walk.nk "
                       "JOIN nation n2 ON n2.n_regionkey = n1.n_regionkey "
                       f"WHERE lvl < {depth}) SELECT 'n:' || nk FROM walk WHERE lvl > 0"}
    raise ValueError(kind)


OLTP_KINDS = ("hop1", "hop2", "hop3", "edge_has", "fields", "render", "get_vertex", "agg")
OLAP_KINDS = ("filter_count", "hop1_count", "hop2_agg", "distinct", "histogram", "select",
              "path", "jump_bfs")


def query_rounds(workload: str, seed: int, scale: float, count: int) -> list[list[dict]]:
    """``count`` rounds of one op per kind, each round in its own seeded order."""
    kinds, make = {"oltp_anchor": (OLTP_KINDS, _oltp_op),
                   "olap_scan": (OLAP_KINDS, _olap_op)}[workload]
    n = sizes(scale)
    rounds = []
    for i in range(count):
        r = random.Random(f"{workload}:{seed}:{i}")
        ops = [dict(kind=k, **make(k, r, n)) for k in kinds]
        r.shuffle(ops)
        rounds.append(ops)
    return rounds


def input_hash(payload) -> str:
    return hashlib.sha256(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:16]


# -- ingest_mixed ---------------------------------------------------------

NEW_PER_BATCH = 12
OVERWRITES_PER_BATCH = 6
DELETE_NEW_PER_BATCH = 2
VERTEX_DDL = ("gid string, label string, "
              "data struct<c_name:string, c_acctbal:double, c_mktsegment:string, c_tier:int>")
EDGE_DDL = "gid string, label string, from string, to string, data struct<weight:double>"


class IngestModel:
    """What the graph must hold after the acknowledged batches.

    Tracks only what the workload wrote or deleted; everything else is
    the generated base graph.  ``order_cust[o]`` is order ``o``'s
    original customer key (its ``pl:{o}`` edge)."""

    def __init__(self, order_cust: list[int], n_customer: int, seed: int):
        self.order_cust = order_cust
        self.n_customer = n_customer
        self.seed = seed
        self.batches = 0
        self.vertices: dict[str, dict] = {}   # written, still alive: gid -> data
        self.deleted: set[str] = set()        # vertex gids
        self.edges: dict[str, tuple] = {}     # written, still alive: gid -> (src, dst)
        self.dead_edges: set[str] = set()     # written edges lost to a cascade
        self.deleted_orig: set[int] = set()   # base customers deleted
        self.new_alive: list[str] = []        # written Customer gids, still alive

    def next_batch(self) -> dict:
        """Generate the next batch, apply it to the model and record the
        answers its read-your-writes probes must get right after it."""
        j = self.batches
        self.batches += 1
        r = random.Random(f"ingest_mixed:{self.seed}:{j}")
        n_orders = len(self.order_cust)
        verts, edges = [], []
        for i in range(NEW_PER_BATCH):
            gid = f"c:x{j}_{i}"
            verts.append((gid, {"c_name": f"New#{j}_{i}",
                                "c_acctbal": round(r.uniform(-999, 9999), 2),
                                "c_mktsegment": r.choice(SEGMENTS),
                                "c_tier": r.randrange(1, 4)}))
            for e, o in enumerate(r.sample(range(n_orders), r.randrange(1, 3))):
                edges.append((f"pl:x{j}_{i}_{e}", gid, f"o:{o}", round(r.random(), 3)))
        touched = set()
        while len(touched) < OVERWRITES_PER_BATCH:
            c = r.randrange(self.n_customer)
            if c not in self.deleted_orig:
                touched.add(c)
        for c in sorted(touched):
            verts.append((f"c:{c}", {"c_name": f"Customer#{c:09d}",
                                     "c_acctbal": round(r.uniform(-999, 9999), 2),
                                     "c_mktsegment": r.choice(SEGMENTS),
                                     "c_tier": r.randrange(1, 4)}))
        dels = r.sample(self.new_alive, min(DELETE_NEW_PER_BATCH, len(self.new_alive)))
        while True:
            c = r.randrange(self.n_customer)
            if c not in self.deleted_orig and c not in touched:
                break
        dels.append(f"c:{c}")
        # apply: upsert vertices, upsert edges, then delete with cascade
        for gid, data in verts:
            self.vertices[gid] = data
        for gid, src, dst, _ in edges:
            self.edges[gid] = (src, dst)
        self.new_alive += [gid for gid, _ in verts if gid.startswith("c:x")]
        for gid in dels:
            self.vertices.pop(gid, None)
            self.deleted.add(gid)
            if gid in self.new_alive:
                self.new_alive.remove(gid)
            for eg, (src, dst) in list(self.edges.items()):
                if gid in (src, dst):
                    del self.edges[eg]
                    self.dead_edges.add(eg)
        self.deleted_orig.add(c)
        order = edges[0][2]
        return {
            "index": j,
            "vertices": [(g, "Customer", d) for g, d in verts],
            "edges": [(g, "placed", s, d, {"weight": w}) for g, s, d, w in edges],
            "deletes": dels,
            # read-your-writes probes: this batch's vertices plus two
            # deleted gids, and the in-neighbours of one touched order
            "probe_gids": sorted({g for g, _ in verts[:4]} | {g for g, _ in verts[-2:]}
                                 | set(dels[-2:])),
            "probe_order": order,
        }

    def expect_vertices(self, gids: list[str]) -> list:
        return [[g, "Customer", self.vertices[g]] for g in gids if g in self.vertices]

    def expect_in_placed(self, order_gid: str) -> list[str]:
        o = int(order_gid.split(":", 1)[1])
        out = [src for src, dst in self.edges.values() if dst == order_gid]
        base = self.order_cust[o]
        if base not in self.deleted_orig:
            out.append(f"c:{base}")
        return sorted(out)


# -- corpus_build ---------------------------------------------------------

# documents per category; every run builds a corpus of the same make-up
CORPUS_MIX = {"good": 400, "exact": 80, "near": 80, "foreign": 120, "junk": 80, "short": 40}
CORPUS_SPLITS = {"train": 0.9, "val": 0.1}
CORPUS_MIN_QUALITY = 0.3
EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]
FOREIGN_STOPWORDS = [
    ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    ["der", "die", "und", "das", "von", "den", "ein", "mit", "ist", "im"],
]
DOCUMENT_DDL = "doc_id bigint, text string, source string"


def corpus_documents(seed: int) -> tuple[list[tuple], list[int]]:
    """Seeded ``(doc_id, text, source)`` rows and the ids a build keeps.

    Categories (``CORPUS_MIX``): ``good`` English documents, ``exact``
    copies and ``near`` one-letter variants of good documents, ``foreign``
    documents (Spanish/French/German function words), ``junk`` (digits
    and symbols) and ``short`` documents (every line under three words).
    Made-up words are five to nine letters, so none is a function word
    of any language.  A build keeps, of each good document and its
    copies and variants, the member with the lowest id, and nothing
    else.  A variant shares at least ~97 % of its 5-letter shingles
    with its source, so MinHash-LSH at threshold 0.8 (8 bands of 8
    rows) misses a pair with odds below 2e-5, and some pair of a run's
    documents with odds near 1e-4."""
    r = random.Random(f"corpus_build:{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(r.choice(letters) for _ in range(r.randrange(5, 10)))
                    for _ in range(3000)})

    def prose(stop: list[str]) -> str:
        lines = []
        for _ in range(r.randrange(5, 9)):
            words = [r.choice(stop) if r.random() < 0.35 else r.choice(vocab)
                     for _ in range(r.randrange(10, 17))]
            lines.append(" ".join(words).capitalize() + ".")
        return "\n".join(lines)

    def variant(text: str) -> str:
        """One letter of one made-up word changed."""
        spans = [m.span() for m in re.finditer(r"[a-z]{5,}", text)]
        start, end = r.choice(spans)
        i = r.randrange(start, end)
        return text[:i] + r.choice(letters.replace(text[i], "")) + text[i + 1:]

    def junk() -> str:
        return "\n".join(" ".join(str(r.randrange(10, 99999)) + r.choice(["", "#", "%", "$"])
                                  for _ in range(r.randrange(5, 11)))
                         for _ in range(r.randrange(3, 6)))

    def short() -> str:
        return "\n".join(" ".join(r.choice(vocab) for _ in range(r.randrange(1, 3)))
                         for _ in range(r.randrange(2, 5)))

    good = [prose(EN_STOPWORDS) for _ in range(CORPUS_MIX["good"])]
    items = [(t, c) for c, t in enumerate(good)]
    for _ in range(CORPUS_MIX["exact"]):
        c = r.randrange(len(good))
        items.append((good[c], c))
    for _ in range(CORPUS_MIX["near"]):
        c = r.randrange(len(good))
        items.append((variant(good[c]), c))
    items += [(prose(r.choice(FOREIGN_STOPWORDS)), None) for _ in range(CORPUS_MIX["foreign"])]
    items += [(junk(), None) for _ in range(CORPUS_MIX["junk"])]
    items += [(short(), None) for _ in range(CORPUS_MIX["short"])]
    r.shuffle(items)
    rows = [(i, t, r.choice(["web", "books", "news"])) for i, (t, _) in enumerate(items)]
    keep: dict[int, int] = {}
    for i, (_, c) in enumerate(items):
        if c is not None:
            keep.setdefault(c, i)  # ids ascend, so the first member seen is the lowest
    return rows, sorted(keep.values())


def split_of(salt: str, doc_id: int) -> str:
    """The split ``sampling.split_assign`` gives ``doc_id`` under
    ``CORPUS_SPLITS``, from its documented hash: the first 15 hex
    digits of md5(salt + id) as a uniform draw in [0, 1)."""
    u = int(hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()[:15], 16) / float(1 << 60)
    acc = 0.0
    names = list(CORPUS_SPLITS)
    for name in names[:-1]:
        acc += CORPUS_SPLITS[name] / sum(CORPUS_SPLITS.values())
        if u < acc:
            return name
    return names[-1]
