"""The benchmark's two workloads, ``serving`` and ``batch``.

Each workload drives the engine only through its public functions and
follows one protocol, called by ``run.py`` in this order:

* ``expect()`` -- untimed: expected answers from DuckDB.
* ``load(spark)`` -- timed as ``sources.load_s`` (part of ``setup_s``).
* ``warmup()`` -- timed as ``setup.warmup_s``: the first request of each
  kind, with its output checked.
* ``measure(deadline)`` -- the measured window; returns ``Op`` records.
* ``verify(ops)`` -- untimed: checks outputs held back during the window.
* ``summary(ops, window_s)`` -- the end-to-end figures every workload
  reports (``read_p50_s``, ``pass_s``, ``ops_per_s``) plus others for
  the printed summary.
* ``layers()`` -- traced run only: the per-layer figures of the trace.

Parameters come from ``random.Random`` seeded with the run's seed; the
dataset itself is the fixed fixture from ``datagen``.
"""

from __future__ import annotations

import random
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import Observation

import oracle
from tracing import median

from dgraph_spark.dql import parse_dql
from dgraph_spark.entry_queries import QUERIES, resolve_sql
from dgraph_spark.graphql import execute_graphql, graphql_to_dql
from dgraph_spark.mutations import mutate
from dgraph_spark.operators.bm25 import bm25_search
from dgraph_spark.operators.recipes import prepare_corpus
from dgraph_spark.plans import Executor
from dgraph_spark.sources import load_tpch_graph
from dgraph_spark.sources.tpch_graph import uid_of


@dataclass
class Op:
    kind: str
    latency: float
    ok: bool = True
    parts: dict = field(default_factory=dict)  # workload-specific figures
    result: object = None
    expect: object = None


def _fail(where: str) -> None:
    print(f"# FAILED {where}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _quantile(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, round(q * (len(xs) - 1))))]


def _in_threads(fn, args) -> list:
    """Run ``fn(a)`` for each ``a`` on its own thread; concatenate the
    returned lists in ``args`` order. The first error is re-raised."""
    results: dict = {}
    errors: list[BaseException] = []

    def body(a) -> None:
        try:
            results[a] = fn(a)
        except BaseException as e:  # re-raised after join
            errors.append(e)

    args = list(args)
    threads = [threading.Thread(target=body, args=(a,)) for a in args]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return [x for a in args for x in results[a]]


def scanned_rows(df) -> int:
    """Rows produced by the scan nodes of ``df``'s executed plan (SQL
    metrics; read after the plan ran)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    total = 0
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(p.plan())
            continue
        if name.startswith("Scan") or name == "InMemoryTableScan":
            m = p.metrics().get("numOutputRows")
            if m.isDefined():
                total += m.get().value()
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


# ================================================================= serving
SHAPES = ("point", "fanout", "agg", "range", "graphql")
MUTATIONS = ("overwrite", "add_edge")
POOL = 8  # parameter sets per read shape and run
N_CUST = 15_000
# uid tag outside every TPC-H node class, for the nodes writes create
NEW_NODE_TAG = 15


def _dql(shape: str, p: dict) -> str:
    if shape == "point":
        return ('{ q(func: uid(%d)) { c_name c_acctbal '
                'placed (first: 1, orderdesc: o_totalprice) { o_totalprice } } }'
                % p["uid"])
    if shape == "fanout":
        return ('{ q(func: eq(n_name, "NATION_%d")) { n_name '
                'cust: ~in_nation @filter(type(Customer) AND gt(c_acctbal, %s)) '
                '(orderdesc: c_acctbal, first: 5) { c_name c_acctbal n: count(placed) } } }'
                % (p["nation"], p["min_bal"]))
    if shape == "agg":
        return ('{ var(func: uid(%d)) { placed { line { p as l_extendedprice } '
                'ot as sum(val(p)) } } q(func: uid(%d)) { c_name total: sum(val(ot)) } }'
                % (p["uid"], p["uid"]))
    if shape == "range":
        return ('{ q(func: between(o_orderdate, "%s", "%s")) '
                '@filter(gt(o_totalprice, %s)) { n: count(uid) } }'
                % (p["lo"], p["hi"], p["min_price"]))
    raise KeyError(shape)


def _gql(p: dict) -> str:
    return ('{ queryCustomer(filter: {c_acctbal: {gt: %s}}, '
            'order: {desc: c_acctbal}, first: 5) { c_name c_acctbal } }'
            % p["min_bal"])


def _read_params(rng: random.Random, shape: str) -> dict:
    if shape in ("point", "agg"):
        k = rng.randrange(N_CUST)
        return {"key": k, "uid": uid_of("customer", k)}
    if shape == "fanout":
        return {"nation": rng.randrange(25),
                "min_bal": f"{rng.uniform(8500, 9500):.2f}"}
    if shape == "range":
        day = rng.randrange(0, 2300)
        lo, hi = (time.strftime("%Y-%m-%d", time.gmtime(788918400 + d * 86400))
                  for d in (day, day + 7))
        return {"lo": lo, "hi": hi, "min_price": f"{rng.uniform(1e5, 4e5):.2f}"}
    return {"min_bal": f"{rng.uniform(9950, 9990):.2f}"}


def _read_expected(tw, shape: str, p: dict):
    if shape == "point":
        name, bal = tw.rows("SELECT c_name, c_acctbal FROM customer "
                            "WHERE c_custkey = ?", p["key"])[0]
        top = tw.one("SELECT max(o_totalprice) FROM orders WHERE o_custkey = ?",
                     p["key"])
        return (name, bal, top)
    if shape == "fanout":
        return [tuple(r) for r in tw.rows(
            "SELECT c_name, c_acctbal, (SELECT count(*) FROM orders "
            "WHERE o_custkey = c_custkey) FROM customer "
            "WHERE c_nationkey = ? AND c_acctbal > ? "
            "ORDER BY c_acctbal DESC, c_custkey LIMIT 5",
            p["nation"], float(p["min_bal"]))]
    if shape == "agg":
        name = tw.one("SELECT c_name FROM customer WHERE c_custkey = ?", p["key"])
        total = tw.one("SELECT sum(l_extendedprice) FROM orders JOIN lineitem "
                       "ON l_orderkey = o_orderkey WHERE o_custkey = ?", p["key"])
        return (name, total)
    if shape == "range":
        return tw.one("SELECT count(*) FROM orders WHERE o_orderdate BETWEEN "
                      "CAST(? AS TIMESTAMP) AND CAST(? AS TIMESTAMP) "
                      "AND o_totalprice > ?", p["lo"], p["hi"],
                      float(p["min_price"]))
    return [tuple(r) for r in tw.rows(
        "SELECT c_name, c_acctbal FROM customer WHERE c_acctbal > ? "
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 5", float(p["min_bal"]))]


def _read_ok(shape: str, res: dict, exp) -> bool:
    if shape == "graphql":
        rows = res["data"]["queryCustomer"]
        return [(r["c_name"], r["c_acctbal"]) for r in rows] == exp
    q = res.get("q", [])
    if shape == "range":
        return q == [{"n": exp}]
    if shape == "fanout":
        cust = q[0].get("cust", []) if len(q) == 1 else []
        return [(c["c_name"], c["c_acctbal"], c.get("n", 0)) for c in cust] == exp
    if len(q) != 1 or q[0].get("c_name") != exp[0]:
        return False
    if shape == "point":
        got = [o["o_totalprice"] for o in q[0].get("placed", [])]
        return (oracle.close(q[0].get("c_acctbal"), exp[1])
                and got == ([] if exp[2] is None else [exp[2]]))
    total = exp[1]  # agg
    return (total is None and "total" not in q[0]) or oracle.close(
        q[0].get("total"), total)


class Serving:
    """dgraph's request traffic on the sf0.1 graph: reads from a closed
    loop, writes in the warm-up and, in the traced run, a write chain.

    Reads: one client, with one Executor over the Graph, runs rounds of
    the five read shapes and starts no round after the deadline, so
    every counted request is part of a complete round and the shape mix
    is the same on every run. A round's wall time is the workload's
    ``pass_s``. With two clients, a request's latency depended on which
    request of the other client it overlapped, an alignment that drifted
    from run to run.

    Writes: the warm-up applies one mutation of each kind (scalar
    overwrite, new node on an existing edge) to the loaded graph and
    reads each back. The traced run then applies a chain of ``CHAIN``
    more, each to the graph version the previous one
    returned, for the ``mutations.*`` figures. The chain runs after the
    window, so it moves no end-to-end metric; it is left out of the
    untraced run, where it took a sixth of the run's time for figures
    that one chain per run cannot hold steady. Writes touch customers
    outside the read pools, on graph versions the readers never see, so
    every answer is fixed by the seed.
    """

    CHAIN = len(MUTATIONS)

    def __init__(self, seed: int, data_dir: str, tracer):
        self.seed, self.data_dir, self.tr = seed, data_dir, tracer
        rng = random.Random(seed)
        self.params = {s: [_read_params(rng, s) for _ in range(POOL)]
                       for s in SHAPES}
        # two per shape: the cold first request, then a warm-up round
        self.warm = {s: [_read_params(rng, s) for _ in range(2)] for s in SHAPES}
        taken = {p["key"] for ps in self.params.values() for p in ps if "key" in p}
        free = [k for k in range(N_CUST) if k not in taken]
        keys = rng.sample(free, len(MUTATIONS) + self.CHAIN)
        kinds = list(MUTATIONS) * 2  # the warm-up's writes, then the chain's
        self.writes = [self._write(rng, kind, key) for kind, key in zip(kinds, keys)]

    @staticmethod
    def _write(rng: random.Random, kind: str, key: int) -> dict:
        c = uid_of("customer", key)
        # every write is read back with the same query, so the read-backs
        # differ only in the lineage behind them
        w = {"kind": kind, "key": key,
             "read": "{ q(func: uid(%d)) { c_acctbal placed { uid } } }" % c}
        if kind == "overwrite":
            w["value"] = round(rng.uniform(-999, 7999), 2)
            w["mutation"] = '{ set { <%s> <c_acctbal> "%s" . } }' % (hex(c), w["value"])
        else:
            # a new node on an existing edge predicate: a write that adds
            # a predicate changes the schema every Executor shares
            w["node"] = hex(NEW_NODE_TAG << 40 | key)
            w["mutation"] = "{ set { <%s> <placed> <%s> . } }" % (hex(c), w["node"])
        return w

    def expect(self) -> None:
        tw = oracle.Twin(self.data_dir)
        try:
            for s in SHAPES:
                for p in self.params[s] + self.warm[s]:
                    p["expect"] = _read_expected(tw, s, p)
        finally:
            tw.close()

    def load(self, spark) -> None:
        self.spark = spark
        with self.tr.span("sources.load"):
            self.g = load_tpch_graph(spark, self.data_dir)
            # the lineitem uid relation is persisted: materialize it here,
            # as load work rather than request work
            _noop(self.g.pred("l_quantity"))

    # ------------------------------------------------------------ requests
    def _read(self, ex, shape: str, p: dict, op_id) -> Op:
        t0 = time.perf_counter()
        try:
            with self.tr.request(shape, op=op_id):
                if shape == "graphql":
                    with self.tr.span("graphql.execute"):
                        res = execute_graphql(self.g, _gql(p))
                else:
                    with self.tr.span("dql.parse"):
                        pq = parse_dql(_dql(shape, p))
                    with self.tr.span("plans.execute"):
                        res = ex.execute(pq)
        except Exception:  # a failed request counts; the loop goes on
            _fail(f"{shape} {p}")
            return Op(shape, time.perf_counter() - t0, ok=False)
        return Op(shape, time.perf_counter() - t0, result=res, expect=p["expect"])

    def _write_op(self, g, w: dict, op_id):
        """One mutate() + read-your-write; returns (new graph, Op)."""
        t0 = time.perf_counter()
        try:
            with self.tr.request("write", op=op_id):
                with self.tr.span("mutations.mutate"):
                    g = mutate(g, w["mutation"])
            t1 = time.perf_counter()
            with self.tr.request("ryw_read", op=op_id):
                with self.tr.span("dql.parse"):
                    pq = parse_dql(w["read"])
                with self.tr.span("plans.execute"):
                    res = Executor(g).execute(pq)
            t2 = time.perf_counter()
        except Exception:
            _fail(f"write {w['kind']}")
            return g, Op("write", time.perf_counter() - t0, ok=False)
        return g, Op("write", t2 - t0, result=res, expect=w,
                     parts={"write": t1 - t0, "read": t2 - t1})

    @staticmethod
    def _write_ok(res: dict, w: dict) -> bool:
        q = res.get("q", [])
        if len(q) != 1:
            return False
        if w["kind"] == "overwrite":
            return oracle.close(q[0].get("c_acctbal"), w["value"])
        placed = q[0].get("placed")
        return {"uid": w["node"]} in (placed if isinstance(placed, list) else [placed])

    # ------------------------------------------------------------- phases
    def warmup(self) -> list[Op]:
        """The first request of each read shape and one write of each
        kind, each on a thread of its own: first requests are bound by
        one-time plan compilation, which overlaps. Then one round of the
        read shapes as the window runs them: without it, each shape's
        first request in the window was 10-25% slower than its later
        ones, and the median read moved with the number of rounds."""
        def part(i: int) -> list[Op]:
            if i < len(SHAPES):
                s = SHAPES[i]
                return [self._read(Executor(self.g), s, self.warm[s][0], None)]
            return [self._write_op(self.g, self.writes[i - len(SHAPES)], None)[1]]

        ops = _in_threads(part, range(len(SHAPES) + len(MUTATIONS)))
        ex = Executor(self.g)
        return ops + [self._read(ex, s, self.warm[s][1], None) for s in SHAPES]

    def _reader(self, deadline: float) -> list[Op]:
        ex = Executor(self.g)
        ops, rnd = [], 0
        while time.perf_counter() < deadline:
            t0 = time.perf_counter()
            for s in SHAPES:
                p = self.params[s][rnd % POOL]
                ops.append(self._read(ex, s, p, f"r.{rnd}.{s}"))
            self.round_walls.append(time.perf_counter() - t0)
            rnd += 1
        return ops

    def _writer(self) -> list[Op]:
        g, ops = self.g, []
        for i, w in enumerate(self.writes[len(MUTATIONS):]):
            g, op = self._write_op(g, w, f"w.{i}")
            ops.append(op)
        self.last = g
        return ops

    def measure(self, deadline: float) -> list[Op]:
        """The read phase until the deadline, then, traced, the write chain."""
        t0 = time.perf_counter()
        self.round_walls = []
        ops = self._reader(deadline)
        self.read_s = time.perf_counter() - t0
        if self.tr.enabled:
            # the chain, too, starts on a collected heap
            self.spark._jvm.System.gc()
            t1 = time.perf_counter()
            ops += self._writer()
            self.chain_s = time.perf_counter() - t1
        return ops

    def verify(self, ops: list[Op]) -> None:
        for op in ops:
            if not op.ok:
                continue
            if op.kind == "write":
                op.ok = self._write_ok(op.result, op.expect)
            else:
                op.ok = _read_ok(op.kind, op.result, op.expect)
            if not op.ok:
                print(f"# MISMATCH {op.kind}: got {op.result} expected "
                      f"{op.expect}", file=sys.stderr)

    # ------------------------------------------------------------ figures
    def summary(self, ops: list[Op], window_s: float) -> tuple[dict, dict]:
        reads = [o.latency for o in ops if o.kind != "write"]
        writes = [o for o in ops if o.kind == "write" and o.ok]
        e2e = {"read_p50_s": (median(reads), "s"),
               "pass_s": (median(self.round_walls), "s"),
               "ops_per_s": (len(reads) / self.read_s, "1/s")}
        extra = {"reads": (len(reads), "count"),
                 "read_p90_s": (_quantile(reads, 0.9), "s")}
        if writes:
            extra.update({
                "write_p50_s": (median(o.parts["write"] for o in writes), "s"),
                "ryw_read_p50_s": (median(o.parts["read"] for o in writes), "s"),
                "write_chain_s": (self.chain_s, "s")})
        return e2e, extra

    def layers(self) -> dict:
        """Per-shape decomposition (traced run only). After the window
        each DQL shape is re-run as execute_flat (plan build) + collect,
        which splits its execute time into build / collect / assembly."""
        tr, out = self.tr, {}
        out["dql.parse_s"] = (median(tr.durations("dql.parse")), "s")
        ex = Executor(self.g)
        for s in SHAPES:
            reqs = [r for r in tr.requests if r["kind"] == s and r["op"]]
            ex_s = median(r["dur"] for r in reqs)
            out[f"plans.execute_s.{s}"] = (ex_s, "s")
            for k in ("jobs", "stages", "tasks"):
                out[f"spark.{k}_per_op.{s}"] = (median(r[k] for r in reqs), "count")
            if s == "graphql":
                for _ in range(3):
                    with tr.span("graphql.rewrite"):
                        graphql_to_dql(_gql(self.params[s][0]))
                out["graphql.rewrite_s"] = (median(tr.durations("graphql.rewrite")), "s")
                continue
            build, coll, scan = [], [], []
            for p in self.params[s][:3]:
                with tr.request(f"probe.{s}", op=None):
                    t0 = time.perf_counter()
                    with tr.span("plans.build"):
                        df = ex.execute_flat(_dql(s, p), "q" if s == "agg" else None)
                    t1 = time.perf_counter()
                    with tr.span("spark.collect"):
                        rows = df.collect()
                    t2 = time.perf_counter()
                build.append(t1 - t0)
                coll.append(t2 - t1)
                scan.append(scanned_rows(df) / max(1, len(rows)))
            out[f"plans.build_s.{s}"] = (median(build), "s")
            out[f"spark.collect_s.{s}"] = (median(coll), "s")
            out[f"plans.assembly_s.{s}"] = (ex_s - median(build) - median(coll), "s")
            out[f"plans.rows_scanned_per_result.{s}"] = (median(scan), "count")

        writes = [r for r in tr.requests if r["kind"] == "write" and r["op"]]
        ryw = {r["op"]: r["dur"] for r in tr.requests
               if r["kind"] == "ryw_read" and r["op"]}
        out["mutations.mutate_s"] = (median(r["dur"] for r in writes), "s")
        out["mutations.jobs_per_write"] = (median(r["jobs"] for r in writes), "count")
        # read-your-write latency after the chain's last write over that
        # after its first: the cost of the lineage the writes build up
        out["mutations.read_growth"] = (
            ryw[f"w.{self.CHAIN - 1}"] / ryw["w.0"], "ratio")
        out["mutations.lineage_nodes"] = (max(
            len(self.last.pred(p)._jdf.queryExecution().analyzed()
                .toString().splitlines())
            for p in ("c_acctbal", "placed")
            if self.last.has_pred(p)), "count")
        return out


# =================================================================== batch
ANALYTICS = ("connected_components", "q5_local_supplier")
GRAPH_ALGOS = {"connected_components"}
# prepare_corpus runs gopher_quality_filter as its first step
CORPUS = ("bm25_search", "prepare_corpus")


class Batch:
    """Passes over a fixed operator set, one client, each result forced
    through the noop sink with a content fingerprint observed on the way.

    A pass runs two graph-analytics registry queries (an iterative graph
    algorithm and a join-heavy DQL traversal) over the sf0.1 graph, then
    two corpus operators over the sf0.1 documents, one at a time: side
    by side, their latencies depended on which of them happened to
    overlap. Each pass's corpus drops one seed- and pass-chosen
    ``doc_id % 10`` residue, so it is a corpus the operators'
    corpus-keyed caches have not seen, as on a new crawl. The warm-up
    pass runs the corpus operators on a disjoint 10% slice."""

    NAMES = ANALYTICS + CORPUS

    def __init__(self, seed: int, data_dir: str, tracer):
        self.seed, self.data_dir, self.tr = seed, data_dir, tracer
        perm = list(range(10))
        random.Random(seed).shuffle(perm)
        self.warm_residue, self.residues = perm[0], perm[1:]
        self.sql = {n: resolve_sql(QUERIES[n][1]) for n in self.NAMES}

    @staticmethod
    def layer_of(name: str) -> str:
        if name in CORPUS:
            return "operators"
        return "graph_algos" if name in GRAPH_ALGOS else "plans"

    def _where(self, pass_no: int) -> str:
        if pass_no < 0:
            return f"doc_id % 10 = {self.warm_residue}"
        return f"doc_id % 10 <> {self.residues[pass_no % len(self.residues)]}"

    def expect(self) -> None:
        tw = oracle.Twin(self.data_dir, self._where(-1))
        try:
            self.warm_hashes = {n: tw.frame_hash(self.sql[n]) for n in self.NAMES}
        finally:
            tw.close()

    def load(self, spark) -> None:
        # the registry callables share one cached graph per (session, dir)
        from dgraph_spark.entry_queries import _g

        self.spark = spark
        with self.tr.span("sources.load"):
            _noop(_g(spark, self.data_dir).pred("l_quantity"))
            self.docs = spark.read.parquet(f"{self.data_dir}/documents.parquet")

    def build(self, name: str, pass_no: int):
        if name in ANALYTICS:
            return QUERIES[name][0](self.spark, self.data_dir)
        docs = self.docs.where(self._where(pass_no))
        # the same parameters as the registry entries of the same names
        if name == "bm25_search":
            return bm25_search(docs, "spark merge join scan", k=10)
        return prepare_corpus(docs)["corpus"].select(
            "doc_id", "source", "split", "n_tokens", "tok_offset",
            "first_seq", "last_seq")

    def force(self, name: str, pass_no: int) -> dict:
        """Build ``name`` and run it. The warm-up pass (``pass_no`` < 0)
        collects the rows and returns their hash; a measured pass writes
        them to the noop sink and returns the observed fingerprint."""
        df = self.build(name, pass_no)
        if pass_no < 0:
            with self.tr.span("spark.collect"):
                return {"hash": oracle.frame_hash(df.toPandas())}
        spec = oracle.fingerprint_spec(df.dtypes)
        obs = Observation(f"fp-{pass_no}-{name}")
        with self.tr.span("spark.noop_write"):
            _noop(df.observe(obs, *oracle.spark_fingerprint(spec)))
        return {"spec": spec, "fingerprint": obs.get}

    def run(self, names, pass_no: int) -> list[Op]:
        """Run ``names`` once. The warm-up pass (``pass_no`` < 0) collects
        each result for a hash check; measured passes write to noop."""
        ops = []
        for name in names:
            t0 = time.perf_counter()
            op_id = None if pass_no < 0 else f"{pass_no}.{name}"
            try:
                with self.tr.request(name, op=op_id):
                    with self.tr.span(self.layer_of(name)):
                        got = self.force(name, pass_no)
            except Exception:
                _fail(f"{name} pass {pass_no}")
                ops.append(Op(name, time.perf_counter() - t0, ok=False))
                continue
            ops.append(Op(name, time.perf_counter() - t0, result=got,
                          parts={"pass": pass_no}))
        return ops

    def warmup(self) -> list[Op]:
        """One thread per operator: the warm-up is bound by one-time plan
        compilation and Python worker start-up, which overlap."""
        return _in_threads(lambda name: self.run([name], -1), self.NAMES)

    def measure(self, deadline: float) -> list[Op]:
        """Whole passes until the deadline, each timed wall to wall."""
        ops, p, self.pass_walls = [], 0, []
        while time.perf_counter() < deadline:
            t0 = time.perf_counter()
            ops += self.run(self.NAMES, p)
            self.pass_walls.append(time.perf_counter() - t0)
            p += 1
        return ops

    def verify(self, ops: list[Op]) -> None:
        """Warm-up results by a hash of all their rows, measured results
        by their content fingerprint, each against DuckDB running the
        registry's oracle SQL over the same graph and corpus."""
        twins: dict[int, oracle.Twin] = {}
        try:
            for op in ops:
                if not op.ok:
                    continue
                p = op.parts["pass"]
                if p < 0:
                    got, want = op.result["hash"], self.warm_hashes[op.kind]
                    op.ok = got == want
                else:
                    # analytics results do not depend on the pass's corpus
                    key = p if op.kind in CORPUS else -1
                    if key not in twins:
                        twins[key] = oracle.Twin(
                            self.data_dir, self._where(key) if key >= 0 else None)
                    got = op.result["fingerprint"]
                    want = twins[key].fingerprint(self.sql[op.kind],
                                                  op.result["spec"])
                    op.ok = oracle.same_fingerprint(got, want)
                if not op.ok:
                    print(f"# MISMATCH {op.kind} pass {p}: got {got} "
                          f"expected {want}", file=sys.stderr)
        finally:
            for tw in twins.values():
                tw.close()

    def summary(self, ops: list[Op], window_s: float) -> tuple[dict, dict]:
        reads = [o.latency for o in ops if o.kind in ANALYTICS]
        corpus = [o.latency for o in ops if o.kind in CORPUS]
        e2e = {"read_p50_s": (median(reads), "s"),
               "pass_s": (median(self.pass_walls), "s"),
               "ops_per_s": (len(ops) / window_s, "1/s")}
        return e2e, {"passes": (len(self.pass_walls), "count"),
                     "read_p90_s": (_quantile(reads, 0.9), "s"),
                     "corpus_op_p50_s": (median(corpus), "s")}

    def layers(self) -> dict:
        out = {}
        for name in self.NAMES:
            reqs = [r for r in self.tr.requests if r["kind"] == name and r["op"]]
            out[f"{self.layer_of(name)}.{name}_s"] = (median(r["dur"] for r in reqs), "s")
            out[f"spark.jobs_per_op.{name}"] = (median(r["jobs"] for r in reqs), "count")
            out[f"spark.tasks_per_op.{name}"] = (median(r["tasks"] for r in reqs), "count")
        return out


WORKLOADS = {"serving": Serving, "batch": Batch}
