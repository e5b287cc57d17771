"""The query executor: DQL AST -> DataFrame plans -> results.

Mirrors the reference's execution lifecycle (SURVEY.md §3.1) Spark-first:

  - Block scheduling by variable dependency rounds
    (query/query.go:2899-2976 canExecute) — plain Python topo loop.
  - One traversal level == one uid-equality join
    (worker/task.go:1012 processTask).
  - Filters: AND = chained semi-joins, OR = union-distinct,
    NOT = anti-join (query/query.go:2310-2372; algo/uidlist.go).
  - Per-parent sort/pagination: window functions
    (worker/sort.go, query/query.go:2493 applyPagination).
  - @cascade defers pagination until after pruning
    (query/query.go:3004-3011).
  - One kernel builds the (subject, value) relation of val(),
    min/max/sum/avg(val()) and math() (_attr_value_df): a var binds it
    and _attr_output renders it under its output key, so a value and
    the var of the same aggregate agree. A var defined further down is
    carried up along the levels in between (_carry, query/query.go
    transformTo and evalLevelAgg).

Result modes:
  - execute() and execute_rdf() share one level encoder. A block runs
    one level at a time, like query/query.go ProcessGraph: each level's
    edge rows are collected once, and its uid set feeds the next level's
    scans — as a literal `subject IN (...)` filter while it has at most
    LITERAL_FRONTIER_MAX uids, through a semi-join against the level's
    relation above that. _encode then reads each level's attribute
    values in one collect and keeps them on the level; execute() builds
    dgraph-shaped nested dicts from them (query/outputnode.go ToJson),
    execute_rdf() writes N-Quads from the same values and edge rows
    (query/outputrdf.go ToRDF).
  - Var blocks run the same way, and the vars of a collected level with a
    literal uid set are bound on the driver, as dgraph keeps uid lists
    and uid -> value maps between scheduling rounds (query/query.go
    populateVarMap): a uid var as its uid list, which uid(v) roots and
    filters read as literals; a value var as a {uid: value} dict; an
    aggregate over val() folded from the collected child rows. val() and
    aggregate reads of a bound var need no Spark job. A level above
    LITERAL_FRONTIER_MAX uids and its subtree, a var block with @cascade,
    @recurse, shortest path or groupby or with no var to bind, a value
    var that a read other than val() needs (math, ordering, functions,
    uid()), and every var of execute_flat() keep the lazy binding (env).
  - execute_flat() -> flat DataFrame per block (oracle/hash-checkable):
    the lazy plan, lineage joins, one Spark plan per block.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import json
import re
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dgraph_spark.dql.ast import (
    Attr,
    Block,
    FuncCall,
    Order,
    ParsedQuery,
)
from dgraph_spark.dql.parser import parse_dql
from dgraph_spark.model import (FACETS, OBJECT, SUBJECT, VALUE, Graph,
                                SmallLoopConf)
from dgraph_spark.plans.functions import FuncCompiler, _isin, uid_frame
from dgraph_spark.plans.mathexpr import compile_math, math_vars

SRC = "_src"
DST = "_dst"
RANK = "_rank"
PATH = "_path"


# Relations at or under this row count may be broadcast in iterative
# joins; larger frontiers degrade to shuffle joins instead of OOMing the
# executors (same cap as operators/dedup.py).
BROADCAST_ROW_CAP = 2_000_000

# execute(): a collected level uid set of at most this many uids reaches
# the next level's scans as a literal `subject IN (...)` filter (one scan
# job, pushed into parquet on wide tables); a larger one semi-joins the
# level's own relation. Measured on the sf0.1 fixture (4 cores): the
# literal form wins clearly up to 1000 uids a level, and the two cross
# between 1500 and 3000, where the IN list's planning cost catches up.
LITERAL_FRONTIER_MAX = 1000

# uid output format, the one rendering of a uid (query/outputnode.go):
# 0x-hex of the unsigned 64-bit uid. Java's %x renders a negative long
# as its two's complement, so the driver side masks to 64 bits.
_UID_FMT = "0x%x"
_U64 = (1 << 64) - 1


def _uid_hex(u: int) -> str:
    return _UID_FMT % (u & _U64)


def _uid_hex_col(c: Column) -> Column:
    return F.format_string(_UID_FMT, c)

_POSTING_KEY_UDFS: dict = {}


def _df_snapshot(df: DataFrame):
    """Identity of a DataFrame's data for planning-metadata caches:
    (plan semantic hash, sorted input files + mtimes). The same scheme
    as operators/dedup._corpus_key — a swapped-in mutation result
    changes the plan hash, an in-place parquet rewrite changes the
    mtimes. None (no caching) when the handles aren't available."""
    import os as _os

    try:
        snap = []
        for f in df.inputFiles():
            p = f[7:] if f.startswith("file://") else f
            try:
                snap.append((f, _os.path.getmtime(p)))
            except OSError:
                snap.append((f, None))
        return (df._jdf.semanticHash(), tuple(sorted(snap)))
    except Exception:
        return None


def _posting_key_udf(typ: str):
    """Pandas UDF string-value -> signed posting sort key (see
    functions/farmhash.posting_order_key). One cached UDF per value type;
    Arrow-batched, only runs on rendered list-valued rows."""
    if typ not in _POSTING_KEY_UDFS:
        from dgraph_spark.functions.farmhash import make_posting_key_udf

        _POSTING_KEY_UDFS[typ] = make_posting_key_udf(typ)
    return _POSTING_KEY_UDFS[typ]


class ResourceLimitError(RuntimeError):
    """A query exceeded a configured resource guard (edge / var-size cap);
    mirrors the reference's hard errors (query/recurse.go:154,
    edgraph/server.go:1685) instead of running away at scale."""

_AGG_ATTRS = {"min", "max", "sum", "avg"}


def _agg_fn(name: str, bigfloat: bool = False):
    """The Spark aggregate behind min/max/sum/avg; over lexical bigfloat
    values the 200-bit one (functions/bigfloat.py)."""
    if bigfloat:
        from dgraph_spark.functions.bigfloat import bigfloat_agg

        return bigfloat_agg(name)
    return {"min": F.min, "max": F.max, "sum": F.sum, "avg": F.avg}[name]


_INROW_FILTER_FUNCS = {"eq", "le", "lt", "ge", "gt", "between", "has",
                       "anyofterms", "allofterms", "regexp", "match",
                       "anyoftext", "alloftext", "ngram"}


def _filter_value_preds(tree) -> set[str]:
    """Scalar predicate names compared by a FilterTree's value leaves —
    candidates to carry in-row on the traversal edge."""
    if tree.op == "func":
        f = tree.func
        if (f.pred and not f.pred.startswith("~") and not f.pred_lang
                and f.name.lower() in _INROW_FILTER_FUNCS
                and not any(a.is_count or a.is_val_var or a.is_len
                            for a in f.args)):
            return {f.pred}
        return set()
    return set().union(set(), *(_filter_value_preds(c) for c in tree.children))


@dataclass
class Level:
    """One executed block level: its (paginated) edges and child levels."""

    block: Block
    edges: DataFrame                  # columns: _src (null at root), _dst, [_rank], [facet cols], [_path]
    children: list["Level"] = field(default_factory=list)
    attr_items: list[Attr] = field(default_factory=list)
    defer_pagination: bool = False
    # when the frontier is a fused single-table scan: (home, condition) —
    # lets attr/var reads reuse that scan instead of self-joining
    fused: tuple[str, Column] | None = None
    # parent level (None at root) — used to propagate value variables
    # upward along the path (query/query.go:1143 transformTo)
    parent: "Level | None" = None
    # round 11: True when this level's edge DSTs are PROVABLY unique
    # (reverse traversal of a single-valued predicate from a distinct
    # parent set): _nodes/var-binding then skip the distinct shuffle —
    # on all-broadcast DQL plans that distinct's HashAggregate+Exchange
    # is the only exchange in the query (guide §2.4 "a distinct on data
    # that is already unique")
    dst_unique: bool = False
    # round 11: pure replay of this level's edge pipeline (anchor join
    # -> facet filter -> @filter -> pagination) against an arbitrary
    # anchor relation that carries extra columns. _flat_level uses it
    # as a compiler let-binding: anchoring the child edges on the
    # already-built parent frame removes the assembly re-join and the
    # duplicated parent-lineage subtree it would replan. Returns None
    # on column-name collisions (caller falls back to the join).
    edge_rebuild: "callable | None" = None
    # execute() only: the level's collected edge rows (dicts with _dst,
    # _rank, [_src], [facets], [_a_* in-row columns]), and — when at most
    # LITERAL_FRONTIER_MAX — its distinct uids plus a literal relation of
    # them, which _nodes() then returns
    rows: list[dict] | None = None
    uids: list[int] | None = None
    nodes: DataFrame | None = None
    # (attr, row key) of attrs a fused root collected with its rows
    row_attrs: list = field(default_factory=list)
    depth: int = 0
    # set by _encode: uid -> raw attribute values (bigfloats as their
    # lexical text) of every node that survives @cascade, and id(attr) ->
    # the key each attr's values sit under — what execute_rdf() writes
    values: dict | None = None
    attr_keys: dict = field(default_factory=dict)
    # a var block level (execute(), execute_rdf()): collected only when
    # its subtree binds a var on the driver
    binds_only: bool = False


class Executor:
    def __init__(self, graph: Graph, max_recurse_depth: int = 10,
                 limit_query_edge: int = 1_000_000,
                 max_var_size: int = 1_000_000):
        self.g = graph
        self.spark = graph.spark
        self.max_recurse_depth = max_recurse_depth
        # resource guards: cumulative traversed-edge cap for iterative
        # queries (x.Config.LimitQueryEdge; query/recurse.go:154,
        # query/shortest.go:231) and per-variable uid cap
        # (edgraph/server.go:1685 "over million UIDs"). Without these a
        # runaway @recurse or k-shortest silently OOMs the driver at 100x.
        self.limit_query_edge = limit_query_edge
        self.max_var_size = max_var_size
        # (facet key, snapshot of the probed relation) -> a sample value
        # (_typed_facet); lives across requests
        self._facet_type_cache: dict = {}
        self._reset_query_state()

    def _reset_query_state(self) -> None:
        """Clear per-QUERY variable bindings so one Executor can serve many
        queries (a long-lived session, the golden sweep, the bench). Vars
        are scoped to a single request in the reference too
        (query/query.go Request.vars is per-Process); leaking them across
        executes silently rebinds same-named vars to stale domains."""
        self.env: dict[str, DataFrame] = {}
        # var name -> (edges DF of defining level) for level-aggregation
        self.var_edges: dict[str, DataFrame] = {}
        # var name -> Level where it was defined (for multi-level
        # upward propagation, transformTo semantics)
        self.var_level: dict[str, Level] = {}
        # var name -> defining aggregate ("min"/"max"/"sum"/"avg") for
        # vars defined as `m as min(val(x))`; lets a later scalar
        # consumer re-collapse with the RIGHT aggregate, not a blanket
        # SUM (query/query.go aggregateGroup semantics)
        self.var_agg: dict[str, str] = {}
        # vars holding ONE aggregate value (count(uid) / root aggs):
        # math() applies them to every node (query/math.go:77
        # checkAggrResult "applied to all")
        self.scalar_vars: set[str] = set()
        # var name -> "block" | "edge_attr" | "value" (how it was bound;
        # drives post-@cascade re-binding)
        self.var_kind: dict[str, str] = {}
        # var name -> in-row column name on var_edges[name] holding the
        # var's value (set when `v as pred` rode along the traversal
        # join): per-parent aggregation reads the edge relation directly
        # instead of re-joining the node table — one lineage instead of
        # three for the level-agg pattern
        self.var_inrow: dict[str, str] = {}
        # vars bound on the driver from a collected level (execute() and
        # execute_rdf()), beside their lazy plans in `env`: uid var ->
        # sorted uid list (`env` then holds its literal relation), value
        # var -> {uid: value} (query/query.go populateVarMap)
        self.var_uids: dict[str, list[int]] = {}
        self.var_vals: dict[str, dict] = {}
        # value vars whose lexical strings are 200-bit bigfloats: math,
        # aggregation, ordering and rendering route through
        # functions/bigfloat.py instead of native column arithmetic
        self.var_bigfloat: set[str] = set()
        # blocks run so far (_truncate_new_vars)
        self._blocks_run = 0
        # vars some block consumes, those read by val() and aggregates
        # over it, which a driver-bound map serves, and those read any
        # other way (_query_reads; all three set by _scheduled)
        self._consumed_vars: set[str] = set()
        self._driver_reads: set[str] = set()
        self._lazy_reads: set[str] = set()
        # alias of the block being run (job descriptions)
        self._block_alias = None
        # (home, condition) of the last root frontier that was one fused
        # wide-table scan (_root_frontier -> _descend)
        self._last_fused = None
        # the last shortest-path result and its weight keys (_run_shortest)
        self._last_shortest = None
        self._last_shortest_wkeys: dict = {}

    # ================================================================ public
    def execute(self, query: str | ParsedQuery, vars: dict | None = None) -> dict:
        """Run a full DQL query; returns {block_alias: [node dicts...]}."""
        out: dict[str, list] = {}
        for block in self._scheduled(query, vars):
            if block.is_schema:
                if block.schema_types:
                    t = self._schema_types_json(block)
                    if t:  # unknown types: key omitted entirely
                        out["types"] = t
                else:
                    out["schema"] = self._schema_json(block)
            elif block.is_var_block:
                self._tracked(self._run_var_block, block)
            elif (result := self._tracked(self._block_json, block)) is not None:
                out[block.alias] = result
        return out

    def _scheduled(self, query: str | ParsedQuery, vars: dict | None,
                   rdf: bool = False) -> list[Block]:
        """The one block driver of execute/execute_flat/execute_rdf:
        reset the per-query state, parse, validate and propagate
        @cascade, collect the vars other blocks consume, and return the
        blocks in dependency order."""
        self._reset_query_state()
        pq = parse_dql(query, vars) if isinstance(query, str) else query
        if rdf:
            for b in pq.blocks:
                self._rdf_validate(b)
        for b in pq.blocks:
            _validate_block_tree(b)
            _propagate_cascade(b)
        self._consumed_vars = set().union(set(), *(_block_needs(b) for b in pq.blocks))
        self._driver_reads, self._lazy_reads = _query_reads(pq.blocks)
        return self._schedule(pq.blocks)

    def _tracked(self, run, block: Block):
        """``run(block)``, then truncate the lineage of the vars it bound."""
        before = frozenset(self.env)
        result = run(block)
        self._truncate_new_vars(before)
        return result

    # blocks executed before var lineage-truncation kicks in: short
    # queries (1-2 blocks) keep full plan fusion; deep chains get flat
    # per-block plans
    _VAR_TRUNCATE_AFTER = 2

    def _truncate_new_vars(self, before: frozenset) -> None:
        """Variables are MATERIALIZED uid/value lists in the reference
        (query/query.go assigns DestUIDs per block); lazily checkpointing
        each block's new vars keeps later blocks' plans flat — without
        this, a deep multi-block var chain (e.g. LDBC IC05: six levels of
        vars each referenced several times) makes Catalyst re-analyze the
        shared subtrees combinatorially, which looks like a hang. Only
        applied from the third block on, so one-var queries keep their
        fully-fused single plan."""
        self._blocks_run += 1
        if self._blocks_run <= self._VAR_TRUNCATE_AFTER:
            return
        for k, v in list(self.env.items()):
            # a var bound on the driver is already a literal relation
            if k not in before and v is not None and k not in self.var_uids:
                self.env[k] = v.localCheckpoint(eager=False)

    def _schema_json(self, block: Block) -> list:
        """schema(pred: [...]) {...} introspection
        (edgraph/server.go:1630-1648)."""
        names = block.schema_preds or sorted(self.g.preds)
        fields = {a.name for a in block.children if isinstance(a, Attr)} or {
            "type", "index", "tokenizer", "list", "lang", "reverse", "count",
        }
        out = []
        for n in names:
            if not self.g.schema.has(n) and not self.g.has_pred(n):
                continue
            p = self.g.schema.get(n)
            row: dict = {"predicate": n}
            if "type" in fields:
                row["type"] = p.typ
            if "index" in fields and p.indexes:
                # false is OMITTED, not rendered (pb.SchemaNode zero value)
                row["index"] = True
            if "tokenizer" in fields and p.indexes:
                row["tokenizer"] = list(p.indexes)
            if "list" in fields and p.list:
                row["list"] = True
            if "lang" in fields and p.lang:
                row["lang"] = True
            if "reverse" in fields and p.reverse:
                row["reverse"] = True
            if "count" in fields and p.count:
                row["count"] = True
            out.append(row)
        return out

    def _schema_types_json(self, block: Block) -> list:
        """schema(type: [...]) {} — type definitions, alphabetical
        (edgraph/server.go getSchema type branch)."""
        out = []
        for t in sorted(set(block.schema_types)):
            preds = self.g.schema.type_preds(t)
            if not preds:
                continue
            out.append({"fields": [{"name": p} for p in preds], "name": t})
        return out

    def execute_flat(self, query: str | ParsedQuery, block_alias: str | None = None,
                     vars: dict | None = None) -> DataFrame:
        """Run a query, return ONE block's result as a flat DataFrame
        (lineage joins; aliased scalar columns). Used by the oracle gate."""
        for block in self._scheduled(query, vars):
            if not block.is_var_block and block_alias in (None, block.alias):
                return self._block_flat(block)
            self._tracked(self._run_block, block)  # still run (may define vars)
        raise KeyError(f"block {block_alias!r} not found")

    # =========================================================== RDF output
    def execute_rdf(self, query: str | ParsedQuery, vars: dict | None = None) -> str:
        """Query results as N-Quads (query/outputrdf.go ToRDF).

        Each rendered block runs level at a time and is encoded exactly as
        in execute(); the N-Quads are then written on the driver from the
        encoded levels (_rdf_level). Var and shortest-path blocks run for
        their variables and write nothing, as in execute(). Values render
        with valToBytes quoting (_rdf_object). Unsupported directives raise
        the reference's exact error strings (outputrdf.go
        validateSubGraphForRDF)."""
        lines: list[str] = []
        for block in self._scheduled(query, vars, rdf=True):
            if block.is_schema:
                continue
            if block.is_var_block:
                self._tracked(self._run_var_block, block)
                continue
            if block.shortest is not None:
                self._tracked(self._run_block, block)
                continue
            self._block_alias = block.alias
            level = self._tracked(
                lambda b: self._run_block(b, collect=True), block)
            if level is not None:
                self._encode(level)
                roots = self._reached(level, None).get(None, [])
                self._rdf_level(level, sorted({r[DST] for r in roots}), lines)
        return "".join(lines)

    def _rdf_validate(self, block: Block) -> None:
        def facet_out(spec) -> bool:
            return spec is not None and bool(
                spec.all or spec.keys or spec.order or spec.vars)

        if block.groupby is not None:
            raise ValueError("groupby is not supported in rdf output format")
        if block.normalize:
            raise ValueError(
                "normalize directive is not supported in the rdf output format")
        if block.ignorereflex:
            raise ValueError(
                "ignorereflex directive is not supported in the rdf output format")
        if block.func is not None and block.func.name.lower() == "checkpwd":
            raise ValueError(
                "chkpwd function is not supported in the rdf output format")
        if facet_out(block.facets):
            raise ValueError("facets are not supported in the rdf output format")
        for c in block.children:
            if isinstance(c, Attr):
                if c.is_count and c.name == "uid":
                    raise ValueError(
                        "uid count is not supported in the rdf output format")
                if c.pwd is not None:
                    raise ValueError(
                        "chkpwd function is not supported in the rdf output format")
                if facet_out(c.facets):
                    raise ValueError(
                        "facets are not supported in the rdf output format")
            else:
                self._rdf_validate(c)

    def _rdf_level(self, level: Level, subjects: list[int],
                   lines: list[str]) -> None:
        """castToRDF over one encoded level: its attrs and uid children in
        query order, then the child levels expand() or @recurse
        synthesized. An attr's values go by ascending subject, a list
        value in posting order; a uid child's edges go by subject, then
        posting (sorted/paginated) order, followed by the child's own
        level."""
        levels = {id(cl.block): cl for cl in level.children}
        queried = {id(c) for c in level.block.children}
        for c in level.block.children + [cl.block for cl in level.children
                                         if id(cl.block) not in queried]:
            child = levels.get(id(c))
            if child is not None:
                groups = self._reached(child, set(subjects))
                for src in sorted(groups):
                    lines.extend(
                        f"<{_uid_hex(src)}> <{_child_name(c)}> <{_uid_hex(r[DST])}> .\n"
                        for r in groups[src])
                self._rdf_level(child, sorted({r[DST] for rs in groups.values() for r in rs}),
                                lines)
                continue
            key = level.attr_keys.get(id(c))
            if key is None or (c.name == "uid" and not c.is_count):
                continue  # outputrdf.go: RDF for the `uid` attribute is ignored
            for u in subjects:
                v = level.values[u].get(key)
                lines.extend(f"<{_uid_hex(u)}> <{key}> {_rdf_object(x)} .\n"
                             for x in (v if isinstance(v, list) else [v])
                             if x is not None)

    # ============================================================ scheduling
    def _schedule(self, blocks: list[Block]) -> list[Block]:
        """Dependency-ordered rounds (query/query.go:2899 canExecute)."""
        remaining = list(blocks)
        ordered: list[Block] = []
        defined: set[str] = set()
        while remaining:
            ready = [b for b in remaining if _block_needs(b) <= defined]
            if not ready:
                missing = sorted(
                    set().union(*(_block_needs(b) for b in remaining)) - defined
                )
                raise ValueError(
                    f"circular/undefined variable dependency: missing vars {missing}; "
                    f"blocked blocks={[b.alias for b in remaining]}"
                )
            for b in ready:
                ordered.append(b)
                defined |= _block_defines(b)
                remaining.remove(b)
        return ordered

    # ========================================================== block driver
    def _run_block(self, block: Block, collect: bool = False,
                   binds_only: bool = False) -> Level | None:
        """Execute one top-level block tree, registering variables.
        ``collect``: materialize every level on the driver as it is
        reached (execute()'s level-at-a-time mode, see _collect_level);
        ``binds_only``: collect only for var binding (Level.binds_only)."""
        if block.shortest is not None:
            return self._run_shortest(block)
        frontier = self._root_frontier(block)
        if frontier is None:
            if block.func is None:
                # empty-uid var block of aggregates: evaluate for the var
                # side effects (env registration), discard the JSON
                self._agg_only_json(block)
            return None
        level = self._descend(block, frontier, root=True, collect=collect,
                              binds_only=binds_only)
        if level is not None and _has_cascade(block):
            # the reference prunes the subgraph BEFORE variable assignment
            # (query.go Process: applyCascade then valueVarAggregation) —
            # vars defined under @cascade hold only surviving nodes. Only
            # pay the pruning pass when another block consumes such a var.
            defs = _block_defines(block) & self._consumed_vars
            if defs:
                self._cascade_rebind(level, defs)
        return level

    def _run_var_block(self, block: Block) -> None:
        """Run a var block of execute()/execute_rdf() for its variables.
        It runs level at a time like a rendered block, and each level of
        at most LITERAL_FRONTIER_MAX uids binds its vars on the driver
        (_encode with render=False); a larger level keeps lazy bindings.
        Only levels whose subtree binds a var are collected (Level.
        binds_only), and a level of more rows than the cap is left
        uncollected, with its subtree. A block with @cascade, @recurse,
        shortest path or groupby, or with no var to bind, runs lazily."""
        self._block_alias = block.alias
        lazy = (block.shortest is not None or block.recurse is not None
                or block.groupby is not None or _has_cascade(block)
                or not self._binds_any(block, strict=True))
        level = self._run_block(block, collect=not lazy, binds_only=True)
        if level is not None and level.rows is not None:
            self._encode(level, render=False)

    def _binds_any(self, b: Block, strict: bool) -> bool:
        """Whether a block subtree defines a var that binds on the driver: a
        block's uid var that another block reads (its consumers read the
        literal list), or a value var that val() reads need
        (_binds_on_driver). ``strict`` (whether to collect a var block
        at all) leaves out a value var some other read needs too: that
        consumer re-runs its lazy plan anyway. Under a collected root
        such a var still binds, for its val() reads."""
        return b.var in self._consumed_vars or any(
            self._binds_any(c, strict) if isinstance(c, Block)
            else (c.var in self._driver_reads and self._binds_on_driver(c)
                  and not (strict and c.var in self._lazy_reads))
            for c in b.children)

    def _root_frontier(self, block: Block) -> DataFrame | None:
        fc = FuncCompiler(self.g, self.env, self.var_uids)
        if block.func is None:
            # aggregation-only block reading vars: no frontier
            return None
        # eq(len(v), n) at root — driver-side cardinality check
        lf = _len_func(block.func)
        if lf is not None:
            return self._len_frontier(block.func)
        # Fusion fast path: root function AND the whole filter tree live on
        # one wide node table -> a single pushed-down scan, zero joins.
        frontier = None
        self._last_fused = None
        root_cond = fc.value_condition(block.func)
        if (root_cond is not None and block.func.name.lower() == "uid"
                and any(isinstance(a, Attr) and a.name == "uid" and not a.is_count
                        for a in block.children)):
            # uid(literals) + a bare `uid` attr: the reference renders the
            # uid for NONEXISTENT uids too (no storage check on the root
            # list, query/outputnode.go) — the existence-filtering fused
            # scan would drop them; take the literal-frame outer path.
            root_cond = None
        if root_cond is not None:
            home, cond = root_cond
            if block.filter is None:
                frontier = self.g.wide[home].where(cond).select(F.col(SUBJECT).alias(DST))
                self._last_fused = (home, cond)
            else:
                fused = fc.fuse_tree(block.filter)
                if fused is not None and fused[0] == home:
                    full = cond & fused[1]
                    frontier = (
                        self.g.wide[home].where(full).select(F.col(SUBJECT).alias(DST))
                    )
                    self._last_fused = (home, full)
        if frontier is None:
            rooted = fc.root(block.func)
            keep = [F.col(SUBJECT).alias(DST)] + [
                F.col(c) for c in rooted.columns if c == "_frank"
            ]
            frontier = rooted.select(*keep)
            if block.filter is not None:
                frontier = self._apply_filter(block.filter, frontier)
        if block.ignorereflex:
            frontier = frontier.withColumn(PATH, F.array(F.col(DST)))
        return frontier

    def _cascade_rebind(self, top: Level, var_names: set[str]) -> None:
        """Prune a @cascade subtree's Level edges relationally (bottom-up
        survivor sets, then top-down edge restriction) and re-bind the
        given vars from the pruned sets — mirroring the reference's order
        of applyCascade before valueVarAggregation (query/query.go
        ProcessGraph pipeline)."""
        surv: dict[int, DataFrame] = {}

        def required(casc, name: str, out: str) -> bool:
            return casc is not None and (not casc or name in casc or out in casc)

        def survivors(level: Level) -> DataFrame:
            if id(level) in surv:
                return surv[id(level)]
            nodes = level.edges.select(F.col(DST).alias(SUBJECT)).distinct()
            casc = level.block.cascade
            if casc is not None:
                for a in level.attr_items:
                    if (not isinstance(a, Attr) or a.name == "uid" or a.is_count
                            or a.math is not None or a.expand is not None):
                        continue
                    if not required(casc, a.name, a.out_name):
                        continue
                    base = a.name.lstrip("~")
                    if self.g.has_pred(base) and self.g.schema.get(base).is_uid:
                        req = self.g.edge(
                            base, reverse=a.name.startswith("~")).select(SUBJECT)
                    elif a.val_var is not None:
                        v = self.env.get(a.val_var)
                        req = None if v is None else v.where(
                            F.col(VALUE).isNotNull()).select(SUBJECT)
                    else:
                        vdf = self._attr_value_df(a, nodes, level)
                        req = None if vdf is None else vdf.where(
                            F.col(VALUE).isNotNull()).select(SUBJECT)
                    if req is not None:
                        nodes = nodes.join(req.distinct(), SUBJECT, "left_semi")
                for ch in level.children:
                    cb = ch.block
                    if not required(casc, cb.attr, cb.alias):
                        continue
                    alive_ch = survivors(ch)
                    ok = (ch.edges
                          .join(alive_ch.select(F.col(SUBJECT).alias(DST)),
                                DST, "left_semi")
                          .select(F.col(SRC).alias(SUBJECT)).distinct())
                    nodes = nodes.join(ok, SUBJECT, "left_semi")
            surv[id(level)] = nodes
            return nodes

        def prune(level: Level, parent_alive: DataFrame | None) -> None:
            e = level.edges
            if parent_alive is not None and SRC in e.columns:
                e = e.join(parent_alive.select(F.col(SUBJECT).alias(SRC)),
                           SRC, "left_semi")
            alive = survivors(level)
            level.edges = e.join(alive.select(F.col(SUBJECT).alias(DST)),
                                 DST, "left_semi")
            # the pruned edge set diverges from what a replay closure
            # would rebuild — never let one survive a rewrite
            level.edge_rebuild = None
            for ch in level.children:
                prune(ch, alive)

        prune(top, None)
        in_subtree: dict[int, Level] = {}
        stack = [top]
        while stack:
            l = stack.pop()
            in_subtree[id(l)] = l
            stack.extend(l.children)
        for name in var_names:
            lvl = self.var_level.get(name)
            if lvl is None or id(lvl) not in in_subtree:
                continue
            alive = lvl.edges.select(F.col(DST).alias(SUBJECT)).distinct()
            # the pruned binding replaces any bound before pruning
            self.var_uids.pop(name, None)
            self.var_vals.pop(name, None)
            kind = self.var_kind.get(name)
            if kind == "block":
                self.env[name] = alive
                self.var_edges[name] = lvl.edges
            elif kind == "edge_attr":
                ve = self.var_edges.get(name)
                if ve is not None:
                    nve = ve.join(alive.select(F.col(SUBJECT).alias(SRC)),
                                  SRC, "left_semi")
                    self.var_edges[name] = nve
                    self.env[name] = nve.select(
                        F.col(DST).alias(SUBJECT)).distinct()
            elif kind == "value" and name in self.env:
                self.env[name] = self.env[name].join(alive, SUBJECT, "left_semi")
                # the narrowed domain no longer matches the raw edge
                # relation — disable the in-row aggregation fast path
                self.var_inrow.pop(name, None)

    def _len_frontier(self, f: FuncCall) -> DataFrame:
        var = next(a for a in f.args if a.is_len)
        n = int(f.literals()[0])
        vdf = self.env[str(var.value)]
        cnt = vdf.select(SUBJECT).distinct().count()
        ok = {
            "eq": cnt == n, "le": cnt <= n, "lt": cnt < n,
            "ge": cnt >= n, "gt": cnt > n,
        }[f.name.lower()]
        if ok:
            return vdf.select(F.col(SUBJECT).alias(DST)).distinct()
        return self.spark.createDataFrame([], f"{DST} long")

    def _empty_edges(self) -> DataFrame:
        """Empty child level for unknown predicates (dgraph returns empty
        results, not errors, for absent predicates)."""
        return self.spark.createDataFrame([], f"{SRC} long, {DST} long").withColumn(
            RANK, F.col(DST)
        )

    def _apply_filter(self, tree, frontier: DataFrame) -> DataFrame:
        fc = FuncCompiler(self.g, self.env, self.var_uids)
        # a bare root frontier (just a distinct uid column, no edge
        # provenance / rank to preserve) IS its own candidate set: the
        # filtered candidates are the answer — skip the re-distinct and
        # the second semi-join back onto the frontier
        bare = set(frontier.columns) == {DST}
        cands = frontier.select(F.col(DST).alias(SUBJECT))
        if not bare:
            cands = cands.distinct()
        kept = fc.filter(tree, cands).select(F.col(SUBJECT).alias(DST))
        if bare:
            return kept
        return frontier.join(kept, DST, "left_semi")

    # ============================================================== descent
    def _descend(self, block: Block, frontier: DataFrame, root: bool,
                 parent: "Level | None" = None,
                 dst_unique: bool = False, collect: bool = False,
                 binds_only: bool = False) -> Level:
        """frontier: DataFrame with column _dst (+ _src when child level).

        Applies sort/pagination (unless deferred for cascade), registers
        block-level uid var, recurses into children. A level is collected
        before its children descend when ``collect`` (root) or its parent
        was collected, and, in a ``binds_only`` block, its subtree binds a
        var on the driver.
        """
        if block.recurse is not None:
            return self._descend_recurse(block, frontier)

        subtree_cascade = _has_cascade(block)
        level = Level(block=block, edges=frontier, defer_pagination=subtree_cascade,
                      parent=parent, dst_unique=dst_unique,
                      depth=0 if parent is None else parent.depth + 1,
                      binds_only=binds_only if parent is None else parent.binds_only)

        # facet variables @facets(w as weight): registered BEFORE any
        # child descends so math() at this or deeper levels can resolve
        # them (query/query.go:1550); computed on the pre-pagination edge
        # set (pagination does not affect variables).
        if block.facets is not None and block.facets.vars and "facets" in frontier.columns:
            for var, key in block.facets.vars.items():
                texpr, tagg, _tk = self._typed_facet(frontier, key)
                vdf = (
                    frontier.select(F.col(DST).alias(SUBJECT),
                                    texpr.alias(VALUE))
                    # an edge without the facet contributes NOTHING — it
                    # must not enter the var's uid domain
                    # (query/query.go:1697 only edges carrying the facet)
                    .where(F.col(VALUE).isNotNull())
                    .groupBy(SUBJECT).agg(tagg(VALUE).alias(VALUE))
                )
                self.env[var] = vdf
                self.var_edges[var] = frontier
                self.var_level[var] = level
        if root and self._last_fused is not None:
            # scan reuse is only sound while the node set is exactly the
            # fused scan's row set — pagination/order re-shapes it
            if not (block.first is not None or block.offset is not None
                    or block.after is not None or subtree_cascade):
                level.fused = self._last_fused

        if not subtree_cascade:
            level.edges = self._sort_paginate(block, level.edges, root=root)

        # register block-level uid variable (DestUIDs)
        if block.var:
            vdom = level.edges.select(F.col(DST).alias(SUBJECT))
            self.env[block.var] = vdom if dst_unique else vdom.distinct()
            self.var_edges[block.var] = level.edges
            self.var_level[block.var] = level
            self.var_kind[block.var] = "block"

        if block.groupby is None and (
                collect if parent is None else parent.rows is not None) and (
                not level.binds_only or self._binds_any(block, strict=False)):
            cap = None
            if level.binds_only:
                # a var block level above the cap keeps its lazy binding,
                # bar a root uid(...) of literals and bound vars (known size)
                uids = (FuncCompiler(self.g, self.env, self.var_uids).uid_list(block.func)
                        if root and block.func.name.lower() == "uid" else None)
                if uids is None or len(uids) > LITERAL_FRONTIER_MAX:
                    cap = LITERAL_FRONTIER_MAX
            self._collect_level(level, root, cap)
        if block.var and level.uids is not None:
            # the level's collected uid list is the var (DestUIDs); its
            # consumers read the list, not the level's plan
            self.var_uids[block.var] = sorted(level.uids)
            self.env[block.var] = uid_frame(self.spark, self.var_uids[block.var])
        nodes = self._nodes(level)

        # groupby blocks: no recursion below (aggregates only)
        if block.groupby is not None:
            level.attr_items = [c for c in block.children if isinstance(c, Attr)]
            if any(a.var for a in level.attr_items):
                # groupby vars (a as count(uid)) must exist even when the
                # block is a var block that never renders
                self._groupby_build(level, per_parent=not root)
            return level

        for child in block.children:
            if isinstance(child, Attr):
                if child.expand is not None:
                    self._expand_into_level(child, level, nodes)
                    continue
                level.attr_items.append(child)
                self._register_attr_var(child, nodes, level)
                continue
            child_level = self._expand_child(child, level)
            if child_level is not None:
                level.children.append(child_level)
        return level

    def _expand_into_level(self, attr: Attr, level: Level, nodes: DataFrame) -> None:
        """expand(_all_/Type/val(v)) — runtime schema discovery, then
        per-pred child synthesis exactly like the reference
        (query/query.go:2038-2152 expandSubgraph): scalar predicates
        become plain attrs of THIS level (flattened into the node JSON,
        and batched into the same wide-table scan as explicit attrs);
        uid predicates become child blocks carrying the expand's nested
        body. A bare expand leaves uid-pred children empty, and empty
        nodes are omitted from the JSON (dgraph behavior)."""
        if attr.expand == "_all_":
            types = [
                r[VALUE]
                for r in self._restrict(nodes, self.g.node_types(), level)
                .select(VALUE).distinct().collect()
            ]
            preds: list[str] = []
            for t in types:
                preds.extend(self.g.schema.type_preds(t))
        elif attr.expand.startswith("val:"):
            # expand(val(v)): the value var's VALUES are predicate names
            # (query/query.go:1823-1830 ExpandPreds)
            vdf = self.env.get(attr.expand[4:])
            preds = ([] if vdf is None else
                     [r[VALUE] for r in vdf.select(VALUE).distinct().collect()])
        else:
            preds = []
            for t in attr.expand.split(","):
                preds.extend(self.g.schema.type_preds(t.strip()))
        # an expanded predicate that collides with an explicitly-requested
        # sibling is an error, not a dedup (query/query.go:2144 isSimilar;
        # count() siblings are dissimilar and never collide)
        requested = {a.name for a in level.block.children
                     if isinstance(a, Attr) and not a.is_count
                     and not a.expand and a.name != "uid"}
        requested |= {("~" if b.reverse else "") + b.attr
                      for b in level.block.children
                      if isinstance(b, Block) and b.attr}
        body = attr.expand_body
        for p in dict.fromkeys(preds):
            rev = p.startswith("~")
            base = p.lstrip("~")
            if p in requested:
                raise ValueError(
                    f"Repeated subgraph: [{p}] while using expand()")
            if not self.g.has_pred(base):
                continue
            if not rev and not self.g.schema.get(base).is_uid:
                if attr.filter is None:
                    # with @filter on the expand, scalar values have no
                    # node to test — they drop out entirely
                    # (query/query.go filtered expand keeps uid preds only)
                    # @lang preds expand to every language variant
                    # (`model@jp` siblings, query/query.go expandAll langs)
                    # Expanded predicates render ALL their facets
                    # (`name|kind` siblings — query_facets_test.go
                    # TestFacetsWithExpand / TestTypeExpandFacets)
                    from dgraph_spark.dql.ast import FacetsSpec

                    langs = ["*"] if self.g.schema.get(base).lang else []
                    level.attr_items.append(
                        Attr(name=p, langs=langs, facets=FacetsSpec(all=True)))
                continue
            children = list(body.children) if body is not None else []
            if not children:
                # bare expand: uid-pred children would be empty nodes ->
                # omitted entirely (reference prunes empty subgraphs)
                continue
            synth = Block(alias=p, attr=base, reverse=rev, children=children,
                          filter=attr.filter)
            child_level = self._expand_child(synth, level)
            if child_level is not None:
                level.children.append(child_level)

    def _expand_child(self, child: Block, parent: Level) -> Level | None:
        """One traversal level: parent dst uids -> child edges via join."""
        pred = child.attr
        if pred == "expand":
            return None
        if not self.g.has_pred(pred):
            # unknown predicate: empty result, but still DESCEND so vars
            # defined in the subtree (`f as uid`) bind to empty relations
            # instead of staying undefined (dgraph assigns empty DestUIDs)
            return self._descend(child, self._empty_edges(), root=False,
                                 parent=parent)
        if not self.g.schema.get(pred).is_uid:
            # scalar predicate written in block position — treat as attr
            parent.attr_items.append(Attr(name=pred, alias=child.alias if child.alias != pred else None))
            return None

        edges = self.g.edge(pred, reverse=child.reverse)
        facet_cols = [F.col("facets")] if "facets" in edges.columns else []
        # in-row attribute fusion: when this edge is derived from the
        # destination side's node table, the child's scalar attrs and
        # order keys ride along in the traversal join — no second scan,
        # no self-join of the node table
        inrow_cols: list[str] = []
        _src_h, dst_h = self.g.edge_side_homes(pred, child.reverse)
        if dst_h is not None and child.cascade is None:
            wanted = {
                a.name for a in child.children
                if isinstance(a, Attr) and self._is_plain_scalar(a)
            }
            wanted |= {o.key for o in child.order if not o.is_var and not o.is_facet}
            if child.filter is not None:
                # scalars the child @filter compares also ride in-row, so
                # the whole filter can evaluate during the edge join
                wanted |= _filter_value_preds(child.filter)
            for nm in sorted(wanted):
                home = self.g.home_of(nm)
                if home is not None and home[0] == dst_h and nm in edges.columns:
                    inrow_cols.append(nm)
        facet_cols += [F.col(nm).alias(f"_a_{nm}") for nm in inrow_cols]
        if PATH in parent.edges.columns:
            # @ignorereflex (query/query.go:156, ParentIds stack): carry the
            # data path and drop edges returning to any ancestor.
            parents = parent.edges.select(F.col(DST).alias(SUBJECT), PATH).distinct()
            ch = (
                parents.join(edges, SUBJECT, "inner")
                .where(~F.array_contains(F.col(PATH), F.col(OBJECT)))
                .select(
                    F.col(SUBJECT).alias(SRC),
                    F.col(OBJECT).alias(DST),
                    F.concat(F.col(PATH), F.array(F.col(OBJECT))).alias(PATH),
                    *facet_cols,
                )
            )
        else:
            ch = self._restrict(self._nodes(parent), edges, parent).select(
                F.col(SUBJECT).alias(SRC), F.col(OBJECT).alias(DST), *facet_cols,
            )

        # facet filter on the edge (@facets(eq(k, v)))
        fcond = None
        if child.facets is not None and child.facets.filter is not None and "facets" in ch.columns:
            fcond = self._facet_cond(child.facets.filter)
            ch = ch.where(fcond)

        inrow_cond = None
        semi_filter = False
        if child.filter is not None:
            # type(T) leaves compile to free uid-range predicates even
            # with no in-row columns, so always try the in-row compile
            inrow_cond = FuncCompiler(self.g, self.env, self.var_uids).inrow_condition(
                child.filter, dst_h or "", set(inrow_cols), DST)
            if inrow_cond is not None:
                # filter evaluated in-row during the edge join — no node
                # table re-scan, no semi-join stage
                ch = ch.where(inrow_cond)
            else:
                semi_filter = True
                ch = self._apply_filter(child.filter, ch)

        # DST uniqueness proof (round 11): a REVERSE traversal of a
        # single-valued (non-list) predicate maps each forward-subject
        # to exactly one forward-object, so from a DISTINCT parent set
        # (parent_uids is always distinct; the @ignorereflex PATH form
        # is not — a parent repeats per path) every dst appears at most
        # once. Filters/facet-filters/pagination only subset rows, so
        # the property survives _descend.
        dst_unique = (bool(child.reverse)
                      and not self.g.schema.get(pred).list
                      and PATH not in parent.edges.columns)
        lvl = self._descend(child, ch, root=False, parent=parent,
                            dst_unique=dst_unique)
        if (PATH not in parent.edges.columns and child.recurse is None
                and not lvl.defer_pagination):
            # the pipeline above is a pure function of the parent uid
            # set — capture a replay closure so _flat_level can anchor
            # it on the assembled parent frame (compiler let-binding;
            # see Level.edge_rebuild). @ignorereflex carries per-path
            # state and @cascade rewrites level.edges after the fact,
            # so neither may capture.
            lvl.edge_rebuild = self._make_edge_rebuild(
                child, edges, list(facet_cols), fcond, inrow_cond, semi_filter)
        return lvl

    def _make_edge_rebuild(self, block: Block, edges: DataFrame,
                           facet_cols: list, fcond, inrow_cond,
                           semi_filter: bool):
        """Replay closure for one child level's edge pipeline (edge join
        -> @facets filter -> @filter -> sort/pagination) against an
        anchor relation whose `uid_col` holds the DISTINCT parent uids,
        with arbitrary extra columns riding along (Level.edge_rebuild).

        The captured filter Columns (fcond/inrow_cond) are unresolved
        expressions and replay verbatim; env-dependent steps (value-var
        semi-join filters, var/scalar order keys in _sort_paginate)
        replay against a SNAPSHOT of the var env taken at build time, so
        later env mutation (e.g. @cascade var rebinding from another
        block) cannot change what this level already computed. Returns
        None when an anchor column would collide with a pipeline name —
        the caller falls back to the plain assembly join."""
        env_snap = dict(self.env)
        edge_cols = set(edges.columns)
        reserved = {SUBJECT, OBJECT, SRC, DST, RANK, PATH, FACETS,
                    "_frank", "_total", "_pid", "_lr", "_off"}
        # per-parent sort/pagination forces a hash exchange + sort on the
        # rebuilt rows; anchor extras riding through it make every window
        # row wider, which costs MORE than the duplicated parent
        # derivation saves (measured round 11: per_parent_topk exec
        # 1.02->1.13 s at sf1-synth with c_name through the topk window).
        # Paginated children therefore only rebuild off a bare anchor.
        paginated = (block.first is not None or block.offset is not None
                     or block.after is not None or bool(block.order)
                     or (block.facets is not None
                         and bool(block.facets.order)))

        def rebuild(anchor: DataFrame, uid_col: str) -> DataFrame | None:
            extra = [c for c in anchor.columns if c != uid_col]
            if extra and paginated:
                return None
            for c in extra:
                if (c in edge_cols or c in reserved
                        or c.startswith("_a_") or c.startswith("_ok")):
                    return None
            a = anchor.select(F.col(uid_col).alias(SUBJECT),
                              *[F.col(c) for c in extra])
            saved = self.env
            self.env = env_snap
            try:
                ch = a.join(edges, SUBJECT, "inner").select(
                    F.col(SUBJECT).alias(SRC), F.col(OBJECT).alias(DST),
                    *facet_cols, *[F.col(c) for c in extra],
                )
                if fcond is not None:
                    ch = ch.where(fcond)
                if inrow_cond is not None:
                    ch = ch.where(inrow_cond)
                elif semi_filter:
                    ch = self._apply_filter(block.filter, ch)
                if paginated:
                    ch = self._sort_paginate(block, ch, root=False)
                # unpaginated levels skip the replay: _sort_paginate
                # would only add the _rank window, which flat assembly
                # never reads (Catalyst prunes it from the original edge
                # relation too) — skipping saves its py4j construction
            finally:
                self.env = saved
            return ch

        return rebuild

    def _register_attr_var(self, attr: Attr, nodes: DataFrame, level: Level) -> None:
        """`v as age` / `x as count(p)` / math var — value-variable defs
        (query/query.go:1550 populateUidValVar)."""
        _fv_base = attr.name.lstrip("~")
        if (attr.facets is not None and attr.facets.vars
                and self.g.has_pred(_fv_base)
                and self.g.schema.get(_fv_base).is_uid):
            # leaf uid-pred attr with a facet var: `path @facets(f as w)`
            # binds f by target uid even though nothing renders
            # (reverse edges carry the same facet struct through the swap)
            e = self.g.edge(_fv_base, reverse=attr.name.startswith("~"))
            if FACETS in e.columns:
                for var, key in attr.facets.vars.items():
                    texpr, tagg, _tk = self._typed_facet(e, key)
                    self.env[var] = (
                        self._restrict(nodes, e, level)
                        .select(F.col(OBJECT).alias(SUBJECT),
                                texpr.alias(VALUE))
                        .where(F.col(VALUE).isNotNull())
                        .groupBy(SUBJECT).agg(tagg(VALUE).alias(VALUE))
                    )
        if not attr.var:
            return
        base = attr.name.lstrip("~")
        if (self.g.has_pred(base) and not attr.is_count
                and self.g.schema.get(base).typ == "bigfloat"):
            # `v as amount` over a bigfloat pred: tag so downstream math/
            # agg/order/render run at 200 bits (functions/bigfloat.py)
            self.var_bigfloat.add(attr.var)
        if attr.val_var is not None and attr.val_var in self.var_bigfloat:
            # aggregates/reads of a bigfloat var stay bigfloat
            self.var_bigfloat.add(attr.var)
        if (not attr.is_count and attr.math is None and attr.val_var is None
                and self.g.has_pred(base) and self.g.schema.get(base).is_uid):
            # `B as friend` with NO body: a UID variable holding the edge
            # targets (query/query.go:1550 populateUidValVar uid case);
            # nothing renders, but uid(B) roots/filters read it
            e = self.g.edge(base, reverse=attr.name.startswith("~"))
            tgt = self._restrict(nodes, e, level)
            self.env[attr.var] = tgt.select(F.col(OBJECT).alias(SUBJECT)).distinct()
            self.var_edges[attr.var] = tgt.select(
                F.col(SUBJECT).alias(SRC), F.col(OBJECT).alias(DST))
            self.var_level[attr.var] = level
            self.var_kind[attr.var] = "edge_attr"
            return
        inrow = f"_a_{attr.name}"
        if (not attr.is_count and attr.math is None and attr.val_var is None
                and not attr.langs and inrow in level.edges.columns):
            # `v as pred` where pred already rides in-row on the traversal
            # join: the var's (subject, value) map derives from the edge
            # relation itself — no node-table re-scan, and per-parent
            # aggregation (`sum(val(v))`) can later fold the SAME edge
            # relation with a single groupBy instead of a 3-way re-join.
            vdf = level.edges.select(
                F.col(DST).alias(SUBJECT), F.col(inrow).alias(VALUE))
            if SRC in level.edges.columns:
                # value is functionally dependent on the node, so any
                # surviving row per subject carries the right value
                vdf = vdf.dropDuplicates([SUBJECT])
            self.env[attr.var] = vdf
            self.var_edges[attr.var] = level.edges
            self.var_level[attr.var] = level
            self.var_kind[attr.var] = "value"
            self.var_inrow[attr.var] = inrow
            return
        if (attr.name in _AGG_ATTRS and attr.val_var in self.env
                and self.var_level.get(attr.val_var) is level
                and attr.val_var not in self.scalar_vars):
            # the var is defined by a SIBLING at this very level — there
            # is no child level to aggregate over
            # (query/query.go:1099 evalLevelAgg relSG search)
            raise ValueError(
                "Invalid variable aggregation. Check the levels.")
        vdf = self._attr_value_df(attr, nodes, level)
        if vdf is not None:
            if (self.g.schema.strict and not attr.is_count
                    and attr.math is None and attr.val_var is None
                    and self.g.schema.has(base)
                    and self.g.schema.get(base).list
                    and not self.g.schema.get(base).is_uid
                    and vdf.groupBy(SUBJECT).count()
                           .where("count > 1").limit(1).count() > 0):
                # query/query.go:1640 — per-uid runtime check: a list pred
                # may back a value var only while every node has <= 1
                # posting
                raise ValueError(
                    "Value variables not supported for predicate with "
                    "list type.")
            self.env[attr.var] = vdf
            self.var_edges[attr.var] = level.edges
            self.var_level[attr.var] = level
            self.var_kind[attr.var] = "value"
            if attr.name in _AGG_ATTRS:
                self.var_agg[attr.var] = attr.name

    def _count_per_parent(self, attr: Attr, nodes: DataFrame, out: str,
                          level: Level | None = None) -> DataFrame:
        """(subject, out) per-parent count of `attr`'s edge/posting set —
        the shared kernel for BOTH output counts and `v as count(p)` value
        vars, so @filter / @facets / pagination / @lang rules agree
        (worker/task.go count postings; query/query.go filtered-count
        subgraphs apply filter+pagination before counting)."""
        pred = attr.name
        reverse = pred.startswith("~")
        name = pred.lstrip("~")
        fspec = attr.facets
        uids = self._literal_uids(nodes, level)
        if not reverse and not self.g.schema.get(name).is_uid:
            # count(scalar-pred): posting-list length of a value
            # predicate, 0 when absent (worker/task.go count postings).
            # On a @lang pred only the UNTAGGED postings count — same
            # rule as fetching `name` without a lang directive
            sdf = self.g.scalar(name)
            if uids is not None:
                sdf = sdf.where(_isin(SUBJECT, uids))
            if "lang" in sdf.columns:
                sdf = sdf.where(F.col("lang").isNull())
            if fspec is not None and fspec.filter is not None:
                # count(p) @facets(eq(...)): only postings passing the
                # facet filter count (TestCountFacetsFiltering*)
                sdf = (sdf.where(self._facet_cond(fspec.filter))
                       if "facets" in sdf.columns else sdf.where(F.lit(False)))
            per = sdf.groupBy(SUBJECT).agg(
                F.count("*").alias("_c"))
            return nodes.join(per, SUBJECT, "left").select(
                SUBJECT, F.coalesce(F.col("_c"), F.lit(0)).alias(out))
        edges = self.g.edge(name, reverse=reverse)
        if uids is not None:
            edges = edges.where(_isin(SUBJECT, uids))
        if fspec is not None and fspec.filter is not None:
            edges = (edges.where(self._facet_cond(fspec.filter))
                     if FACETS in edges.columns else edges.where(F.lit(False)))
        edges = edges.select(SUBJECT, OBJECT)
        if attr.filter is not None or attr.count_first is not None or attr.count_offset:
            # count of a filtered/paginated edge set: restrict the edge
            # frame first, then count per parent (the count child is a
            # full subgraph in the reference — filter+pagination apply
            # before counting)
            e = (
                nodes.select(F.col(SUBJECT).alias(SRC))
                .join(edges.select(F.col(SUBJECT).alias(SRC),
                                   F.col(OBJECT).alias(DST)), SRC, "inner")
            )
            if attr.filter is not None:
                e = self._apply_filter(attr.filter, e)
            if attr.count_first is not None or attr.count_offset:
                from pyspark.sql.window import Window
                order_cols = [F.col(DST)]
                for o in attr.count_order or []:
                    sdf = self.g.scalar(o.key).select(
                        F.col(SUBJECT).alias(DST),
                        F.col(VALUE).alias(f"_o_{o.key}"))
                    e = e.join(sdf, DST, "left")
                    c = F.col(f"_o_{o.key}")
                    order_cols.insert(-1, c.desc() if o.desc else c.asc())
                rn = F.row_number().over(
                    Window.partitionBy(SRC).orderBy(*order_cols))
                e = e.withColumn("_rn", rn)
                lo = attr.count_offset or 0
                cond = F.col("_rn") > lo
                if attr.count_first is not None:
                    cond = cond & (F.col("_rn") <= lo + attr.count_first)
                e = e.where(cond)
            per = e.groupBy(SRC).agg(F.count(DST).alias(out))
            return (
                nodes.select(SUBJECT)
                .join(per.select(F.col(SRC).alias(SUBJECT), _qc(out)), SUBJECT, "left")
                .select(SUBJECT, F.coalesce(_qc(out), F.lit(0)).alias(out))
            )
        return (
            nodes.join(edges, SUBJECT, "left")
            .groupBy(SUBJECT)
            .agg(F.count(OBJECT).alias(out))
        )

    def _attr_value_df(self, attr: Attr, nodes: DataFrame, level: Level) -> DataFrame | None:
        """DataFrame (subject, value) for a scalar-ish attr over `nodes`:
        the one builder of val(), aggregate and math() values, which both
        a var (_register_attr_var) and the output (_attr_output) read."""
        if attr.name == "uid" and attr.is_count:
            # `s as count(uid)`: ONE value keyed by the sentinel uid
            # MaxUint64 (= -1 in our signed-long uid space) — math()
            # applies it to every node, val(s) output finds no node
            # (query/query.go:1576 case DoCount && Attr == "uid")
            if attr.var:
                self.scalar_vars.add(attr.var)
            return nodes.agg(F.count("*").alias(VALUE)).select(
                F.lit(-1).cast("long").alias(SUBJECT), VALUE)
        if attr.name == "uid":
            return nodes.select(SUBJECT, F.col(SUBJECT).alias(VALUE))
        if attr.is_count:
            if not self.g.has_pred(attr.name.lstrip("~")):
                # count of an unknown predicate as a var: 0 everywhere
                return nodes.select(SUBJECT, F.lit(0).cast("long").alias(VALUE))
            # shared kernel with output counts: @filter / @facets /
            # pagination / @lang all apply to `v as count(p)` too
            return self._count_per_parent(attr, nodes, VALUE, level)
        if attr.val_var is not None and attr.name == "val":
            # a direct map lookup by uid: path propagation applies only to
            # math() and aggregates (query/query.go preTraverse reads
            # Params.uidToVal[uid] verbatim)
            return self.env.get(attr.val_var)
        if attr.name in _AGG_ATTRS and attr.val_var:
            # `sum(val(v))`: per parent of the last level between this
            # level and v's definition, the levels in between summed first
            # (query/query.go:1143 transformTo, :1042 evalLevelAgg); v
            # defined off this level's path aggregates along its defining
            # edges, or, at a root, in one total for every node
            v = attr.val_var
            vdf = self.env.get(v)
            if vdf is None:
                return None
            chain = self._var_chain(v, level)
            hops = ([lvl.edges for lvl in chain] if chain
                    else [e for e in [self.var_edges.get(v)]
                          if e is not None and SRC in e.columns])
            if hops:
                return self._carry(v, hops, attr.name)
            total = vdf.agg(
                _agg_fn(attr.name, v in self.var_bigfloat)(VALUE).alias(VALUE))
            return nodes.crossJoin(F.broadcast(total))
        if attr.math is not None:
            return self._math_value_df(attr, nodes, level)
        if self.g.has_pred(attr.name) and not self.g.schema.get(attr.name).is_uid:
            home = self.g.home_of(attr.name)
            if home is not None and not attr.langs:
                hname, c = home
                if level.fused is not None and level.fused[0] == hname:
                    # node set == fused scan row set: read values from the
                    # same single scan, no self-join
                    return self.g.wide[hname].where(level.fused[1]).select(
                        SUBJECT, F.col(c).alias(VALUE)
                    )
                wdf = self.g.wide[hname].select(SUBJECT, F.col(c).alias(VALUE))
                return self._restrict(nodes, wdf, level).select(SUBJECT, VALUE)
            df = self.g.scalar(attr.name)
            df = self._lang_select(df, attr.langs)
            return self._restrict(nodes, df, level).select(SUBJECT, VALUE)
        if attr.var and not self.g.has_pred(attr.name):
            # `v as unknown_pred`: the var exists but is EMPTY — consumers
            # see no values, not an unbound-variable error
            return self.spark.createDataFrame([], f"{SUBJECT} long, {VALUE} double")
        return None

    def _var_chain(self, varname: str, level: Level | None) -> list[Level] | None:
        """Levels from the var's defining level up to (excluding) `level`,
        or None if `level` is not a (strict) ancestor of the definition."""
        dl = self.var_level.get(varname)
        if dl is None or level is None or dl is level:
            return None
        chain: list[Level] = []
        cur: Level | None = dl
        while cur is not None and cur is not level:
            chain.append(cur)
            cur = cur.parent
        return chain if cur is level else None

    def _val_for_level(self, varname: str, level: Level | None) -> DataFrame | None:
        """Value variable aligned to `level`'s uid space. When the var was
        defined in a descendant level, values propagate UP by summing
        along paths; when defined at an ANCESTOR level, they propagate
        DOWN the same way (query/query.go:1143-1237 transformTo — the
        variable transforms along edges in either direction)."""
        vdf = self.env.get(varname)
        if vdf is None:
            return None
        chain = self._var_chain(varname, level)
        if chain:
            return self._carry(varname, [lvl.edges for lvl in chain])
        # downward: walk from `level` up to the defining level, then
        # push values down through each traversal's edges
        dl = self.var_level.get(varname)
        if dl is None or level is None or dl is level:
            return vdf
        down: list[Level] = []
        cur: Level | None = level
        while cur is not None and cur is not dl:
            down.append(cur)
            cur = cur.parent
        if cur is not dl:
            return vdf
        out = vdf
        for lvl in reversed(down):
            e = lvl.edges
            if SRC not in e.columns:
                return out
            out = (
                e.select(SRC, DST)
                .join(out.select(F.col(SUBJECT).alias(SRC), VALUE), SRC, "inner")
                .groupBy(DST)
                .agg(F.sum(VALUE).alias(VALUE))
                .select(F.col(DST).alias(SUBJECT), VALUE)
            )
        return out

    def _carry(self, v: str, hops: list[DataFrame], fn: str = "sum") -> DataFrame:
        """Value var v carried up ``hops`` (edge relations, v's defining
        level first) to the sources of the last one: summed over each
        hop's edges, ``fn`` at the last (query/query.go:1143 transformTo),
        at 200 bits for a bigfloat var. v's values ride in-row on its
        defining edges when it was read off the traversal join: the first
        hop then needs no join."""
        out = self.env[v]
        inrow = self.var_inrow.get(v)
        bigfloat = v in self.var_bigfloat
        for i, e in enumerate(hops):
            if SRC not in e.columns:
                return out
            if i == 0 and inrow in e.columns:
                rows = e.select(SRC, F.col(inrow).alias(VALUE))
            else:
                rows = e.select(SRC, DST).join(
                    out.select(F.col(SUBJECT).alias(DST), VALUE), DST, "inner")
            agg = _agg_fn(fn if i == len(hops) - 1 else "sum", bigfloat)
            out = (rows.groupBy(SRC).agg(agg(VALUE).alias(VALUE))
                   .select(F.col(SRC).alias(SUBJECT), VALUE))
        return out

    def _math_value_df(self, attr: Attr, nodes: DataFrame, level: Level | None = None) -> DataFrame:
        """Evaluate math() per uid by joining referenced vars."""
        names = sorted(math_vars(attr.math))
        if any(v in self.var_bigfloat for v in names):
            from dgraph_spark.functions.bigfloat import (bigfloat_math_udf,
                                                         math_tree_supported)

            if len(names) != 1 or not math_tree_supported(attr.math):
                raise ValueError(
                    "bigfloat math() supports a single bigfloat variable "
                    "with + - * / % ceil floor sqrt min max "
                    "(types/scalar_types.go 200-bit big.Float)")
            v = names[0]
            resolved = (self._val_for_level(v, level)
                        if level is not None else self.env[v])
            if resolved is None:
                return nodes.select(
                    SUBJECT, F.lit(None).cast("string").alias(VALUE))
            udf = bigfloat_math_udf(attr.math)
            out = (self._restrict(nodes, resolved.select(SUBJECT, VALUE),
                                  level)
                   .select(SUBJECT, udf(F.col(VALUE)).alias(VALUE)))
            if attr.var:
                self.var_bigfloat.add(attr.var)
            return out
        regular = [v for v in names if v not in self.scalar_vars and v in self.env]
        if regular:
            # the math map's domain is the union of the REGULAR operand
            # maps' domains (query/math.go MergeIterate) — aggregate
            # "applied to all" vars do not widen it; nodes outside every
            # operand map get no math value
            dom = None
            for v in regular:
                resolved = (self._val_for_level(v, level)
                            if level is not None else self.env[v])
                d = resolved.select(SUBJECT)
                dom = d if dom is None else dom.unionByName(d)
            out = nodes.join(dom.distinct(), SUBJECT, "left_semi")
        else:
            out = nodes.select(SUBJECT)
        for v in names:
            if v in self.scalar_vars and v in self.env:
                # aggregate-output var: its one value applies to all
                sv = self.env[v].select(F.col(VALUE).alias(f"_v_{v}")).limit(1)
                out = out.crossJoin(F.broadcast(sv))
                continue
            resolved = self._val_for_level(v, level) if level is not None else self.env[v]
            if resolved is None:
                out = out.withColumn(f"_v_{v}", F.lit(None).cast("double"))
                continue
            vdf = resolved.select(SUBJECT, F.col(VALUE).alias(f"_v_{v}"))
            out = out.join(vdf, SUBJECT, "left")
        dt = dict(out.dtypes)
        col = compile_math(attr.math, lambda n: F.col(f"_v_{n}"),
                           int_var=lambda n: dt.get(f"_v_{n}") == "bigint")
        return out.select(SUBJECT, col.alias(VALUE))

    def _lang_select(self, df: DataFrame, langs: list[str],
                     keep: list[str] | None = None) -> DataFrame:
        """Language preference chain `name@en:ru:.`
        (worker/task.go:1194-1219). '.' = untagged first, else any
        language. NO tag selects only the untagged value (dgraph: a bare
        read of a @lang predicate never returns tagged values)."""
        cols = [SUBJECT, VALUE] + [c for c in (keep or []) if c in df.columns]
        if "lang" not in df.columns:
            return df.select(*[c for c in cols if c in df.columns])
        if not langs:
            return df.where(F.col("lang").isNull()).select(*cols)
        pref = [l for l in langs if l != "."]
        rank = F.when(F.lit(False), 0)
        for i, l in enumerate(pref):
            rank = rank.when(F.col("lang") == l, i)
        if "." in langs:
            # '.': untagged preferred, then any tagged (alphabetical tiebreak)
            rank = rank.when(F.col("lang").isNull(), len(pref)).otherwise(len(pref) + 1)
        else:
            rank = rank.otherwise(None)
        ranked = df.withColumn("_lr", rank).where(F.col("_lr").isNotNull())
        w = Window.partitionBy(SUBJECT).orderBy("_lr", F.coalesce(F.col("lang"), F.lit("")))
        return (
            ranked.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(*cols)
        )

    def _typed_facet(self, df: DataFrame, key: str) -> tuple[Column, Column, str]:
        """(typed value expr, merge agg) for a facet key. Facets are
        typed at parse time in the reference (types/facets/utils.go);
        our storage is untyped strings, so the type is probed from one
        sample value (bounded planning metadata, the analogue of the
        reference's facet-type lookup). Numerics merge by SUM across
        parent edges (query/query.go populateUidValVar aggregateValue);
        non-summable types keep one value (max, deterministic)."""
        col = F.col(f"facets.{key}")
        cache = self._facet_type_cache
        # Snapshot-keyed like the dedup caches (_corpus_key): a mutation
        # that swaps graph.preds[p] for a new DataFrame changes the plan
        # hash, an in-place parquet rewrite changes the mtime snapshot —
        # either way the stale probed type can't be served again.
        snap = _df_snapshot(df)
        ck = (key, snap)
        if snap is not None and ck in cache:
            s = cache[ck]
        else:
            row = (df.select(col.alias("_v")).where(F.col("_v").isNotNull())
                   .limit(1).collect())
            s = row[0]["_v"] if row else None
            if s is not None and snap is not None:
                # superseded snapshots of the same facet key are dead
                for old in [k for k in cache if k[0] == key and k != ck]:
                    cache.pop(old, None)
                cache[ck] = s
        import datetime as _dtm

        if not isinstance(s, (str, type(None))):
            # facets column already carries typed values (parquet-backed
            # graphs): no cast needed
            if isinstance(s, bool):
                return col, F.max, "bool"
            if isinstance(s, (int, float)):
                return col, F.sum, "float"
            if isinstance(s, (_dtm.datetime, _dtm.date)):
                return col, F.max, "datetime"
            return col, F.max, "string"
        if s is not None and len(s) >= 2 and s[0] == '"' and s[-1] == '"':
            # quote-wrapped storage == STRING-typed facet: strip the
            # marker for value/order/group use
            return _facet_unquote(col), F.max, "string"
        if s in ("true", "false"):
            return col.cast("boolean"), F.max, "bool"
        if s is not None and _FACET_INT_RE.match(s):
            return col.cast("long"), F.sum, "int"
        if s is not None and _FACET_FLOAT_RE.match(s):
            return col.cast("double"), F.sum, "float"
        if s is not None and re.match(r"^\d{4}-\d{2}-\d{2}", s):
            # wide-offset tolerant (+23:00 zones appear in the reference
            # corpus; java.time caps at ±18:00) — same parse as the loader
            from dgraph_spark.sources.rdf import _datetime_expr

            return _datetime_expr(F.regexp_replace(col, "Z$", "")), F.max, "datetime"
        return col, F.max, "string"

    def _facet_cond(self, tree) -> Column:
        """Facet FilterTree -> boolean Column over `facets` struct.

        Reference semantics (worker/task.go applyFacetsTree): an edge
        MISSING the facet fails the leaf condition outright — so every
        leaf coalesces null -> false (crucial under NOT: a missing facet
        must not make `not eq(...)` null-propagate the edge away).
        Comparisons run in the facet's value type (types/facets/utils.go
        facet typing): bool / numeric / datetime by literal inspection,
        else string. allofterms/anyofterms term-match string facets
        (worker/tokens.go over facet values)."""
        if tree.op == "func":
            f = tree.func
            key = f.pred
            lits = f.literals()
            col = F.col(f"facets.{key}")
            name = f.name.lower()
            quoted = col.rlike('^".*"$')
            if name in ("allofterms", "anyofterms"):
                from dgraph_spark.functions.tokenizers import term_tokens

                toks = [t for t in re.split(r"[^\w]+", str(lits[0]).lower()) if t]
                arr = term_tokens(_facet_unquote(col))
                conds = [F.array_contains(arr, t) for t in toks] or [F.lit(True)]
                cond = conds[0]
                for c in conds[1:]:
                    cond = (cond & c) if name == "allofterms" else (cond | c)
                return F.coalesce(cond, F.lit(False))
            from dgraph_spark.plans.functions import _cmp

            l0 = lits[0] if lits else None
            if isinstance(l0, bool):
                cond = _cmp(col.cast("boolean"), name, [F.lit(x) for x in lits])
            elif isinstance(l0, (int, float)):
                # the literal converts to the FACET's type
                # (worker/task.go applyFacetsTree → types.Convert): a
                # numeric literal never matches a STRING-typed (quoted)
                # facet
                cond = F.when(quoted, F.lit(False)).otherwise(
                    _cmp(col.cast("double"), name,
                         [F.lit(float(x)) for x in lits]))
            elif isinstance(l0, str) and re.match(r"^\d{4}-\d{2}(-\d{2})?", l0):
                from dgraph_spark.sources.rdf import _datetime_expr

                # a datetime-looking literal compares lexically against a
                # STRING-typed (quoted) facet but temporally against a
                # DATETIME-typed one — the facet's type wins
                # cast("string") first: typed (timestamp) facet columns
                # round-trip through the same wide-offset-tolerant parse
                cond = F.when(
                    quoted,
                    _cmp(_facet_unquote(col), name, [F.lit(x) for x in lits]),
                ).otherwise(_cmp(_datetime_expr(
                    F.regexp_replace(col.cast("string"), "Z$", "")),
                    name, [F.lit(x).cast("timestamp") for x in lits]))
            else:
                cond = _cmp(_facet_unquote(col), name, [F.lit(x) for x in lits])
            return F.coalesce(cond, F.lit(False))
        if tree.op == "and":
            out = self._facet_cond(tree.children[0])
            for c in tree.children[1:]:
                out = out & self._facet_cond(c)
            return out
        if tree.op == "or":
            out = self._facet_cond(tree.children[0])
            for c in tree.children[1:]:
                out = out | self._facet_cond(c)
            return out
        if tree.op == "not":
            return ~self._facet_cond(tree.children[0])
        raise ValueError(tree.op)

    # ===================================================== sort / pagination
    def _sort_paginate(self, block: Block, edges: DataFrame, root: bool,
                       paginate: bool = True) -> DataFrame:
        """Per-parent (or global at root) sort + first/offset/after
        (worker/sort.go; query/query.go:2493 applyPagination).
        Always emits a _rank column for stable nested-array ordering.
        ``paginate=False`` ranks without applying first/offset (the
        driver pages the rows after @cascade pruning, _page_rows)."""
        has_page = block.first is not None or block.offset is not None or block.after is not None
        has_order = bool(block.order) or (block.facets and block.facets.order)

        if block.after is not None:
            edges = edges.where(F.col(DST) > F.lit(block.after))

        sort_cols = self._order_cols(block, edges)
        part = [] if root or SRC not in edges.columns else [SRC]
        w = Window.partitionBy(*part).orderBy(*sort_cols) if (part or has_order or has_page) else None

        edges2, joined_cols = self._join_order_keys(block, edges)
        first, offset = block.first, block.offset or 0
        if w is not None:
            sort_cols = self._order_cols(block, edges2)
            if not has_order and "_frank" in edges2.columns:
                sort_cols = [F.col("_frank").asc()] + sort_cols
            if not part:
                # ROOT sort: a Window.partitionBy() would funnel the whole
                # result set through ONE task. With positive-first
                # pagination, compile to orderBy().limit() instead
                # (TakeOrderedAndProject: per-partition top-k then merge);
                # otherwise two-phase distributed rank.
                if paginate and has_page and first is not None and first >= 0:
                    edges2 = edges2.orderBy(*sort_cols).limit(offset + first)
                    # post-limit set is <= first+offset rows: a plain
                    # window here is over already-tiny data
                    edges2 = edges2.withColumn(
                        RANK, F.row_number().over(Window.orderBy(*sort_cols))
                    )
                else:
                    edges2 = self._global_rank(edges2, sort_cols)
            else:
                w = Window.partitionBy(*part).orderBy(*sort_cols)
                edges2 = edges2.withColumn(RANK, F.row_number().over(w))
        else:
            # root fn may carry an intrinsic order (similar_to distance)
            rank_src = F.col("_frank") if "_frank" in edges2.columns else F.col(DST)
            edges2 = edges2.withColumn(RANK, rank_src)

        if paginate and has_page and (first is not None or offset):
            if first is not None and first < 0:
                # negative first = last N; offset is IGNORED in this
                # branch (x/x.go PageRange returns early when count < 0)
                if not part:
                    # root: broadcast a 1-row count instead of a global
                    # single-partition window
                    tot = edges2.agg(F.count("*").alias("_total"))
                    edges2 = (
                        edges2.crossJoin(F.broadcast(tot))
                        .where(F.col(RANK) > F.col("_total") + first)
                        .drop("_total")
                    )
                else:
                    total = F.count("*").over(Window.partitionBy(*part))
                    edges2 = (
                        edges2.withColumn("_total", total)
                        .where(F.col(RANK) > F.col("_total") + first)
                        .drop("_total")
                    )
            else:
                if offset:
                    edges2 = edges2.where(F.col(RANK) > offset)
                if first is not None:
                    edges2 = edges2.where(F.col(RANK) <= offset + first)
        return edges2.drop(*joined_cols)

    def _global_rank(self, df: DataFrame, sort_cols: list) -> DataFrame:
        """Global RANK without a single-partition window: range-partition
        on the sort keys, rank within each partition, then add broadcast
        cumulative partition offsets (two-phase distributed rank). The
        offsets relation is one row per partition — tiny at any scale."""
        npart = df.sparkSession.sparkContext.defaultParallelism
        d = df.repartitionByRange(npart, *sort_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
        wp = Window.partitionBy("_pid").orderBy(*sort_cols)
        d = d.withColumn("_lr", F.row_number().over(wp))
        cnt = d.groupBy("_pid").agg(F.count("*").alias("_n"))
        woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
        offs = cnt.withColumn(
            "_off", F.coalesce(F.sum("_n").over(woff), F.lit(0))
        ).select("_pid", "_off")
        return (
            d.join(F.broadcast(offs), "_pid")
            .withColumn(RANK, (F.col("_lr") + F.col("_off")).cast("int"))
            .drop("_pid", "_lr", "_off")
        )

    def _join_order_keys(self, block: Block, edges: DataFrame) -> tuple[DataFrame, list[str]]:
        """Join scalar/var/facet order keys as temp columns _ok{i}."""
        joined: list[str] = []
        out = edges
        for i, o in enumerate(block.order):
            cname = f"_ok{i}"
            if o.is_facet:
                out = out.withColumn(
                    cname, _facet_unquote(F.col(f"facets.{o.key}")))
            elif f"_a_{o.key}" in out.columns:
                # order key rides in-row on the edge — no join
                out = out.withColumn(cname, F.col(f"_a_{o.key}"))
            elif o.is_var or (o.key in self.env and not self.g.has_pred(o.key)
                              and not self.g.schema.strict):
                # sorting by a value variable EXCLUDES nodes the var is
                # not defined for (worker/sort.go sortWithVar semantics).
                # A BARE var name (without val()) is only honored on
                # permissive graphs — the reference requires `val(v)` and
                # treats the bare name as an unknown attribute
                vdf = self.env[o.key].where(F.col(VALUE).isNotNull()).select(
                    F.col(SUBJECT).alias(DST), F.col(VALUE).alias(cname)
                )
                out = out.join(vdf, DST, "inner")
            else:
                if not self.g.has_pred(o.key) and not self.g.schema.has(o.key):
                    # query/query.go: sort key is neither a variable nor a
                    # known predicate
                    raise ValueError(
                        f"Cannot sort by unknown attribute {o.key}")
                self.g.schema.validate_sort(o.key)
                if not self.g.has_pred(o.key):
                    # declared in schema but no postings: null sort key
                    out = out.withColumn(cname, F.lit(None).cast("string"))
                    joined.append(cname)
                    continue
                sdf = self.g.scalar(o.key)
                sdf = self._lang_select(sdf, [o.lang] if o.lang else [])
                val = F.col(VALUE)
                if self.g.schema.get(o.key).typ == "bigfloat":
                    # lexical strings order wrong ("99" > "100"): sort by
                    # the 200-bit order-preserving key (TestBigFloatSort)
                    from dgraph_spark.functions.bigfloat import bigfloat_key

                    val = bigfloat_key(val)
                if o.lang and o.lang not in (".", "*"):
                    # lang-tagged sort keys use the tag's locale collation
                    # (worker/sort.go sorts via x/text collate for the
                    # language); fall back to byte order for tags ICU
                    # doesn't know
                    try:
                        probe = sdf.select(
                            F.expr(f"collate({VALUE}, '{o.lang}')").alias(cname))
                        probe.schema  # force analysis: invalid collation -> throw
                        val = F.expr(f"collate({VALUE}, '{o.lang}')")
                    except Exception:
                        pass
                vdf = sdf.select(F.col(SUBJECT).alias(DST), val.alias(cname))
                out = out.join(vdf, DST, "left")
            joined.append(cname)
        if block.facets and block.facets.order:
            for j, o in enumerate(block.facets.order):
                cname = f"_okf{j}"
                if "facets" not in out.columns:
                    continue
                texpr, _agg, kind = self._typed_facet(out, o.key)
                if kind == "bool":
                    # bool facets are not sortable (types/sort.go
                    # IsSortable): the key is ignored, ties fall through
                    # to the uid tiebreak
                    continue
                out = out.withColumn(cname, texpr)
                joined.append(cname)
        return out, joined

    def _order_cols(self, block: Block, edges: DataFrame) -> list[Column]:
        cols: list[Column] = []
        keys: list[tuple[str, bool]] = []  # (col name, desc?)
        i = 0
        for o in block.order:
            cname = f"_ok{i}"
            if cname in edges.columns:
                cols.append(F.col(cname).desc_nulls_last() if o.desc else F.col(cname).asc_nulls_last())
                keys.append((cname, o.desc))
            i += 1
        if block.facets and block.facets.order:
            for j, o in enumerate(block.facets.order):
                cname = f"_okf{j}"
                if cname in edges.columns:
                    cols.append(F.col(cname).desc_nulls_last() if o.desc else F.col(cname).asc_nulls_last())
                    keys.append((cname, o.desc))
        # uid tiebreak. Quirk faithfully copied from types/sort.go Less:
        # when two nodes tie with BOTH null at a sort key, the comparator
        # returns desc[vidx] — for a desc key that flips the tie to uid-
        # DESCENDING; otherwise ties keep uid ascending.
        tie = F.col(DST).asc()
        if any(d for _c, d in keys):
            flip = None
            for cname, d in keys:
                cond = F.col(cname).isNull()
                flip = F.when(cond, F.lit(d)) if flip is None else flip.when(cond, F.lit(d))
            flip = flip.otherwise(F.lit(False))
            tie = F.when(flip, -F.col(DST)).otherwise(F.col(DST)).asc()
        cols.append(tie)
        return cols

    # ============================================================== recurse
    def _descend_recurse(self, block: Block, frontier: DataFrame) -> Level:
        """@recurse (query/recurse.go:19-215 expandRecurse): breadth-first
        rounds following every uid predicate in the body. loop=false is
        the reference's reachMap — an edge (pred|from|to) is traversed at
        most ONCE across the whole recursion (edge-level dedup, not
        per-path node visits).

        Scale shape: ONE flat frontier DataFrame per depth — all branch
        prefixes of a depth expand in a single pred-tagged union join, so
        driver actions stay O(depth) (one checkpoint + one branch-list
        collect each), never O(preds^depth). Branch prefixes are tracked
        as a rolling hash column; the Level tree for JSON assembly is
        reconstructed from the collected (parent, pred, branch) triples
        and every branch level FILTERS the same materialized per-depth
        step.
        (Within one round the reference consumes a shared edge under
        whichever branch goroutine wins — nondeterministic there; the
        flat form keeps it under every same-round branch.)"""
        depth = block.recurse.depth or self.max_recurse_depth
        depth = min(depth, self.max_recurse_depth)
        scalar_attrs = [c for c in block.children if isinstance(c, Attr)]
        uid_preds: list[tuple[str, bool]] = []
        var_of_tag: dict[str, str] = {}  # pred tag -> value-var collecting
        spec_of_tag: dict[str, object] = {}  # pred tag -> FacetsSpec
        for c in block.children:
            if isinstance(c, Block):
                uid_preds.append((c.attr, c.reverse))
                if c.var:
                    var_of_tag[("~" + c.attr) if c.reverse else c.attr] = c.var
                if c.facets is not None:
                    spec_of_tag[("~" + c.attr) if c.reverse else c.attr] = c.facets
            elif isinstance(c, Attr) and self.g.has_pred(c.name.lstrip("~")) and self.g.schema.get(c.name.lstrip("~")).is_uid:
                uid_preds.append((c.name.lstrip("~"), c.name.startswith("~")))
                if c.var:
                    var_of_tag[c.name] = c.var
                if c.facets is not None:
                    spec_of_tag[c.name] = c.facets

        # a `v as pred` child whose predicate holds NO data still DECLARES
        # the variable (query/recurse.go assigns empty DestUIDs): pre-bind
        # every edge-var to an empty uid relation so uid(v) consumers in
        # later blocks resolve even when the traversal never runs
        for c in block.children:
            v = getattr(c, "var", None)
            if not v or v in self.env:
                continue
            base = (c.attr if isinstance(c, Block) else c.name)
            base = (base or "").lstrip("~")
            if not self.g.has_pred(base) and (
                    not self.g.schema.has(base)
                    or self.g.schema.get(base).is_uid):
                self.env[v] = self.spark.createDataFrame(
                    [], f"{SUBJECT} long")

        expand_mode = any(isinstance(c, Attr) and c.expand for c in block.children)
        # preds the query EXPLICITLY asks for (captured before expansion
        # rounds mutate uid_preds): expansion may not repeat any of them
        # (query/query.go:2144 via recurse.go expandChildren)
        explicit = {a.name for a in scalar_attrs
                    if not a.is_count and not a.expand and a.name != "uid"}
        explicit |= {("~" + b) if r else b for b, r in uid_preds}

        def _typed_preds(nodes_df: DataFrame) -> tuple[list[Attr], list[tuple[str, bool]]]:
            """expand(_all_) under @recurse: predicates come from the
            frontier nodes' types, re-discovered each round
            (query/recurse.go expandSubgraph per expandRecurse round)."""
            types = [r[VALUE] for r in nodes_df
                     .join(self.g.node_types(), SUBJECT, "inner")
                     .select(VALUE).distinct().collect()]
            sc: list[Attr] = []
            up: list[tuple[str, bool]] = []
            seen: set[str] = set()
            for t in types:
                for p in self.g.schema.type_preds(t):
                    base = p.lstrip("~")
                    if p in explicit:
                        # query/query.go:2144 via recurse.go expandChildren
                        raise ValueError(
                            f"Repeated subgraph: [{p}] while using expand()")
                    if p in seen or not self.g.has_pred(base):
                        continue
                    seen.add(p)
                    if p.startswith("~") or self.g.schema.get(base).is_uid:
                        up.append((base, p.startswith("~")))
                    else:
                        sc.append(Attr(name=p, langs=(
                            ["*"] if self.g.schema.get(base).lang else [])))
            return sc, up

        top = Level(block=block, edges=self._sort_paginate(block, frontier, root=True))
        top.attr_items = [a for a in scalar_attrs if not (self.g.has_pred(a.name.lstrip("~")) and self.g.schema.get(a.name.lstrip("~")).is_uid)]
        if block.var:
            self.env[block.var] = top.edges.select(F.col(DST).alias(SUBJECT)).distinct()
        if expand_mode:
            sc, up = _typed_preds(top.edges.select(F.col(DST).alias(SUBJECT)).distinct())
            top.attr_items = [a for a in top.attr_items if a.expand is None] + sc
            uid_preds = list(dict.fromkeys(uid_preds + up))
        if not uid_preds and not expand_mode:
            return top

        # pred-tagged union edge relation (pred name, reverse flag -> tag)
        tag_of: dict[str, tuple[str, bool]] = {}

        # facets ride the union only when some child requests them
        want_facets = bool(spec_of_tag)

        def _build_tagged(preds: list[tuple[str, bool]]) -> DataFrame | None:
            out = None
            for pred, rev in preds:
                tag = ("~" + pred) if rev else pred
                tag_of[tag] = (pred, rev)
                e = self.g.edge(pred, reverse=rev)
                cols = [F.col(SUBJECT), F.col(OBJECT), F.lit(tag).alias("_pred")]
                if want_facets:
                    cols.append(F.col(FACETS) if FACETS in e.columns
                                else F.lit(None).cast("map<string,string>").alias(FACETS))
                e = e.select(*cols)
                out = e if out is None else out.unionByName(e)
            return out

        tagged = _build_tagged(uid_preds)
        if tagged is None:
            return top
        # the tagged union edge relation is re-joined every recursion
        # round AND re-used across queries over the same (immutable)
        # Graph — persist it once per (preds, facets) shape, like
        # dgraph's adjacency tablets
        _tkey = ("recurse_tagged", want_facets,
                 tuple(sorted(uid_preds)))
        _rcache = self.g.__dict__.setdefault("_loop_rel_cache", {})
        if _tkey in _rcache:
            tagged = _rcache[_tkey]
        else:
            tagged = tagged.persist()
            _rcache[_tkey] = tagged

        ROOT_BH = 0
        # frontier: (branch hash, node) pairs of the current depth
        front = top.edges.select(
            F.lit(ROOT_BH).cast("long").alias("_bh"), F.col(DST).alias(SUBJECT)
        ).distinct()
        visited = front.select(SUBJECT)  # every node seen at any depth
        taken = None  # (pred, src, dst) edges already traversed (reachMap)
        num_edges = 0  # cumulative traversed edges (query/recurse.go:150)
        # levels_by (depth, branch hash) -> Level, for tree assembly
        level_of: dict[tuple[int, int], Level] = {(0, ROOT_BH): top}
        def _mk_step(fr: DataFrame) -> DataFrame:
            nonlocal taken
            step_cols = [
                F.col("_bh").alias("_pbh"),
                F.xxhash64(F.col("_bh"), F.col("_pred")).alias("_bh"),
                F.col("_pred"),
                F.col(SUBJECT).alias(SRC),
                F.col(OBJECT).alias(DST),
            ]
            if want_facets and FACETS in tagged.columns:
                step_cols.append(F.col(FACETS))
            step = (
                fr.join(tagged, SUBJECT, "inner")
                .select(*step_cols)
                # dedup on the edge identity only — the facets MAP column
                # is not comparable (and is functionally determined by
                # the edge anyway)
                .dropDuplicates(["_pbh", "_pred", SRC, DST])
            )
            if not block.recurse.loop:
                if taken is not None:
                    step = step.join(taken, ["_pred", SRC, DST], "left_anti")
                new_taken = step.select("_pred", SRC, DST).distinct()
                taken = (new_taken if taken is None
                         else taken.unionByName(new_taken)).localCheckpoint(eager=False)
            # lazy checkpoint: the branches action below computes the
            # round once, caching + truncating lineage in the same job
            step = step.localCheckpoint(eager=False)
            for tag, var in var_of_tag.items():
                # `a as friend` under @recurse accumulates every target
                # reached via that pred across ALL rounds
                # (query/recurse.go assigns DestUIDs per round to the var)
                part = step.where(F.col("_pred") == tag).select(
                    F.col(DST).alias(SUBJECT))
                prev = self.env.get(f"__rec_{var}")
                self.env[f"__rec_{var}"] = (
                    part if prev is None else prev.unionByName(part))
            return step

        def _branches_df(step: DataFrame) -> DataFrame:
            return step.groupBy("_pbh", "_pred", "_bh").count()

        # Rounds run in PAIRS outside expand_mode (round 11, the same
        # probe-batching ritual as shortest_path/connected_components):
        # round d+1's frontier is pure lineage over round d's
        # lazily-checkpointed step, so BOTH branch summaries can ride
        # ONE collect — halving the driver actions of the depth loop.
        # expand_mode stays one-round-at-a-time (each round's collected
        # types decide the next round's edge relation). If round d is
        # empty, round d+1 is empty by construction (empty frontier
        # joins to nothing) — the wasted lineage is never a wrong answer.
        d = 1
        while d < depth:
            paired = (not expand_mode) and (d + 1 < depth)
            step = _mk_step(front)
            if paired:
                front2 = step.select("_bh", F.col(DST).alias(SUBJECT)).distinct()
                step2 = _mk_step(front2)
                rows = (_branches_df(step).withColumn("_r", F.lit(0))
                        .unionByName(_branches_df(step2).withColumn("_r", F.lit(1)))
                        .collect())
                rounds = [(step, [r for r in rows if r["_r"] == 0]),
                          (step2, [r for r in rows if r["_r"] == 1])]
            else:
                # ONE driver action: which branch prefixes extended this
                # round? (piggybacks the edge count for the edge guard)
                rounds = [(step, _branches_df(step).collect())]
            stop = False
            for step, branches in rounds:
                if not branches:
                    stop = True
                    break
                num_edges += sum(r["count"] for r in branches)
                if num_edges > self.limit_query_edge:
                    raise ResourceLimitError(
                        f"Exceeded query edge limit = {self.limit_query_edge}. "
                        f"Found {num_edges} edges.")
                round_attrs = top.attr_items
                if expand_mode:
                    sc, up = _typed_preds(step.select(F.col(DST).alias(SUBJECT)).distinct())
                    round_attrs = sc
                    new_preds = list(dict.fromkeys(uid_preds + up))
                    nt = _build_tagged(new_preds)
                    if nt is not None:
                        tagged = nt
                self._recurse_round_levels(
                    d, step, branches, round_attrs, tag_of, spec_of_tag,
                    level_of)
                front = step.select("_bh", F.col(DST).alias(SUBJECT)).distinct()
                visited = visited.unionByName(front.select(SUBJECT))
                d += 1
            if stop:
                break
        for a in top.attr_items:
            if a.var:
                # `a as name` under @recurse: the value var spans every
                # node reached at ANY depth (query/recurse.go assigns
                # vars from the full expansion)
                self._register_attr_var(a, visited.distinct(), top)
        for tag, var in var_of_tag.items():
            acc = self.env.pop(f"__rec_{var}", None)
            if acc is None:
                acc = self.spark.createDataFrame([], f"{SUBJECT} long")
            self.env[var] = acc.distinct()
        return top

    def _recurse_round_levels(self, d: int, step: DataFrame, branches,
                              round_attrs, tag_of: dict,
                              spec_of_tag: dict, level_of: dict) -> None:
        """Driver-side Level-tree assembly for one @recurse round from
        its collected (parent branch, pred, branch) summary rows."""
        for row in sorted(branches, key=lambda r: (r["_pbh"], r["_pred"])):
            parent = level_of.get((d - 1, row["_pbh"]))
            if parent is None:
                continue
            tag = row["_pred"]
            pred, rev = tag_of[tag]
            spec = spec_of_tag.get(tag)
            sub = Block(alias=tag, attr=pred, reverse=rev, facets=spec)
            ecols = [SRC, DST] + ([FACETS] if FACETS in step.columns else [])
            e = step.where(F.col("_bh") == row["_bh"]).select(*ecols)
            if spec is not None and spec.order and FACETS in e.columns:
                # @facets(orderasc/desc: f) under @recurse: rank the
                # round's edges per parent by the typed facet value
                # (query/recurse.go applies the facet sort per level)
                okeys = []
                for o in spec.order:
                    texpr, _agg, kind = self._typed_facet(e, o.key)
                    if kind == "bool":
                        continue  # nonsortable (types/sort.go)
                    okeys.append(texpr.desc_nulls_last() if o.desc
                                 else texpr.asc_nulls_last())
                okeys.append(F.col(DST).asc())
                e = e.withColumn(RANK, F.row_number().over(
                    Window.partitionBy(SRC).orderBy(*okeys)))
            else:
                e = e.withColumn(RANK, F.col(DST))
            lvl = Level(block=sub, edges=e, depth=d)
            lvl.attr_items = list(round_attrs)
            parent.children.append(lvl)
            level_of[(d, row["_bh"])] = lvl

    # ============================================================= shortest
    def _run_shortest(self, block: Block) -> Level | None:
        """shortest(from, to, numpaths) — iterative Dijkstra on DataFrames
        (query/shortest.go:457). Weights: @facets(weight) on the edge
        blocks, else hop count. Registers the path uid var if `as` given."""
        sp = block.shortest

        def _ep(v):
            # endpoint is a uid literal or a uid variable holding ONE uid
            # (query/shortest.go expandVars); an EMPTY variable means no
            # source/target -> no path, not an error
            if isinstance(v, int):
                return v
            vdf = self.env.get(str(v))
            if vdf is None:
                raise KeyError(f"undefined uid variable {v!r} in shortest from/to")
            rows = vdf.select(SUBJECT).limit(2).collect()
            if len(rows) == 0:
                return None
            if len(rows) > 1:
                raise ValueError("shortest: from/to variable must hold exactly one uid")
            return rows[0][SUBJECT]

        src, dst = _ep(sp.from_), _ep(sp.to)
        if src is None or dst is None or sp.depth == 0:
            self._last_shortest = None
            self._last_shortest_wkeys = {}
            if block.var:
                self.env[block.var] = self.spark.createDataFrame([], f"{SUBJECT} long")
            return None
        numpaths = sp.numpaths or 1

        preds: list[tuple[str, bool, str | None, object]] = []
        for c in block.children:
            if isinstance(c, Block):
                wkey = None
                if c.facets and (c.facets.keys or c.facets.vars):
                    wkey = c.facets.keys[0][0] if c.facets.keys else list(c.facets.vars.values())[0]
                if self.g.has_pred(c.attr):
                    preds.append((c.attr, c.reverse, wkey, c.filter))
            elif isinstance(c, Attr) and self.g.has_pred(c.name) and self.g.schema.get(c.name).is_uid:
                wkey = None
                if c.facets and c.facets.keys:
                    wkey = c.facets.keys[0][0]
                preds.append((c.name, False, wkey, c.filter))
        if not preds:
            raise ValueError("shortest block needs at least one edge predicate")

        # unified weighted edge relation, tagged with the pred taken and
        # the raw facet value (for `pred|facet` output siblings). Missing
        # facet => cost 1.0 (query/shortest.go:108 getCost default)
        edge_frames = []
        for pi, (pred, rev, wkey, filt) in enumerate(preds):
            e = self.g.edge(pred, reverse=rev)
            tag = ("~" + pred) if rev else pred
            if filt is not None:
                # @filter on a shortest edge block restricts the nodes the
                # path may pass through (query/shortest.go copyFiltersRecurse)
                fc = FuncCompiler(self.g, self.env, self.var_uids)
                keep = fc.filter(filt, e.select(F.col(OBJECT).alias(SUBJECT)).distinct())
                e = e.join(keep.select(F.col(SUBJECT).alias(OBJECT)), OBJECT, "left_semi")
            if wkey:
                # @facets(weight) requested: an edge WITHOUT the facet is
                # skipped entirely (query/shortest.go:52 errFacet ->
                # expandOut drops the edge), not costed 1.0
                if "facets" not in e.columns:
                    continue
                wf = F.col(f"facets.{wkey}").cast("double")
                e = e.where(wf.isNotNull())
                edge_frames.append(e.select(
                    SUBJECT, OBJECT, wf.alias("_w"), wf.alias("_wf"),
                    F.lit(tag).alias("_pred"), F.lit(pi).alias("_pi"),
                ))
            else:
                edge_frames.append(e.select(
                    SUBJECT, OBJECT, F.lit(1.0).alias("_w"),
                    F.lit(None).cast("double").alias("_wf"),
                    F.lit(tag).alias("_pred"), F.lit(pi).alias("_pi"),
                ))
        if not edge_frames:
            self._last_shortest = None
            self._last_shortest_wkeys = {}
            if block.var:
                self.env[block.var] = self.spark.createDataFrame([], f"{SUBJECT} long")
            return None
        edges = edge_frames[0]
        for e in edge_frames[1:]:
            edges = edges.unionByName(e)
        if len(edge_frames) > 1:
            # when two preds carry the same (from, to) edge, the LAST one
            # in query order wins (query/shortest.go:219 expandOut
            # overrides the adjacency entry per subgraph in child order)
            wp = Window.partitionBy(SUBJECT, OBJECT).orderBy(F.col("_pi").desc())
            edges = (edges.withColumn("_rn", F.row_number().over(wp))
                     .where(F.col("_rn") == 1).drop("_rn"))
        edges = edges.drop("_pi")
        # the unified weighted edge relation is re-joined every relaxation
        # round (and every depth-ball round). Persist it once per GRAPH,
        # not per query: like dgraph's adjacency tablets, the relation is
        # an index structure amortized across calls (the Graph is
        # immutable — mutations build a new Graph, so no invalidation is
        # needed). Filtered edge blocks may reference query variables, so
        # only the unfiltered shape is cached.
        cacheable = all(f is None for _p, _r, _wk, f in preds)
        ckey = ("shortest_edges",) + tuple(
            (p, r, wk) for p, r, wk, _f in preds)
        rel_cache = self.g.__dict__.setdefault("_loop_rel_cache", {})
        if cacheable and ckey in rel_cache:
            edges = rel_cache[ckey]
        else:
            edges = edges.persist()
            if cacheable:
                rel_cache[ckey] = edges
        edges_cached = edges if not cacheable else None

        unit_weights = all(wkey is None for _p, _r, wkey, _f in preds)
        spark = self.spark
        if sp.depth is not None:
            # `depth: k` bounds the BFS EXPANSION (k rounds of edge
            # loading from the source), not the path length: paths may
            # use any edge whose source lies within distance k-1 of
            # `from` (query/shortest.go:306 ExploreDepth / numHops)
            ball = spark.createDataFrame([(src,)], f"{SUBJECT} long")
            frontier_b = ball
            ball_n, front_n = 1, 1
            for _ in range(sp.depth - 1):
                bcf = F.broadcast if front_n <= BROADCAST_ROW_CAP else (lambda d: d)
                nxt = (
                    bcf(frontier_b).join(edges, SUBJECT, "inner")
                    .select(F.col(OBJECT).alias(SUBJECT)).distinct()
                    .join(ball, SUBJECT, "left_anti")
                    # lazy: the count below materializes in the same job
                    .localCheckpoint(eager=False)
                )
                front_n = nxt.count()
                if front_n == 0:
                    break
                ball_n += front_n
                ball = ball.unionByName(nxt)
                frontier_b = nxt
            bcb = F.broadcast if ball_n <= BROADCAST_ROW_CAP else (lambda d: d)
            edges = edges.join(bcb(ball), SUBJECT, "left_semi")
        _schema = ("node long, dist double, path array<long>, "
                   "preds array<string>, wfs array<double>")
        paths = spark.createDataFrame([(src, 0.0, [src], [], [])], _schema)
        found_rows: list[tuple] = []
        found_any = False
        num_edges = 0  # cumulative expansions (query/shortest.go:231)

        # ---- destination lookahead (BFS fast path). With unit weights
        # and numpaths=1, a frontier node adjacent to `dst` proves the
        # minimal distance WITHOUT running the final round's full
        # expansion job: the round's stats aggregate also counts
        # frontier∩parents(dst), and on a hit the answer paths are
        # assembled by extending those rows with the one m->dst edge.
        # Saves one full round job per query — the last round is the
        # widest. Gated off when a tight edge cap is set: the skipped
        # final expansion would change the reference's cumulative
        # edge-count bookkeeping (query/shortest.go:231) that the cap
        # error reports.
        lookahead = (
            unit_weights and numpaths == 1 and sp.maxweight is None
            and sp.maxfrontiersize is None
            and self.limit_query_edge >= 1_000_000
        )
        if lookahead:
            dst_in = edges.where(F.col(OBJECT) == dst).select(
                F.col(SUBJECT).alias("node"),
                F.col("_w").alias("_dw"), F.col("_wf").alias("_dwf"),
                F.col("_pred").alias("_dpred"),
            )

        # rounds extend simple paths one edge at a time; path-level cycle
        # avoidance bounds length by the node count, the cap is a backstop
        paths_n = 1
        loop_conf = SmallLoopConf(spark)
        try:
            for _round in range(64):
                loop_conf.adapt(paths_n)
                # frontier is small relative to the edge relation: ship it to
                # the edges (dgraph ships uid lists to tablets — same idea);
                # size-gated so a blown-up path frontier falls back to a
                # shuffle join instead of OOMing the executors
                bcp = F.broadcast if paths_n <= BROADCAST_ROW_CAP else (lambda d: d)
                grown = (
                    bcp(paths).join(edges, paths.node == edges[SUBJECT], "inner")
                    .where(~F.array_contains(F.col("path"), F.col(OBJECT)))
                    .select(
                        F.col(OBJECT).alias("node"),
                        (F.col("dist") + F.col("_w")).alias("dist"),
                        F.concat(F.col("path"), F.array(F.col(OBJECT))).alias("path"),
                        F.concat(F.col("preds"), F.array(F.col("_pred"))).alias("preds"),
                        F.concat(F.col("wfs"), F.array(F.col("_wf"))).alias("wfs"),
                    )
                )
                if sp.maxweight is not None:
                    grown = grown.where(F.col("dist") <= sp.maxweight)
                # keep top-k cheapest frontier paths per node to bound growth;
                # with unit weights every frontier path has equal dist, so
                # top-1 is ANY one — dropDuplicates plans as a hash-agg
                # instead of a window sort (smaller plan, same answer)
                if unit_weights and numpaths == 1:
                    grown = grown.dropDuplicates(["node"])
                else:
                    w = Window.partitionBy("node").orderBy(F.col("dist").asc())
                    grown = grown.withColumn("_rn", F.row_number().over(w)).where(
                        F.col("_rn") <= numpaths
                    ).drop("_rn")
                if sp.maxfrontiersize is not None:
                    # maxfrontiersize: keep only the cheapest N candidate
                    # paths globally (query/shortest.go:408 pops the queue
                    # past the cap — bounded memory, possibly suboptimal
                    # answers, by design). orderBy().limit() compiles to
                    # TakeOrdered — per-partition top-N then merge.
                    grown = grown.orderBy(F.col("dist").asc()).limit(sp.maxfrontiersize)
                extra_cols = []
                if lookahead:
                    # tag frontier rows adjacent to dst (AQE broadcasts the
                    # small in-edge side; a celebrity dst degrades to a
                    # shuffle join instead of a forced broadcast)
                    grown = grown.join(
                        dst_in.withColumn("_adj", F.lit(True)), "node", "left")
                    extra_cols = ["_adj", "_dw", "_dwf", "_dpred"]
                # lazy checkpoint: the stats action computes, caches, and
                # lineage-truncates the round in ONE job. Skipped for
                # the first two rounds — localCheckpoint finalizes the
                # plan eagerly (~0.35 s of driver work per call, the
                # single largest cost of a short query), and a 1-2-join
                # lineage recomputes in milliseconds. BFS levels are
                # deterministic; only which equal-distance witness path
                # survives dropDuplicates may differ on recompute, and
                # any witness is a valid answer (query/shortest.go
                # returns an arbitrary one of the tied routes too).
                if _round >= 2:
                    grown = grown.localCheckpoint(eager=False)
                # ONE action per round decides the loop AND carries the
                # answer rows out: dst hits ride the same aggregate as
                # collect_list (bounded — the per-node prune leaves at
                # most `numpaths` rows with node == dst), the lookahead
                # witness as any_value (lookahead implies numpaths=1,
                # where any witness is a valid answer). No separate
                # `found` frame, no end-of-loop job, no recompute.
                hitcols = ["node", "dist", "path", "preds", "wfs"]
                aggs = [
                    F.count("*").alias("n"),
                    F.sum(F.when(F.col("node") == dst, 1).otherwise(0)).alias("h"),
                    F.collect_list(
                        F.when(F.col("node") == dst,
                               F.struct(*hitcols))).alias("hits"),
                ]
                if lookahead:
                    adj = (F.col("_adj")
                           & ~F.array_contains(F.col("path"), F.lit(dst)))
                    aggs.append(F.sum(F.when(adj, 1).otherwise(0)).alias("a"))
                    aggs.append(F.any_value(
                        F.when(adj, F.struct("dist", "path", "preds", "wfs",
                                             "_dw", "_dwf", "_dpred")),
                        True).alias("ahit"))
                stats = grown.agg(*aggs).collect()[0]
                if stats["n"] == 0:
                    break
                paths_n = stats["n"]
                num_edges += stats["n"]
                if num_edges > self.limit_query_edge:
                    raise ResourceLimitError(
                        f"Exceeded query edge limit = {self.limit_query_edge}. "
                        f"Found {num_edges} edges.")
                found_rows.extend(
                    (r["node"], r["dist"], list(r["path"]),
                     list(r["preds"]), list(r["wfs"]))
                    for r in stats["hits"])
                if unit_weights and stats["h"] > 0 and not found_any:
                    found_any = True
                    if numpaths == 1:
                        # BFS with unit weights: first hit is provably minimal
                        break
                if lookahead and stats["a"] > 0:
                    # frontier touches parents(dst): minimal dist is this
                    # round + 1; extend the witness row with the one
                    # m->dst edge instead of running the final round
                    r = stats["ahit"]
                    found_rows.append((
                        dst, r["dist"] + r["_dw"],
                        list(r["path"]) + [dst],
                        list(r["preds"]) + [r["_dpred"]],
                        list(r["wfs"]) + [r["_dwf"]],
                    ))
                    found_any = True
                    break
                paths = grown.drop(*extra_cols)
            # global top-k over the handful of found paths in Python —
            # the local result frame makes the caller's collect free
            found_rows.sort(key=lambda r: (r[1], len(r[2])))
            frows = found_rows[:numpaths]
            if sp.minweight is not None:
                frows = [r for r in frows if r[1] >= sp.minweight]
            # single slice: the default parallelize would schedule 32
            # tasks for a handful of rows on every downstream collect
            result = spark.createDataFrame(
                spark.sparkContext.parallelize(frows, 1)
                if frows else [], _schema)
        finally:
            loop_conf.exit()
        # every surviving frame (found / grown) was checkpointed, so
        # nothing downstream re-reads the per-query edge relation;
        # graph-cached relations stay persisted for the next query
        if edges_cached is not None:
            edges_cached.unpersist()
        if block.var:
            # the path var holds the FIRST (best) route's nodes, in path
            # order (query/shortest.go:424 DestUIDs = kroutes[0]); _frank
            # preserves that order through uid(var) roots
            self.env[block.var] = (
                result.limit(1)
                .select(F.posexplode("path").alias("_frank", SUBJECT))
                .select(SUBJECT, "_frank")
            )
        self._last_shortest = result
        # pred tag -> requested facet key (for `pred|key` output siblings)
        self._last_shortest_wkeys = {
            (("~" + p) if r else p): wk for p, r, wk, _f in preds
        }
        return None

    # ========================================================= JSON assembly
    def _block_json(self, block: Block) -> list | None:
        if block.shortest is not None:
            self._run_shortest(block)
            if self._last_shortest is None:
                return None  # `_path_` key omitted entirely when no path
            rows = self._last_shortest.collect()
            wkeys = self._last_shortest_wkeys
            out = []
            for r in rows:
                uids, preds, wfs = r["path"], r["preds"], r["wfs"]
                # nested per-hop shape (query/outputnode.go shortest):
                # root {uid, _weight_, <pred>: {uid, <pred|facet>, <pred>: ...}}
                child = None
                for j in range(len(uids) - 1, 0, -1):
                    d = {"uid": _uid_hex(uids[j])}
                    wk = wkeys.get(preds[j - 1])
                    if wk is not None and wfs[j - 1] is not None:
                        d[f"{preds[j - 1]}|{wk}"] = wfs[j - 1]
                    if child is not None:
                        d[preds[j]] = child
                    child = d
                root = {"uid": _uid_hex(uids[0]), "_weight_": r["dist"]}
                if child is not None:
                    root[preds[0]] = child
                out.append(root)
            return out or None  # no path: omit the `_path_` key
        if block.func is None and not block.is_var_block:
            # aggregation-only block over variables
            return self._agg_only_json(block)
        self._block_alias = block.alias
        level = self._run_block(
            block, collect=block.groupby is None and not _count_uid_only(block))
        if level is None:
            return []
        if block.groupby is not None:
            return self._groupby_json(level)
        if _count_uid_only(block):
            # count-at-root fast exit (query/query.go:2278); root
            # frontiers are unique by construction (see _nodes)
            n = self._nodes(level).count()
            alias = next(
                (a.alias for a in block.children if isinstance(a, Attr) and a.is_count),
                None,
            )
            return [{alias or "count": n}]
        payload = self._encode(level)
        rows = self._reached(level, None).get(None, [])
        # nodes with no requested data are omitted (dgraph JSON behavior)
        out = [d for d in (_clean(payload[r[DST]]) for r in rows) if d]
        if block.normalize:
            aliased = _aliased_names(block)
            out = [
                d
                for d in itertools.chain.from_iterable(
                    _normalize(d, aliased) for d in out
                )
                if d  # fully-unaliased rows flatten to nothing
            ]
        cnt_attrs = [a for a in block.children
                     if isinstance(a, Attr) and a.is_count and a.name == "uid"]
        if cnt_attrs:
            # count(uid) beside other attrs: one `{count: n}` node per
            # count child leads the result list (query/outputnode.go)
            n = len({r[DST] for r in rows})
            out = [{a.alias or "count": n} for a in cnt_attrs] + out
        return out

    def _is_bigfloat(self, a: Attr) -> bool:
        """Whether an attr's values are lexical 200-bit bigfloats: a read
        of a bigfloat predicate, val() or an aggregate of a bigfloat var,
        math() bound to or over bigfloat vars."""
        if a.is_count:
            return False
        if a.val_var is None and a.math is None:
            base = a.name.lstrip("~")
            return self.g.schema.has(base) and self.g.schema.get(base).typ == "bigfloat"
        if a.val_var is not None and a.val_var in self.var_bigfloat:
            return True
        if a.math is None:
            return False
        return (a.var in self.var_bigfloat if a.var
                else bool(math_vars(a.math) & self.var_bigfloat))

    def _agg_only_json(self, block: Block) -> list:
        """Empty (no-func) block of aggregates + math, e.g.
        ``me() { m1 as min(val(x)) m2 as max(val(x)) math(m2 - m1) }``
        (query/query.go empty-uid blocks carry scalar aggregates).
        Aggregates evaluate first (any lexical order); math() then reads
        the block-local scalars, falling back to collapsing an
        environment var with ITS defining aggregate — never a blanket
        SUM."""
        # each aggregate / math renders as its OWN single-key node, in
        # query order: me() {min(val(a)) max(val(a))} ->
        # [{"min(val(a))": x}, {"max(val(a))": y}] (query/outputnode.go
        # one fastJsonNode per aggregate child)
        out: list[dict] = []
        scalars: dict = {}
        ordered_attrs = [a for a in block.children if isinstance(a, Attr)]
        for attr in ordered_attrs:
            if attr.name in _AGG_ATTRS and attr.val_var:
                vdf = self.env.get(attr.val_var)
                val = self._fold_var(attr.name, attr.val_var)
                if val is not _NO_FOLD:
                    pass  # folded on the driver from the var's map
                elif vdf is None:
                    val = None  # var over an absent predicate: null result
                else:
                    bigfloat = attr.val_var in self.var_bigfloat
                    val = vdf.agg(_agg_fn(attr.name, bigfloat)(VALUE).alias("v")
                                  ).collect()[0]["v"]
                    if bigfloat:
                        # the shortest decimal that round-trips
                        # (TestBigFloatSum/Avg/Max pin the exact digits)
                        val = _render_bigfloat(val)
                if isinstance(val, _dt.datetime):
                    # aggregates render like every other datetime:
                    # RFC3339 (the raw collected object leaked before)
                    val = _render_datetime(val)
                elif isinstance(val, _dt.date):
                    val = val.isoformat() + "T00:00:00Z"
                if attr.var:
                    scalars[attr.var] = val
                    self._register_scalar_var(attr.var, val)
                # unaliased key is the full form `sum(val(a))`
                # (query/outputnode.go aggregate key naming)
                out.append({_value_key(attr): val})
        for attr in ordered_attrs:
            if attr.math is None:
                continue
            for v in sorted(math_vars(attr.math)):
                if v in scalars:
                    continue
                # var defined in another block: collapse with its
                # defining aggregate (min of per-parent mins == global
                # min, etc.). A var that was NOT aggregate-defined is
                # rejected (query/query.go:379 ErrWrongAgg)
                vdf = self.env.get(v)
                if vdf is None:
                    scalars[v] = None
                    continue
                agg = self.var_agg.get(v)
                if agg is None and v not in self.scalar_vars:
                    raise ValueError(
                        "Only aggregated variables allowed within empty "
                        "block.")
                x = self._fold_var(agg or "sum", v)
                scalars[v] = (x if x is not _NO_FOLD else vdf.agg(
                    _agg_fn(agg or "sum")(VALUE).alias("v")).collect()[0]["v"])
            if any(scalars.get(n) is None for n in math_vars(attr.math)):
                val = None
            else:
                col = compile_math(attr.math, lambda n: F.lit(scalars[n]))
                val = self.spark.range(1).select(col.alias("v")).collect()[0]["v"]
            key = _value_key(attr)
            if attr.var:
                self._register_scalar_var(attr.var, val)
            out.append({key: val})
        # null-valued nodes stay ({"sum(val(m))": null} is emitted)
        return out

    def _register_scalar_var(self, var: str, val) -> None:
        """Aggregate-output var: a one-entry map on the sentinel uid
        (query/query.go:1053 'uid 0'); empty when the aggregate had no
        input."""
        self.scalar_vars.add(var)
        self.var_vals[var] = {} if val is None else {-1: val}
        if val is None:
            self.env[var] = self.spark.createDataFrame(
                [], f"{SUBJECT} long, {VALUE} double")
        else:
            self.env[var] = self.spark.createDataFrame(
                [(-1, val)], [SUBJECT, VALUE])

    # ======================================================= level collection
    def _collect_level(self, level: Level, root: bool,
                       row_cap: int | None = None) -> None:
        """Collect one level's edge rows to the driver (execute() only).

        A fused root collects its same-home attribute columns in the same
        scan (as _block_flat does). A level whose pagination waits for
        @cascade collects ranked but unpaged rows (_page_rows pages the
        survivors) and keeps the semi-join frontier, so its children see
        exactly the node set they would without collection. A level of
        more than ``row_cap`` rows is left uncollected (rows None)."""
        block = level.block
        if level.parent is not None and level.parent.rows == []:
            level.rows = []  # nothing to expand from: skip the job
        else:
            edges = level.edges
            if level.defer_pagination:
                edges = self._sort_paginate(block, edges, root, paginate=False)
            # a fused scan ranks by uid: the root's rank only while the
            # root has no order (an ordered root keeps _sort_paginate's)
            if level.fused is not None and not (
                    block.order or (block.facets and block.facets.order)):
                home, cond = level.fused
                batch, _rest = self._split_batchable(
                    [a for a in block.children
                     if isinstance(a, Attr) and a.expand is None])
                items = batch.get(home, [])
                level.row_attrs = [(a, f"_f{i}") for i, (a, _c) in enumerate(items)]
                edges = self.g.wide[home].where(cond).select(
                    F.col(SUBJECT).alias(DST), F.col(SUBJECT).alias(RANK),
                    *[F.col(c).alias(f"_f{i}") for i, (_a, c) in enumerate(items)])
            # a child level with no order and no paging ranks its rows by
            # uid under each parent: rank them here, so Spark prunes the
            # per-parent window and its shuffle
            by_uid = (level.parent is not None and not block.order
                      and not (block.facets and block.facets.order)
                      and block.first is None and block.offset is None
                      and block.after is None)
            edges = edges.drop(PATH, *([RANK] if by_uid else []))
            with self._job_desc(level):
                if row_cap is None:
                    rows = edges.collect()
                else:
                    # at most row_cap + 1 rows from each partition, in one
                    # job: a limit() collect scans the partitions in
                    # rounds, a job each (the low 33 bits of the id count
                    # the rows of a partition)
                    rows = edges.where(F.monotonically_increasing_id().bitwiseAND(
                        (1 << 33) - 1) <= row_cap).collect()
                    if len(rows) > row_cap:
                        return
            level.rows = [r.asDict(recursive=True) for r in rows]
            if by_uid:
                for r in level.rows:
                    r[RANK] = r[DST]
        uids = list(dict.fromkeys(r[DST] for r in level.rows))
        if len(uids) <= LITERAL_FRONTIER_MAX and not level.defer_pagination:
            level.uids = uids
            level.nodes = uid_frame(self.spark, uids)

    def _literal_uids(self, nodes: DataFrame, level: Level | None) -> list[int] | None:
        """The uid list behind `nodes` when it is `level`'s literal set."""
        if level is not None and level.nodes is not None and nodes is level.nodes:
            return level.uids
        return None

    def _restrict(self, nodes: DataFrame, df: DataFrame,
                  level: Level | None) -> DataFrame:
        """``nodes.join(df, subject)``: a literal `subject IN (...)` filter
        when `nodes` is the level's collected uid set — one scan job, no
        join against a local relation (which costs a broadcast job)."""
        uids = self._literal_uids(nodes, level)
        if uids is not None:
            return df.where(_isin(SUBJECT, uids))
        return nodes.join(df, SUBJECT, "inner")

    def _wide_rel(self, home: str, cols: list[tuple[str, str]],
                  nodes: DataFrame, level: Level) -> DataFrame:
        """(subject, out...) rows of a wide node table for `nodes`. A
        literal uid set filters the raw key column where the home's uids
        are affine in it (Graph.wide_uid_key), so parquet stats prune."""
        wide = self.g.wide[home]
        sel = [F.col(SUBJECT)] + [F.col(c).alias(o) for c, o in cols]
        uids = self._literal_uids(nodes, level)
        if uids is None:
            return nodes.join(wide.select(*sel), SUBJECT, "inner")
        key = self.g.wide_uid_key.get(home)
        if key is None:
            return wide.where(_isin(SUBJECT, uids)).select(*sel)
        # uids outside the home's range cannot match; leaving them out
        # keeps the literals in the key column's type, so the filter
        # still pushes into the parquet scan
        kcol, base = key
        lo, hi = self.g.type_uid_ranges.get(home, (-(1 << 63), 1 << 63))
        keys = [u - base for u in uids if lo <= u < hi]
        return wide.where(_isin(kcol, keys)).select(*sel)

    @contextmanager
    def _job_desc(self, level: Level):
        """Name the Spark jobs of one level "<block alias> L<depth>";
        the caller's description is restored afterwards."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"{self._block_alias} L{level.depth}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    def _page_rows(self, block: Block, rows: list[dict]) -> list[dict]:
        """first/offset over rank-ordered rows of ONE parent (or the
        root), after @cascade pruning. Negative first = the last N, with
        offset ignored (x/x.go PageRange)."""
        first, offset = block.first, block.offset or 0
        if first is not None and first < 0:
            return rows[first:]
        return rows[offset:] if first is None else rows[offset:offset + first]

    def _reached(self, level: Level, parents) -> dict:
        """Parent uid -> the encoded level's rows from that parent to a
        node that survives @cascade, in rank order; paged here when the
        level's pagination waited for @cascade (query/query.go:3004-3011).
        ``parents`` (uids) keeps only rows from those parents; None at the
        root, whose rows form one group under None."""
        groups: dict = {}
        for r in _by_rank(level.rows):
            src = None if parents is None else r[SRC]
            if r[DST] in level.values and (parents is None or src in parents):
                groups.setdefault(src, []).append(r)
        if level.defer_pagination:
            groups = {s: self._page_rows(level.block, rs) for s, rs in groups.items()}
        return groups

    # ========================================================= level encoding
    def _encode(self, level: Level, render: bool = True) -> dict | None:
        """uid -> raw payload dict for every node of a collected level that
        survives @cascade: the attrs, then one list (or object) per child
        block — the dicts _clean()/_normalize() render (query/outputnode.go
        ToJson). Attribute relations of a level are read in ONE collect (a
        tagged union) through its node set; values already on the level's
        rows (a fused root's columns, in-row columns of the edge that
        reached the node) are taken from there. Those per-node values are
        kept on the level (Level.values) for execute_rdf(); the payload
        renders bigfloats as decimals.

        On a level with a literal uid set (Level.uids) the vars its attrs
        define are bound on the driver from those values (_binds_on_driver),
        and val() reads and aggregates of driver-bound vars are filled in
        from the driver maps (_fold_val) with no Spark job. Child levels
        are encoded first, so the vars they bind are there for this
        level's aggregates. ``render=False`` (var blocks) reads only the
        attrs whose vars bind on the driver and builds no payload."""
        # a level collected as _descend reached it (not an @recurse round)
        driver = level.uids is not None
        if level.rows is None:
            self._collect_level(level, root=level.parent is None)  # @recurse rounds
        block = level.block
        casc = block.cascade  # [] = all children required

        def required(name, out) -> bool:
            return casc is not None and (not casc or name in casc or out in casc)

        cpays = {id(ch): self._encode(ch, render) for ch in level.children
                 if ch.block.groupby is None and (render or ch.rows is not None)}
        attrs = level.attr_items if render else [
            a for a in level.attr_items
            if driver and a.var in self._driver_reads and self._binds_on_driver(a)]
        nodes = self._nodes(level)
        vals: dict = {r[DST]: {} for r in level.rows}
        fields: list[str] = []   # payload keys
        checks: list[str] = []   # keys @cascade requires non-empty
        bigfloat: set[str] = set()  # keys holding lexical bigfloats
        level.attr_keys = {}
        rels: list[tuple[DataFrame, list[str]]] = []
        local: dict[str, tuple] = {}  # var -> (relation thunk, column)
        binds: list[tuple[str, str]] = []  # (var, key) bound from `vals`

        def keep(attr: Attr, key: str) -> None:
            level.attr_keys[id(attr)] = key
            if self._is_bigfloat(attr):
                bigfloat.add(key)
            if (driver and attr.var and attr.val_var is None
                    and self._binds_on_driver(attr)):
                binds.append((attr.var, key))

        on_row = {a.out_name: k
                  for a, k in level.row_attrs + self._inrow_attrs(level)}
        batch, rest = self._split_batchable(attrs)
        for home, items in batch.items():
            fetch = []
            for a, c in items:
                fields.append(a.out_name)
                keep(a, a.out_name)
                if a.out_name in on_row:
                    for r in level.rows:
                        vals[r[DST]][a.out_name] = r[on_row[a.out_name]]
                else:
                    fetch.append((c, a.out_name))
                if a.var:
                    local[a.var] = (lambda h=home, c=c, o=a.out_name:
                                    self._wide_rel(h, [(c, o)], nodes, level),
                                    a.out_name)
                if required(a.name, a.out_name):
                    checks.append(a.out_name)
            if fetch:
                rels.append((self._wide_rel(home, fetch, nodes, level),
                             [o for _c, o in fetch]))
        for attr in rest:
            if attr.math is not None:
                continue
            if attr.val_var is not None and (
                    attr.name == "val" or attr.name in _AGG_ATTRS):
                m = (self.var_vals.get(attr.val_var) if attr.name == "val"
                     else self._fold_val(attr, level))
                if m is not None:
                    out = _value_key(attr)
                    for u, d in vals.items():
                        if u in m:
                            d[out] = m[u]
                    fields.append(out)
                    level.attr_keys[id(attr)] = out
                    if driver and attr.var and attr.name != "val":
                        self.var_vals[attr.var] = m
                    if required(attr.name, attr.out_name):
                        checks.append(out)
                    continue
                if not render:
                    continue  # an aggregate left to Spark binds lazily
            base = attr.name.lstrip("~")
            if (not attr.is_count and attr.val_var is None
                    and self.g.has_pred(base) and self.g.schema.get(base).is_uid):
                # bodyless uid-pred attr (`B as friend`): renders nothing,
                # but under @cascade the EDGE must exist
                # (query/query.go applyCascade counts uid children too)
                if required(attr.name, attr.out_name):
                    key = f"_has_{attr.out_name}"
                    e = self.g.edge(base, reverse=attr.name.startswith("~"))
                    rels.append((self._restrict(nodes, e, level).select(SUBJECT)
                                 .distinct().withColumn(key, F.lit(True)), [key]))
                    checks.append(key)
                continue
            if attr.name == "uid" and not attr.is_count:
                out = attr.alias or "uid"
                for u in vals:
                    vals[u][out] = _uid_hex(u)
                fields.append(out)
                level.attr_keys[id(attr)] = out
                if attr.var and driver:
                    self.var_vals[attr.var] = {u: u for u in vals}
                if attr.var and render:
                    col_df = self._attr_output(attr, nodes, level)[0]
                    local[attr.var] = (lambda d=col_df: d, out)
                continue
            col_df, out, _multi = self._attr_output(attr, nodes, level)
            if col_df is None:
                continue
            # facet sibling columns (`pred|key` / `pred|` map) ride along
            keys = [out] + [c for c in col_df.columns if c not in (SUBJECT, out)]
            fields.extend(keys)
            keep(attr, out)
            rels.append((col_df, keys))
            if attr.var:
                local[attr.var] = (lambda d=col_df: d, out)
            if required(attr.name, attr.out_name):
                checks.append(out)
        for attr in (a for a in rest if a.math is not None):
            needed = math_vars(attr.math)
            if needed <= set(local) and not (needed & self.var_bigfloat):
                # every operand is an attr of this level: one projection
                # over the operand columns instead of the var-join plan
                out = _value_key(attr)
                frame = nodes
                for v in sorted(needed):
                    make, col = local[v]
                    if col not in frame.columns:
                        frame = frame.join(make().select(SUBJECT, _qc(col)),
                                           SUBJECT, "left")
                ddt = dict(frame.dtypes)
                expr = compile_math(
                    attr.math, lambda n: _qc(local[n][1]),
                    int_var=lambda n: ddt.get(local[n][1]) == "bigint")
                dom = [c for n, (_m, c) in local.items()
                       if n in needed and n not in self.scalar_vars]
                if dom:
                    # math domain = union of the regular operand maps
                    # (query/math.go MergeIterate): a node outside every
                    # operand map gets NO value, even though binary ops
                    # skip null operands
                    present = _qc(dom[0]).isNotNull()
                    for c in dom[1:]:
                        present = present | _qc(c).isNotNull()
                    expr = F.when(present, expr)
                col_df = frame.select(SUBJECT, expr.alias(out))
            else:
                col_df, out, _m = self._attr_output(attr, nodes, level)
                if col_df is None:
                    continue
            fields.append(out)
            keep(attr, out)
            rels.append((col_df, [out]))
            if required(attr.name, attr.out_name):
                checks.append(out)
        self._collect_attrs(level, nodes, rels, vals)
        for var, key in binds:
            self.var_vals[var] = {u: d[key] for u, d in vals.items() if key in d}
        if not render:
            return None

        used_names: dict[str, int] = {}
        for child in level.children:
            cb = child.block
            if cb.groupby is not None:
                # per-parent @groupby rendered as a one-element child
                # array [{"@groupby": [...]}] (query/groupby.go:358
                # processGroupBy per uidMatrix list)
                grouped, gcols, gmeta, acols = self._groupby_build(child, per_parent=True)
                if "_gsrc" not in grouped.columns:
                    continue
                key = self._child_key(cb, used_names)
                fields.append(key)
                pp = self._groupby_payload(grouped, gcols, gmeta, acols, True)
                with self._job_desc(child):
                    for r in pp.collect():
                        if r["_gsrc"] in vals:
                            vals[r["_gsrc"]][key] = [
                                {"@groupby": r.asDict(recursive=True)["_g"]}]
                continue
            cpay = cpays[id(child)]
            key = self._child_key(cb, used_names)
            fields.append(key)
            cnt_uid = next(
                (a for a in cb.children
                 if isinstance(a, Attr) and a.is_count and a.name == "uid"),
                None,
            )
            norm = ",".join(sorted(_aliased_names(cb))) if cb.normalize else None
            pmeta = self.g.schema.get(cb.attr) if self.g.schema.has(cb.attr) else None
            single = (pmeta is not None and pmeta.is_uid and not pmeta.list
                      and not cb.reverse
                      # a normalized child always renders as a list of
                      # flattened rows, even for non-list uid preds
                      and not cb.normalize)
            for src, crows in self._reached(child, vals).items():
                elems = [self._edge_payload(cb, key, r, cpay[r[DST]],
                                            cnt_uid, len(crows), norm)
                         for r in crows]
                if elems:
                    # a non-list uid predicate renders as an object, not
                    # a one-element array (query/outputnode.go list=false)
                    vals[src][key] = elems[0] if single else elems
            if required(cb.attr, cb.alias):
                checks.append(key)

        level.values = {u: v for u, v in vals.items()
                        if all(v.get(k) not in (None, []) for k in checks)}
        return {u: {k: _render_bigfloat(v.get(k)) if k in bigfloat else v.get(k)
                    for k in fields}
                for u, v in level.values.items()}

    def _binds_on_driver(self, a: Attr) -> bool:
        """Whether `v as <a>` can bind on the driver: the uid, a plain
        scalar read or count(pred), whose values _encode reads as the same
        (uid, value) rows the lazy binding (_attr_value_df) holds; or an
        aggregate over val(), which binds when _fold_val folds it."""
        if (a.var in self.var_bigfloat or a.math is not None
                or a.expand is not None or a.pwd is not None):
            return False
        if a.val_var is not None:
            return a.name in _AGG_ATTRS
        if a.name == "uid":
            return not a.is_count
        if not self.g.has_pred(a.name.lstrip("~")):
            return False
        if a.is_count:
            return True
        meta = self.g.schema.get(a.name)
        if meta.is_uid or meta.list or meta.typ == "password":
            return False
        if self.g.home_of(a.name) is not None and not a.langs:
            return True  # a wide-table column, read raw
        # a long-form read: _attr_output renders datetimes, gathers every
        # language of name@* and drops values a facet filter fails
        return (meta.typ != "datetime" and a.langs != ["*"]
                and (a.facets is None or a.facets.filter is None))

    def _fold_val(self, attr: Attr, level: Level) -> dict | None:
        """``min|max|sum|avg(val(v))`` at ``level`` folded on the driver
        from v's driver map: per parent over the collected rows of v's
        level when v is defined one level below ``level`` or outside its
        path, else one total for every node of ``level`` (the Spark plan
        of _attr_value_df: query/query.go evalLevelAgg).
        None leaves it to Spark: v not bound on the driver, defined more
        than one level down, or values the driver does not fold (_fold)."""
        v = attr.val_var
        m = self.var_vals.get(v)
        dl = self.var_level.get(v)
        if m is None or (dl is level and v not in self.scalar_vars):
            return None
        chain = self._var_chain(v, level)
        if chain is not None and len(chain) > 1:
            return None
        if dl is None or dl.parent is None:
            total = self._fold_var(attr.name, v)
            return None if total is _NO_FOLD else {r[DST]: total for r in level.rows}
        groups: dict = {}
        for r in dl.rows:
            if r[DST] in m:
                groups.setdefault(r[SRC], []).append(r[DST])
        out = {}
        for src, dsts in groups.items():
            x = _fold(attr.name, [m[d] for d in sorted(dsts)])
            if x is _NO_FOLD:
                return None
            out[src] = x
        return out

    def _fold_var(self, fn: str, v: str):
        """``fn`` over all of v's values, from its driver map (_fold);
        _NO_FOLD when v is not bound on the driver."""
        m = self.var_vals.get(v)
        return _NO_FOLD if m is None else _fold(fn, [m[u] for u in sorted(m)])

    def _collect_attrs(self, level: Level, nodes: DataFrame,
                       rels: list[tuple[DataFrame, list[str]]],
                       vals: dict) -> None:
        """Read every attribute relation of a level in ONE collect: the
        relations, restricted to the level's nodes, are tagged and
        unioned (missing columns null), and each row is scattered back
        into ``vals[uid]`` under its relation's keys."""
        if not rels or not vals:
            return
        union = None
        uids = self._literal_uids(nodes, level)
        for i, (rel, keys) in enumerate(rels):
            rel = (rel.where(_isin(SUBJECT, uids)) if uids is not None
                   else rel.join(nodes, SUBJECT, "left_semi"))
            part = rel.select(F.col(SUBJECT), F.lit(i).alias("_ai"),
                              *[_qc(k).alias(f"_c{i}_{j}") for j, k in enumerate(keys)])
            union = part if union is None else union.unionByName(
                part, allowMissingColumns=True)
        with self._job_desc(level):
            rows = union.collect()
        for row in rows:
            d = vals.get(row[SUBJECT])
            if d is None:
                continue
            r = row.asDict(recursive=True)
            i = r["_ai"]
            for j, k in enumerate(rels[i][1]):
                d[k] = r[f"_c{i}_{j}"]

    @staticmethod
    def _child_key(cb: Block, used_names: dict) -> str:
        """A child block's output key; a repeated name renders under a
        marker field merged into one array by _clean (outputnode.go
        appends same-name children to one list)."""
        name = _child_name(cb)
        n = used_names.get(name, 0)
        used_names[name] = n + 1
        return name if n == 0 else f"{name}#dgdup{n}"

    def _edge_payload(self, cb: Block, key: str, row: dict, node: dict,
                      cnt_uid, n: int, norm: str | None) -> dict:
        """One child array element: the child node's payload plus what
        rides on the edge that reached it."""
        el = dict(node)
        if cnt_uid is not None:
            # count(uid) inside a child block: an extra `{count: n}`
            # element of the child array (query/outputnode.go); _clean()
            # strips the sentinels and appends the count element
            el["__cnt__"] = n
            el["__cntkey__"] = cnt_uid.alias or "count"
        if norm is not None:
            # child-level @normalize: each child node flattens to its
            # aliased leaf paths at encode time (_clean splices the
            # expansion into the surrounding array;
            # query/outputnode.go:921 normalize)
            el["__norm__"] = norm
        spec = cb.facets
        if spec and FACETS in row:
            # edge facets as `pred|facet` keys of the child node
            # (query/outputnode.go facet sibling encoding); bare @facets
            # injects the whole facet map, expanded to per-key siblings
            # by _clean
            fac = row[FACETS] or {}
            if spec.all:
                el[f"{key}|"] = row[FACETS]
            for k, alias in (spec.keys or []):
                el[chr(1) + alias if alias else f"{key}|{k}"] = fac.get(k)
            for _var, k in (spec.vars or {}).items():
                # @facets(L as weight) both binds the var AND renders the
                # facet sibling
                if not any((a or f"{key}|{kk}") == f"{key}|{k}"
                           for kk, a in (spec.keys or [])):
                    el[f"{key}|{k}"] = fac.get(k)
            for o in (spec.order or []):
                # @facets(orderasc: f) also RENDERS the ordering facet
                # (query/query.go:1812 addFacetsToResult on sorted facets)
                if not any(kk == o.key for kk, _a in (spec.keys or [])) \
                        and o.key not in (spec.vars or {}).values():
                    el[f"{key}|{o.key}"] = fac.get(o.key)
        return el

    def _attr_output(self, attr: Attr, nodes: DataFrame, level: Level):
        """-> (DataFrame(subject, out_col), out_col name, multivalued?)"""
        out_name = attr.out_name
        if attr.name == "uid" and not attr.is_count:
            out = attr.alias or "uid"
            return (
                nodes.select(SUBJECT, _uid_hex_col(F.col(SUBJECT)).alias(out)),
                out,
                False,
            )
        if attr.name == "checkpwd" and attr.pwd is not None:
            # checkpwd(pred, "secret") output attr: always present, false
            # when the node has no password (worker/task.go:581)
            from dgraph_spark.functions.password import checkpwd as _ckp
            pred = attr.agg_pred or "password"
            ptyp = self.g.schema.get(pred).typ
            if self.g.schema.strict and ptyp != "password":
                # worker/task.go checkpwd type gate
                raise ValueError(
                    f"checkpwd fn can only be used on attr: [{pred}] with "
                    f"schema type password. Got type: {ptyp}")
            out = attr.alias or f"checkpwd({pred})"
            if not self.g.has_pred(pred):
                return nodes.select(SUBJECT, F.lit(False).alias(out)), out, False
            sdf = self.g.scalar(pred).select(SUBJECT, F.col(VALUE).alias("_pw"))
            cdf = nodes.join(sdf, SUBJECT, "left").select(
                SUBJECT,
                F.coalesce(_ckp(F.col("_pw"), attr.pwd), F.lit(False)).alias(out),
            )
            return cdf, out, False
        if (not attr.is_count and attr.val_var is None and attr.math is None
                and self.g.schema.has(attr.name)
                and self.g.schema.get(attr.name).typ == "password"):
            # password-typed values are never rendered (types/password.go)
            return None, "", False
        if attr.is_count:
            if attr.name == "uid":
                return None, "", False  # count(uid) handled at block level
            pred = attr.name
            reverse = pred.startswith("~")
            name = pred.lstrip("~")
            out = out_name if attr.alias else f"count({pred})"
            if not self.g.has_pred(name):
                # count of an unknown predicate: attribute omitted entirely
                # (nodes with no other data drop; query1_test
                # TestCountEmptyData3 expects [])
                return None, "", False
            return self._count_per_parent(attr, nodes, out, level), out, False
        if attr.math is not None or (attr.val_var and (
                attr.name == "val" or attr.name in _AGG_ATTRS)):
            vdf = self._attr_value_df(attr, nodes, level)
            if vdf is None:
                return None, "", False
            out = _value_key(attr)
            return vdf.select(SUBJECT, F.col(VALUE).alias(out)), out, False
        # plain scalar predicate
        name = attr.name
        if not self.g.has_pred(name) or self.g.schema.get(name).is_uid:
            return None, "", False
        sdf = self.g.scalar(name)
        if "vraw" in sdf.columns:
            # datetime output: values parsed from offset-bearing literals
            # render with their ORIGINAL offset (vraw), the rest as
            # RFC3339 UTC — matching Go time.Time marshalling
            frac = F.regexp_replace(F.date_format(F.col(VALUE), "SSSSSS"), "0+$", "")
            utc = F.concat(
                F.date_format(F.col(VALUE), "yyyy-MM-dd'T'HH:mm:ss"),
                F.when(frac == "", F.lit("")).otherwise(F.concat(F.lit("."), frac)),
                F.lit("Z"),
            )
            sdf = sdf.withColumn(VALUE, F.coalesce(F.col("vraw"), utc)).drop("vraw")
        out = out_name
        if attr.langs and not attr.alias:
            out = f"{name}@{':'.join(attr.langs)}"
        if attr.langs == ["*"]:
            # name@* — every language variant as `name@xx` keys, the
            # untagged value under `name` (query/outputnode.go langs);
            # encoded as a map field expanded at JSON time
            aggs = [F.map_from_entries(F.sort_array(F.collect_list(F.struct(
                F.coalesce(F.col("lang"), F.lit("")).alias("k"),
                F.col(VALUE).alias("v"))))).alias(out)]
            if (attr.facets is not None and attr.facets.all
                    and "facets" in sdf.columns):
                # expand/@facets on a @lang pred: the UNTAGGED posting's
                # facets render as `pred|key` siblings (the reference
                # attaches facets per posting; tagged variants with
                # facets are not exercised by its test corpus)
                base_out = out[:-2] if out.endswith("@*") else out
                aggs.append(F.first(
                    F.when(F.col("lang").isNull(), F.col("facets")),
                    ignorenulls=True).alias(f"{base_out}|"))
            vdf = (
                self._restrict(nodes, sdf, level)
                .groupBy(SUBJECT)
                .agg(*aggs)
            )
            return vdf, out, False
        facet_sel = []
        spec = attr.facets
        if spec is not None and "facets" in sdf.columns:
            if spec.all:
                facet_sel.append(F.col("facets").alias(f"{out}|"))
            for key, alias in (spec.keys or []):
                facet_sel.append(
                    F.col(f"facets.{key}").alias(
                        chr(1) + alias if alias else f"{out}|{key}"))
        sdf = self._lang_select(sdf, attr.langs, keep=[c for c in ("facets",)
                                                      if c in sdf.columns])
        if spec is not None and spec.filter is not None:
            # value-pred facet filter gates the VALUE's emission (the
            # posting is skipped when its facets fail —
            # worker/task.go applyFacetsTree on value postings); a node
            # left with no surviving attrs is then dropped wholesale
            if "facets" in sdf.columns:
                sdf = sdf.where(self._facet_cond(spec.filter))
            else:
                sdf = sdf.where(F.lit(False))
        meta = self.g.schema.get(name)
        if meta.list:
            # list values render in POSTING order: uid =
            # farm.Fingerprint64(binary value) ascending
            # (posting/list.go:845-850, live/batch.go:235 fingerprintEdge)
            # — not value order. Key computed per distinct value.
            key = _posting_key_udf(meta.typ)
            fld = [F.col("_pk").alias("k"), F.col(VALUE).alias("v")]
            has_f = facet_sel and "facets" in sdf.columns
            if has_f:
                fld.append(F.col("facets").alias("f"))

            def _psort(col):
                # array_sort with a comparator on the posting key only:
                # the struct may carry a MAP field (facets), which is
                # not orderable — sort_array on the whole struct fails
                return F.array_sort(
                    col,
                    lambda a, b: F.when(a["k"] < b["k"], -1)
                                  .when(a["k"] > b["k"], 1).otherwise(0))

            agg = [F.transform(
                _psort(F.collect_list(F.struct(*fld))),
                lambda s: s["v"],
            ).alias(out)]
            if has_f:
                # list-valued facet siblings render as index-keyed maps
                # aligned with the value list ({"0": ..., "1": ...},
                # query/outputnode.go facetsMap for value lists); emitted
                # as position-aligned ARRAYS here, folded to maps in
                # _clean. Sort key must match the value sort exactly.
                sorted_f = F.transform(
                    _psort(F.collect_list(F.struct(*fld))),
                    lambda s: s["f"])
                if spec.all:
                    agg.append(sorted_f.alias(f"{out}|"))
                for fkey, falias in (spec.keys or []):
                    agg.append(
                        F.transform(sorted_f, lambda m: m[fkey]).alias(
                            chr(1) + falias if falias else f"{out}|{fkey}"))
            vdf = (
                self._restrict(nodes, sdf, level)
                .withColumn("_pk", key(F.col(VALUE).cast("string")))
                .groupBy(SUBJECT)
                .agg(*agg)
            )
            return vdf, out, True
        vdf = self._restrict(nodes, sdf, level).select(
            SUBJECT, F.col(VALUE).alias(out), *facet_sel)
        return vdf, out, False

    # ============================================================== groupby
    def _nodes(self, level: Level) -> DataFrame:
        """Distinct node set of a level. Root frontiers are unique by
        construction (root functions dedup; fused scans have one row per
        node) — skip the distinct shuffle there; likewise for levels
        whose DSTs are provably unique (Level.dst_unique, round 11). A
        collected level's small uid set is its literal relation."""
        if level.nodes is not None:
            return level.nodes
        if SRC not in level.edges.columns:
            return level.edges.select(F.col(DST).alias(SUBJECT))
        sel = level.edges.select(F.col(DST).alias(SUBJECT))
        return sel if level.dst_unique else sel.distinct()

    def _groupby_build(self, level: Level, per_parent: bool
                       ) -> tuple[DataFrame, list[str], list[tuple[str, bool]], list[str]]:
        """@groupby(attrs){aggs} -> (grouped DF, group cols,
        (group col, is_uid) meta, agg cols). Grouped DF carries `_gsrc`
        (parent uid) when per_parent, and always `_gcnt` (group size, the
        primary sort key of query/groupby.go:385 groupLess). Also
        registers groupby vars: `a as count(uid)` grouped by a uid attr
        maps group-key-uid -> that child's aggregate, merged across all
        parents (query/groupby.go:263 fillGroupedVars)."""
        block = level.block
        if per_parent and SRC in level.edges.columns:
            df = level.edges.select(F.col(SRC).alias("_gsrc"), F.col(DST).alias(SUBJECT))
        else:
            df = self._nodes(level)
        gcols: list[str] = []
        gmeta: list[tuple[str, bool]] = []
        # batch grouping keys living on one wide table into a single join
        by_home: dict[str, list[tuple[str, str]]] = {}
        singles: list = []
        for ga in block.groupby.attrs:
            name = ga.name
            out = ga.alias or name
            if name == "uid":
                # @groupby(uid): the node itself is the key
                df = df.withColumn(out, F.col(SUBJECT))
                gcols.append(out)
                gmeta.append((out, True))
                continue
            is_uid = self.g.schema.has(name) and self.g.schema.get(name).is_uid
            home = self.g.home_of(name)
            if home is not None and not is_uid:
                by_home.setdefault(home[0], []).append((home[1], out))
            else:
                singles.append(ga)
            gcols.append(out)
            gmeta.append((out, is_uid))
        # process the fused-frontier home first so it can BE the base scan
        ordered_homes = sorted(
            by_home.items(),
            key=lambda kv: 0 if (level.fused is not None and level.fused[0] == kv[0]) else 1,
        )
        for idx, (hname, cols) in enumerate(ordered_homes):
            if (idx == 0 and level.fused is not None and level.fused[0] == hname
                    and not per_parent and len(df.columns) == 1):
                # grouping keys come straight from the fused frontier scan
                df = self.g.wide[hname].where(level.fused[1]).select(
                    SUBJECT, *[F.col(c).alias(o) for c, o in cols]
                )
                continue
            wdf = self.g.wide[hname].select(SUBJECT, *[F.col(c).alias(o) for c, o in cols])
            df = df.join(wdf, SUBJECT, "inner")
        for ga in singles:
            name = ga.name
            out = ga.alias or name
            if not self.g.has_pred(name):
                # unknown grouping predicate -> no groups (reference
                # returns an empty result, not an error)
                df = df.where(F.lit(False)).withColumn(out, F.lit(None).cast("string"))
            elif self.g.schema.get(name).is_uid:
                edf = self.g.edge(name).select(SUBJECT, F.col(OBJECT).alias(out))
                df = df.join(edf, SUBJECT, "inner")
            else:
                sdf = self.g.scalar(name).select(SUBJECT, F.col(VALUE).alias(out))
                df = df.join(sdf, SUBJECT, "inner")
        aggs: list[Column] = []
        acols: list[str] = []
        avars: list[tuple[str, str]] = []  # (var name, agg col)
        joined_vars: set[str] = set()
        for attr in level.attr_items:
            if attr.is_count and attr.name == "uid":
                out = attr.alias or "count"
                aggs.append(F.count("*").alias(out))
            elif attr.name in _AGG_ATTRS and (attr.val_var or attr.agg_pred):
                if attr.val_var:
                    src_col = f"_v_{attr.val_var}"
                    if attr.val_var not in joined_vars:
                        vdf = self.env[attr.val_var].select(SUBJECT, F.col(VALUE).alias(src_col))
                        df = df.join(vdf, SUBJECT, "left")
                        joined_vars.add(attr.val_var)
                    dflt = f"{attr.name}(val({attr.val_var}))"
                else:
                    # min(pred): aggregate the predicate's value over the
                    # group (query/groupby.go:30 aggregateChild)
                    src_col = f"_p_{attr.agg_pred}"
                    if src_col not in df.columns:
                        sdf = self.g.scalar(attr.agg_pred).select(
                            SUBJECT, F.col(VALUE).alias(src_col))
                        df = df.join(sdf, SUBJECT, "left")
                    dflt = f"{attr.name}({attr.agg_pred})"
                fn = _agg_fn(attr.name, bool(
                    (attr.val_var and attr.val_var in self.var_bigfloat)
                    or (attr.agg_pred and self.g.schema.has(attr.agg_pred)
                        and self.g.schema.get(attr.agg_pred).typ == "bigfloat")))
                out = attr.alias or dflt
                aggs.append(fn(src_col).alias(out))
            else:
                continue
            acols.append(out)
            if attr.var:
                avars.append((attr.var, out))
        if not aggs:
            aggs = [F.count("*").alias("count")]
            acols.append("count")
        part = ["_gsrc"] if per_parent and "_gsrc" in df.columns else []
        grouped = df.groupBy(*part, *gcols).agg(F.count("*").alias("_gcnt"), *aggs)
        if avars:
            # vars require a single uid grouping key; mapped over the
            # merged (all-parents) grouping (query/groupby.go:345)
            if len(gcols) != 1 or not gmeta[0][1]:
                raise ValueError("Vars can be assigned only when grouped by UID attribute")
            if per_parent:
                # merged across parents, entities deduped (fillGroupedVars
                # runs on the merged distinct SrcUIDs)
                ddf = df.dropDuplicates([SUBJECT, *gcols])
                merged = ddf.groupBy(gcols[0]).agg(F.count("*").alias("_gcnt"), *aggs)
            else:
                merged = grouped
            for var, out in avars:
                self.env[var] = merged.select(
                    F.col(gcols[0]).alias(SUBJECT), F.col(out).alias(VALUE)
                ).where(F.col(VALUE).isNotNull())
        return grouped, gcols, gmeta, acols

    def _groupby_level(self, level: Level) -> DataFrame:
        """Flat grouped DataFrame (oracle/flat mode)."""
        grouped, gcols, _gmeta, _acols = self._groupby_build(level, per_parent=False)
        return grouped.drop("_gcnt").orderBy(*gcols)

    def _groupby_payload(self, grouped: DataFrame, gcols, gmeta, acols,
                         per_parent: bool) -> DataFrame:
        """-> DataFrame([_gsrc,] `_g` = ordered array<struct> of groups).
        Group order: size asc, then keys asc, then aggregates asc
        (query/groupby.go:385 groupLess); uid keys render as 0x-hex."""
        fields = []
        for out, is_uid in gmeta:
            c = _uid_hex_col(F.col(out)) if is_uid else F.col(out)
            fields.append(c.alias(out))
        fields += [F.col(a) for a in acols]
        sort_st = F.struct(
            F.col("_gcnt"), *[F.col(o) for o, _ in gmeta],
            *[F.col(a) for a in acols], F.struct(*fields).alias("_p"))
        part = ["_gsrc"] if per_parent else []
        return (grouped.select(*part, sort_st.alias("_s"))
                .groupBy(*part)
                .agg(F.sort_array(F.collect_list("_s")).alias("_sg"))
                .select(*part, F.transform("_sg", lambda x: x["_p"]).alias("_g")))

    def _groupby_json(self, level: Level) -> list | None:
        grouped, gcols, gmeta, acols = self._groupby_build(level, per_parent=False)
        rows = self._groupby_payload(grouped, gcols, gmeta, acols, False).collect()
        if not rows or not rows[0]["_g"]:
            return None  # no groups: the block key is omitted entirely
        groups = [_row_to_dict(g) for g in rows[0]["_g"]]
        return [{"@groupby": [ {k: v for k, v in d.items() if v is not None} for d in groups]}]

    # ============================================================ flat mode
    def _block_flat(self, block: Block) -> DataFrame:
        """Flat relational result for the oracle gate: lineage joins, one
        row per root-to-leaf path, aliased columns only."""
        if block.shortest is not None:
            self._run_shortest(block)
            return self._last_shortest
        level = self._run_block(block)
        if level is None:
            # agg-only block: one single-key node per aggregate in JSON
            # mode; flat mode folds them into ONE row for the oracle
            data = self._agg_only_json(block)
            if not data:
                return self.spark.createDataFrame([], "dummy string")
            merged = {k: v for d in data for k, v in d.items()}
            return self.spark.createDataFrame([merged])
        if block.groupby is not None:
            return self._groupby_level(level)
        if _count_uid_only(block):
            alias = next(
                (a.alias for a in block.children if isinstance(a, Attr) and a.is_count),
                None,
            )
            # root frontiers are unique by construction (see _nodes)
            return self._nodes(level).agg(F.count("*").alias(alias or "count"))
        skip: set[str] = set()
        if level.fused is not None:
            # single-scan root: frontier + same-home attr columns come out
            # of ONE pushed-down parquet scan (the plan DuckDB would run)
            home, cond = level.fused
            batch, _rest = self._split_batchable(level.attr_items)
            items = batch.get(home, [])
            frame = self.g.wide[home].where(cond).select(
                F.col(SUBJECT).alias("_uid0"),
                *[F.col(c).alias(a.out_name) for a, c in items],
            )
            skip = {a.out_name for a, _ in items}
        else:
            frame = level.edges.select(F.col(DST).alias("_uid0"))
        # root anchors are distinct by construction (fused scans have one
        # row per node; root frontiers dedup) — except recurse levels,
        # whose edge union carries _src and may repeat dsts
        anchor_unique = level.fused is not None or SRC not in level.edges.columns
        frame, _ = self._flat_level(level, frame, "_uid0", depth=0, skip=skip,
                                    anchor_unique=anchor_unique)
        drop = [c for c in frame.columns if c.startswith("_uid")]
        return frame.drop(*drop)

    def _is_plain_scalar(self, a: Attr) -> bool:
        return (
            not a.is_count
            and a.val_var is None
            and a.math is None
            and a.expand is None
            and not a.langs
            and bool(a.name)
            and self.g.home_of(a.name) is not None
            and not self.g.schema.get(a.name).list
        )

    def _inrow_attrs(self, level: Level) -> list[tuple[Attr, str]]:
        """Attrs of this level whose values ride in-row on its edges."""
        out = []
        for a in level.attr_items:
            if self._is_plain_scalar(a) and f"_a_{a.name}" in level.edges.columns:
                out.append((a, f"_a_{a.name}"))
        return out

    def _split_batchable(self, attrs: list[Attr]):
        """Partition scalar attrs into wide-table batches vs singles."""
        batch: dict[str, list[tuple[Attr, str]]] = {}
        rest: list[Attr] = []
        for a in attrs:
            home = self.g.home_of(a.name) if a.name else None
            if (
                home is not None
                and not a.is_count
                and a.val_var is None
                and a.math is None
                and a.expand is None
                and not a.langs
                and not self.g.schema.get(a.name).list
                and self.g.schema.get(a.name).typ != "password"
            ):
                batch.setdefault(home[0], []).append((a, home[1]))
            else:
                rest.append(a)
        return batch, rest

    def _flat_level(self, level: Level, frame: DataFrame, uid_col: str, depth: int,
                    skip: set[str] | None = None, anchor_unique: bool = False):
        """anchor_unique: True when `frame[uid_col]` is provably distinct
        (exactly this level's node set, one row each) — the precondition
        for replaying a child's edge pipeline directly on the frame via
        Level.edge_rebuild instead of re-joining its separately-derived
        edges (per-parent pagination windows partition by src, so a
        duplicated anchor row would corrupt ranks)."""
        skip = skip or set()
        nodes = self._nodes(level)
        # var name -> column already present in `frame` (for math elision)
        local_cols: dict[str, str] = {}
        batch, rest = self._split_batchable(level.attr_items)
        for home, items in batch.items():
            names = []
            for a, c in items:
                out = a.out_name
                if out in skip:
                    if a.var:
                        local_cols[a.var] = out
                    continue
                if out in frame.columns:
                    out = f"{out}_l{depth}"
                names.append((c, out))
                if a.var:
                    local_cols[a.var] = out
            if not names:
                continue
            wdf = self.g.wide[home].select(
                F.col(SUBJECT).alias(uid_col), *[F.col(c).alias(o) for c, o in names]
            )
            frame = frame.join(wdf, uid_col, "left")
        math_attrs = [a for a in rest if a.math is not None]
        for attr in (a for a in rest if a.math is None):
            col_df, out, _multi = self._attr_output(attr, nodes, level)
            if col_df is None:
                continue
            if _multi:
                # list-valued attr join fans the frame out: uid_col rows
                # are no longer distinct
                anchor_unique = False
            if out in frame.columns:
                # same predicate selected at several levels (e.g. recurse):
                # disambiguate deterministically by depth
                new = f"{out}_l{depth}"
                col_df = col_df.withColumnRenamed(out, new)
                out = new
            col_df = col_df.withColumnRenamed(SUBJECT, uid_col)
            frame = frame.join(col_df, uid_col, "left")
            if attr.var:
                local_cols[attr.var] = out
        for attr in math_attrs:
            needed = math_vars(attr.math)
            out = attr.out_name if attr.alias else "math"
            if needed <= set(local_cols) and not (needed & self.var_bigfloat):
                # all inputs already in the frame: pure projection, no join
                frame = frame.withColumn(
                    out, compile_math(attr.math, lambda n: _qc(local_cols[n]))
                )
            else:
                col_df, out2, _m = self._attr_output(attr, nodes, level)
                if col_df is None:
                    continue
                if _m:
                    anchor_unique = False
                frame = frame.join(
                    col_df.withColumnRenamed(SUBJECT, uid_col), uid_col, "left"
                )
        for i, child in enumerate(level.children):
            c_edges = child.edges
            child_uid = f"_uid{depth + 1}_{i}"
            ce_cols = [F.col(SRC).alias(uid_col), F.col(DST).alias(child_uid)]
            spec = child.block.facets
            if spec and spec.keys and "facets" in c_edges.columns:
                # edge-facet projections (@facets(alias: key)) ride along
                # with the edge join — they are edge properties, not node
                # attributes (types/facets semantics)
                for key, alias in spec.keys:
                    ce_cols.append(
                        F.col(f"facets.{key}").alias(alias or f"{child.block.attr}|{key}")
                    )
            # in-row attrs: child's scalar values come off the edge join
            child_skip: set[str] = set()
            for a, ecol in self._inrow_attrs(child):
                out = a.out_name
                if out in frame.columns:
                    out = f"{out}_l{depth + 1}"
                ce_cols.append(F.col(ecol).alias(out))
                child_skip.add(a.out_name)
            bare = (depth == 0 and list(frame.columns) == [uid_col]
                    and SRC not in level.edges.columns)
            rebuilt = None
            if not bare and anchor_unique and child.edge_rebuild is not None:
                # Child-edge let-binding (round 11): replay the child's
                # edge pipeline anchored on the frame itself instead of
                # joining its separately-derived edges — the parent
                # lineage subtree plans ONCE instead of once per child
                # relation (None = column collision, fall back).
                rebuilt = child.edge_rebuild(frame, uid_col)
            if rebuilt is not None:
                keep = [F.col(c) for c in frame.columns if c != uid_col]
                frame = rebuilt.select(ce_cols[0], *keep, *ce_cols[1:])
            else:
                ce = c_edges.select(*ce_cols)
                if bare:
                    # Root-frame elision (round 11): the bare root frontier
                    # is a DISTINCT uid set by construction, and every child
                    # edge src was derived by semi-joining that same
                    # frontier (ce.src ⊆ frame, each matching exactly one
                    # frame row) — the assembly join is an identity. Start
                    # from the child edges instead and drop one full copy of
                    # the root lineage from the plan.
                    frame = ce
                else:
                    frame = frame.join(ce, uid_col, "inner")
            child_unique = anchor_unique and child.dst_unique
            # joining this child's edges fans uid_col out — later siblings
            # must not treat the frame as a distinct parent anchor
            anchor_unique = False
            frame, _ = self._flat_level(child, frame, child_uid, depth + 1,
                                        skip=child_skip, anchor_unique=child_unique)
        return frame, uid_col


# ---------------------------------------------------------------- helpers
def _var_reads(b: Block) -> tuple[set[str], set[str], dict[str, str]]:
    """The vars a block tree reads: (those read by val(v) or
    min/max/sum/avg(val(v)) attrs, which a driver-bound map serves; those
    read anywhere else — functions, uid(), orders, math, `x as val(v)`;
    aggregate var -> the var it folds)."""
    served: set[str] = set()
    lazy: set[str] = set()
    folds: dict[str, str] = {}

    def from_func(f: FuncCall | None):
        if f is None:
            return
        for a in f.args:
            if a.is_val_var or a.is_len:
                lazy.add(str(a.value))
        if f.name == "uid":
            for a in f.args:
                if isinstance(a.value, str) and not str(a.value).isdigit() and not str(a.value).startswith("0x"):
                    lazy.add(str(a.value))
        if f.name == "uid_in":
            # uid_in(pred, uid(v)): the uid-var args (everything after
            # the pred) are scheduling dependencies exactly like uid(v)
            # (query/query.go canExecute treats NeedsVar uniformly)
            for a in f.args[1:]:
                v = a.value
                if (isinstance(v, str) and not v.isdigit()
                        and not v.startswith("0x")):
                    lazy.add(v)

    def from_tree(t):
        if t is None:
            return
        if t.func is not None:
            from_func(t.func)
        for c in t.children:
            from_tree(c)

    def walk(b: Block):
        from_func(b.func)
        from_tree(b.filter)
        for o in b.order:
            if o.is_var:
                lazy.add(o.key)
        for c in b.children:
            if isinstance(c, Block):
                walk(c)
            else:
                if c.val_var:
                    # `x as val(v)` binds x lazily, from v's lazy plan
                    if c.name in _AGG_ATTRS or (c.name == "val" and not c.var):
                        served.add(c.val_var)
                        if c.var:
                            folds[c.var] = c.val_var
                    else:
                        lazy.add(c.val_var)
                if c.math is not None:
                    lazy.update(math_vars(c.math))

    walk(b)
    return served, lazy, folds


def _block_needs(b: Block) -> set[str]:
    served, lazy, _ = _var_reads(b)
    return (served | lazy) - _block_defines(b)


def _query_reads(blocks: list[Block]) -> tuple[set[str], set[str]]:
    """The vars of a query read where a driver-bound map serves the read,
    and those read any other way (_var_reads), the latter with the var
    each such aggregate var folds: that consumer re-runs the var's plan
    in `env`, which reads the folded var's plan."""
    served: set[str] = set()
    lazy: set[str] = set()
    folds: dict[str, str] = {}
    for b in blocks:
        s, l, f = _var_reads(b)
        served |= s
        lazy |= l
        folds.update(f)
    todo = list(lazy)
    while todo:
        v = folds.get(todo.pop())
        if v is not None and v not in lazy:
            lazy.add(v)
            todo.append(v)
    return served, lazy


def _block_defines(b: Block) -> set[str]:
    out: set[str] = set()

    def walk(b: Block):
        if b.var:
            out.add(b.var)
        if b.facets and b.facets.vars:
            out.update(b.facets.vars.keys())
        for c in b.children:
            if isinstance(c, Block):
                walk(c)
            else:
                if c.var:
                    out.add(c.var)
                if c.facets and c.facets.vars:
                    out.update(c.facets.vars.keys())

    walk(b)
    return out


def _child_name(cb: Block) -> str:
    """A child block's name in JSON and RDF output: its alias, else the
    predicate, `~pred` for a reverse edge (query/outputnode.go
    fieldName)."""
    return cb.alias if cb.alias != cb.attr else ("~" if cb.reverse else "") + cb.attr


def _value_key(a: Attr) -> str:
    """Output key of a val(), aggregate or math() attr: its alias, else
    `val(v)`, `sum(val(v))`, and `val(x)` for `x as math(...)`
    (query/outputnode.go value-var key naming)."""
    if a.alias:
        return a.alias
    if a.math is not None:
        return f"val({a.var})" if a.var else "math"
    return (f"val({a.val_var})" if a.name == "val"
            else f"{a.name}(val({a.val_var}))")


def _count_uid_only(b: Block) -> bool:
    """Block whose only child is count(uid) — count-at-root."""
    attrs = [c for c in b.children if isinstance(c, Attr)]
    blocks = [c for c in b.children if isinstance(c, Block)]
    return (
        not blocks
        and len(attrs) == 1
        and attrs[0].is_count
        and attrs[0].name == "uid"
    )


def _len_func(f: FuncCall | None):
    """Return the len() arg if this is an eq/ineq(len(v), n) root."""
    if f is None:
        return None
    return next((a for a in f.args if a.is_len), None)


def _qc(name: str) -> Column:
    """Column reference by exact name — backtick-quoted so predicate
    names with '@', '.', '|', '-' (lang tags, dotted preds, facet keys)
    aren't parsed as struct access or arithmetic."""
    return F.col("`" + name + "`")


_AGG_NAMES = ("min", "max", "sum", "avg")


def _child_unique_key(c) -> str | None:
    """query/query.go:491 uniqueKey / treeCopy attrsSeen: alias if given,
    else attr + count/langs/val-var decorations. ``None`` = exempt."""
    if isinstance(c, Block):
        if c.attr and c.alias and c.alias != c.attr:
            return c.alias
        key = ("~" if c.reverse else "") + (c.attr or c.alias)
        if c.groupby is not None:
            key += "groupby"  # query/query.go:524 — @groupby gets its own key
        return key
    if c.expand:
        return None  # expand() duplicates are checked at expansion time
    if c.alias:
        return c.alias
    key = c.name
    if c.val_var:
        key = f"val({c.val_var})"
        if c.name in _AGG_NAMES:
            key += c.name
    elif c.math is not None:
        key = f"val({c.var})"
    elif c.agg_pred:
        key = c.agg_pred + c.name
    if c.is_count:
        key += "count"
    if c.langs:
        key += str(c.langs)
    return key


def _validate_block_tree(b: Block) -> None:
    """Structural rules the reference enforces at query-build time
    (query/query.go treeCopy, query/recurse.go, query/shortest.go)."""
    seen: set[str] = set()
    for c in b.children:
        key = _child_unique_key(c)
        if key is not None:
            if key in seen:
                # query/query.go:547
                raise ValueError(
                    f"{key} not allowed multiple times in same sub-query.")
            seen.add(key)
        if b.shortest is not None:
            if not isinstance(c, Block) and c.expand:
                raise ValueError("expand() not allowed inside shortest")
            if getattr(c, "facets", None) is not None \
                    and len(c.facets.keys) > 1:
                # shortest.go:123 — one facet = the edge weight
                raise ValueError(
                    f"Expected 1 but got {len(c.facets.keys)} facets")
        if b.recurse is not None and isinstance(c, Block) and c.children:
            # query/recurse.go:42
            raise ValueError(
                "recurse queries require that all predicates are "
                "specified in one level")
    if b.recurse is not None and b.recurse.loop and not b.recurse.depth:
        # query/recurse.go:150
        raise ValueError(
            "Depth must be > 0 when loop is true for recurse query")
    if b.order and b.facets is not None and b.facets.order:
        # sorting by a predicate and a facet together is rejected
        # (dql/parser.go sort-key accounting)
        raise ValueError(
            "Cannot sort by both predicate and facets on the same block")
    for c in b.children:
        if isinstance(c, Block):
            _validate_block_tree(c)


def _propagate_cascade(b: Block) -> None:
    """@cascade applies to the whole subtree: children inherit the
    parent's cascade (incl. the parameterized pred list) unless they
    declare their own (query/query.go applyCascade recursion)."""
    for c in b.children:
        if isinstance(c, Block):
            if b.cascade is not None and c.cascade is None:
                c.cascade = b.cascade
            _propagate_cascade(c)


def _has_cascade(b: Block) -> bool:
    if b.cascade is not None:
        return True
    return any(isinstance(c, Block) and _has_cascade(c) for c in b.children)


_NO_FOLD = object()


def _fold(fn: str, xs: list):
    """min/max/sum/avg of a var's values (nulls skipped, None when none
    are left), in uid order as dgraph folds them; _NO_FOLD for values
    whose Spark aggregate the driver does not reproduce (decimals, NaN,
    mixed types, sums of non-numbers)."""
    xs = [x for x in xs if x is not None]
    kinds = {bool if isinstance(x, bool) else
             float if isinstance(x, (int, float)) else type(x) for x in xs}
    if len(kinds) > 1 or any(x != x for x in xs):
        return _NO_FOLD
    kind = kinds.pop() if kinds else float
    if fn in ("sum", "avg") and kind is not float:
        return _NO_FOLD
    if kind not in (bool, float, str, _dt.date, _dt.datetime):
        return _NO_FOLD
    if not xs:
        return None
    if fn == "min":
        return min(xs)
    if fn == "max":
        return max(xs)
    total = sum(xs)
    return total if fn == "sum" else total / len(xs)


def _by_rank(rows: list[dict]) -> list[dict]:
    return sorted(rows, key=lambda r: r[RANK])


def _row_to_dict(row) -> dict:
    d = row.asDict(recursive=True) if hasattr(row, "asDict") else row
    return _clean(d)


_FACET_DT_RE = re.compile(r"^\d{4}-\d{2}-\d{2}(T\d{2}:\d{2}:\d{2})?$")
_FACET_INT_RE = re.compile(r"^-?\d+$")
_FACET_FLOAT_RE = re.compile(r"^-?\d+\.\d+([eE][-+]?\d+)?$")


def _facet_unquote(col):
    """Strip the quote marker from STRING-typed facet storage (quoted ==
    string per types/facets/utils.go valAndValType); other values pass
    through unchanged. Pure column expr — no probe."""
    return F.when(
        col.rlike('^".*"$'),
        col.substr(F.lit(2), F.length(col) - F.lit(2)),
    ).otherwise(col)


def _facet_value(s):
    """dgraph types facets at mutation time (types/facets/utils.go:75
    parseFacet: bool/int/float/datetime inference, else string); our
    storage is untyped strings, so the same inference applies at JSON
    encode time — identical output."""
    if not isinstance(s, str):
        return s
    if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
        # quote-wrapped storage == STRING-typed facet, whatever it looks
        # like (types/facets/utils.go valAndValType)
        return s[1:-1]
    if s in ("true", "false"):
        return s == "true"
    if _FACET_INT_RE.match(s):
        return int(s)
    if _FACET_FLOAT_RE.match(s):
        return float(s)
    if _FACET_DT_RE.match(s):
        if "T" not in s:
            return s + "T00:00:00Z"
        # offset-bearing facet datetimes keep their zone (Go time.Time
        # round-trips the original offset through JSON marshal)
        return s if re.search(r"(Z|[+-]\d{2}:\d{2})$", s) else s + "Z"
    return s


def _go_g(f: float) -> str:
    """Go fmt %g: shortest-unique decimal (strconv 'g' with precision -1).
    Python's repr is the same shortest-round-trip algorithm; trim the
    trailing '.0' Go omits on integral floats."""
    s = repr(float(f))
    return s[:-2] if s.endswith(".0") else s


def _rdf_object(v) -> str:
    """One RDF object term (outputrdf.go getObjectVal + valToBytes):
    ints/floats/decimals quoted numbers, bools bare, strings
    JSON-marshaled, datetimes quoted RFC3339; a geo (map) value raises."""
    import datetime as _dt

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dict):
        # outputrdf.go:189 — geo values cannot be rendered as N-Quads
        raise ValueError("Geo id is not supported in rdf output")
    if isinstance(v, _dt.datetime):
        return f'"{_render_datetime(v)}"'
    if isinstance(v, _dt.date):
        return f'"{v.isoformat()}T00:00:00Z"'
    if isinstance(v, int):
        return f'"{v}"'
    if isinstance(v, float):
        return f'"{_go_g(v)}"'
    # strings, and decimals (whose text needs no escaping)
    return json.dumps(str(v), ensure_ascii=False)


def _render_bigfloat(v):
    """A lexical 200-bit bigfloat as the shortest decimal that round-trips
    it — a JSON NUMBER with full digits ("amount":10.0000000000000000000124,
    query4_test.go TestBigFloatTypeTokenizer), carried as decimal.Decimal;
    a list renders element-wise, and a string that does not parse stays."""
    from dgraph_spark.functions.bigfloat import render_py

    if isinstance(v, list):  # [bigfloat] list predicate
        return [_render_bigfloat(x) for x in v]
    if isinstance(v, str):
        r = render_py(v)
        return v if r is None else r
    return v


def _render_datetime(v: "datetime.datetime") -> str:
    """RFC3339 with Z (query/outputnode.go renders time.Time in UTC)."""
    s = v.isoformat()
    if s.endswith("+00:00"):
        s = s[:-6]
    return s + "Z" if "+" not in s else s


def _emit_facet(out: dict, key: str, val) -> None:
    """Render one facet sibling: scalars type-infer; position-aligned
    ARRAYS (value-list facets) fold to index-keyed maps
    ({"0": v0, "2": v2} — query/outputnode.go facetsMap, positions of
    the value list, missing-facet entries skipped)."""
    if isinstance(val, list):
        m = {str(i): _facet_value(x) for i, x in enumerate(val) if x is not None}
        if m:
            out[key] = m
    elif val is not None:
        out[key] = _facet_value(val)


def _facet_only(raw: dict, cleaned: dict) -> bool:
    """True when every surviving output key of a child node is a facet
    sibling — such nodes are NOT emitted (query/outputnode.go: facets
    ride on the parent edge; a child with no own attrs isn't a node)."""
    if not cleaned:
        return False
    fkeys: set[str] = set()
    for k in raw:
        if k.endswith("|"):
            fkeys |= {kk for kk in cleaned if kk.startswith(k)}
        elif k.startswith("\x01"):
            fkeys.add(k[1:])
        elif "|" in k:
            fkeys.add(k)
    return all(kk in fkeys for kk in cleaned)


def _clean(v):
    import datetime as _dt

    if isinstance(v, dict):
        out = {}
        for k, x in v.items():
            if x is None:
                continue
            if k in ("__cnt__", "__cntkey__", "__norm__"):
                # count(uid)/@normalize sentinels are consumed at the list
                # level
                continue
            if k.endswith("|"):
                # @facets (all keys): expand the facet map into
                # `pred|key` siblings; an aligned ARRAY of maps (value
                # lists) folds to per-key index maps
                if isinstance(x, dict):
                    for fk, fv in x.items():
                        if fv is not None:
                            out[f"{k}{fk}"] = _facet_value(_clean(fv))
                elif isinstance(x, list):
                    fks = {fk for m in x if isinstance(m, dict)
                           for fk, fv in m.items() if fv is not None}
                    for fk in fks:
                        _emit_facet(out, f"{k}{fk}",
                                    [m.get(fk) if isinstance(m, dict) else None
                                     for m in x])
                continue
            if k.startswith("\x01"):
                # aliased facet sibling (tagalias: tag) — typed like any
                # other facet value
                _emit_facet(out, k[1:], _clean(x))
                continue
            if k.endswith("@*") and isinstance(x, dict):
                # name@*: one `name@xx` key per language, the untagged
                # value under the bare name (query/outputnode.go langs)
                base = k[:-2]
                for lk, lv in x.items():
                    if lv is not None:
                        out[f"{base}@{lk}" if lk else base] = _clean(lv)
                continue
            if "#dgdup" in k:
                # repeated child name: merge into the first occurrence's
                # array (outputnode.go same-name children share one list)
                base = k.split("#dgdup")[0]
                merged = _clean(x)
                if isinstance(merged, list):
                    prev = out.get(base)
                    out[base] = (prev if isinstance(prev, list) else
                                 ([] if prev is None else [prev])) + merged
                continue
            if "|" in k:
                _emit_facet(out, k, _clean(x))
                continue
            cx = _clean(x)
            if isinstance(cx, list) and not cx and not k.startswith("@"):
                # a child array whose every node was dropped is omitted,
                # not rendered as [] (query/outputnode.go: empty
                # fastJsonNode lists are never emitted)
                continue
            if (isinstance(x, dict) and isinstance(cx, dict)
                    and (not cx or _facet_only(x, cx))):
                # single uid-pred child object that cleaned away (or kept
                # only facet siblings): omitted like an empty list node
                continue
            out[k] = cx
        return out
    if isinstance(v, list):
        # child nodes with no surviving attribute are omitted entirely
        # (query/outputnode.go: empty fastJsonNode not emitted).
        # count(uid) sentinels ride on each element; the count renders as
        # one extra `{count: n}` element appended to the array.
        out = []
        cnt = None
        cnt_key = "count"
        for x in v:
            if isinstance(x, dict) and "__cnt__" in x:
                if x["__cnt__"] is not None:
                    cnt = int(x["__cnt__"])
                    cnt_key = x.get("__cntkey__") or "count"
            # read, not popped: one child payload dict is shared by
            # every parent edge that reaches the node
            norm = x.get("__norm__") if isinstance(x, dict) else None
            cx = _clean(x)
            if cx is None or cx == {}:
                continue
            if isinstance(x, dict) and _facet_only(x, cx):
                # a child node whose only surviving attrs are facet
                # siblings is dropped (query/outputnode.go — e.g. a
                # friend with facets but no requested predicates)
                continue
            if norm is not None:
                # child-level @normalize: splice the flattened aliased
                # leaf rows in place of this node
                aliased = set(norm.split(",")) if norm else set()
                out.extend(d for d in _normalize(cx, aliased) if d)
                continue
            out.append(cx)
        if cnt is not None:
            out.append({cnt_key: cnt})
        return out
    if isinstance(v, _dt.datetime):
        return _render_datetime(v)
    if isinstance(v, _dt.date):
        return v.isoformat() + "T00:00:00Z"
    return v


def _aliased_names(b: Block) -> set[str]:
    """Output names that carry an explicit alias anywhere in the block
    tree — @normalize keeps ONLY these (query/outputnode.go:921)."""
    out: set[str] = set()

    def walk(blk: Block):
        for c in blk.children:
            if isinstance(c, Block):
                walk(c)
            elif c.alias:
                out.add(c.alias)

    walk(b)
    return out


def _normalize(node: dict, aliased: set[str] | None = None) -> list[dict]:
    """@normalize flatten (query/outputnode.go:921): cartesian-combine
    child lists; only ALIASED scalars survive when an alias set is given
    (dgraph keeps only aliased attrs in normalized output). Facet
    siblings (`pred|facet`) ALWAYS survive — the reference's normalize
    keeps facet attrs regardless of aliasing (query_facets_test.go
    TestFacetUIDListPredicateWithNormalize). A dict-valued entry (single
    non-list uid child object) flattens like a one-element child list."""
    scalars = {
        k: v for k, v in node.items()
        if (not isinstance(v, list) or not (v and isinstance(v[0], dict)))
        and (not isinstance(v, dict) or "|" in k)  # index-map facet ok
        and (aliased is None or k in aliased or "|" in k)
    }
    child_lists = {
        k: ([v] if isinstance(v, dict) else v) for k, v in node.items()
        if (isinstance(v, list) and v and isinstance(v[0], dict))
        or (isinstance(v, dict) and "|" not in k)
    }
    if not child_lists:
        return [scalars]
    results = [scalars]
    for k, lst in child_lists.items():
        flattened_children = list(
            itertools.chain.from_iterable(_normalize(c, aliased) for c in lst)
        )
        new_results = []
        for base in results:
            for child in flattened_children:
                merged = dict(base)
                for ck, cv in child.items():
                    if ck in merged:
                        # same alias at several path levels (@recurse
                        # @normalize): values accumulate into ONE array in
                        # path order (query/outputnode.go normalize merges
                        # same-attr fastJson children into a list)
                        prev = merged[ck] if isinstance(merged[ck], list) else [merged[ck]]
                        merged[ck] = prev + (cv if isinstance(cv, list) else [cv])
                    else:
                        merged[ck] = cv
                new_results.append(merged)
        results = new_results
    return results
