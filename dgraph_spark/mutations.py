"""Write surface: set / delete / upsert as batch DataFrame merges
(reference: edgraph/server.go:575 doMutate, dql/mutation.go;
SURVEY.md §2.10).

The Spark engine is append/batch-oriented: a mutation produces a NEW
Graph (immutable DataFrames ≈ snapshot isolation; persisted snapshots
via Graph.write_parquet give MVCC-like versioning for free —
SURVEY.md §1.5). Semantics preserved from the reference:

  - set on a single-valued scalar predicate OVERWRITES (posting Ovr,
    posting/list.go:56-58); on list predicates it unions.
  - delete of (s, p, o) removes one triple; (s, p, *) removes all
    values of p on s (ToDeletePredEdge, dql/mutation.go:146).
  - upsert block == query -> build mutation triples from result vars ->
    conditional apply (@if on var cardinality,
    dql/parser_mutation.go:105-119).
"""

from __future__ import annotations

import copy as _copy
import dataclasses as _dc
import re as _re

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dgraph_spark.model import OBJECT, SUBJECT, VALUE, Graph
from dgraph_spark.schema import Predicate
from dgraph_spark.sources.rdf import _NQUAD_RE, parse_nquads


def _triples_from_nquads(graph: Graph, nquads: str) -> DataFrame:
    lines = graph.spark.createDataFrame([(l,) for l in nquads.splitlines() if l.strip()], "value string")
    return parse_nquads(lines)


def _check_nquads(nquads: str) -> None:
    """Reject a mutation with a line parse_nquads would silently drop
    (bulk loads keep that chunker behavior; a mutation must not lose
    quads). The check runs on the driver with the same regex — no job."""
    for line in nquads.splitlines():
        t = line.strip()
        if t and not t.startswith("#") and not _re.match(_NQUAD_RE, line):
            raise ValueError(f"invalid N-Quad in mutation: {t!r}")


# predicates whose VALUES only dgraph's graphql admin may write
# (x/keys.go:796 otherReservedPredicate)
_GRAPHQL_RESERVED = {
    "dgraph.graphql.xid", "dgraph.graphql.schema", "dgraph.drop.op",
    "dgraph.graphql.p_query", "dgraph.namespace.id", "dgraph.namespace.name",
}


def _guard_reserved_preds(graph: Graph, pred_names: list[str]) -> None:
    """Reserved-namespace mutation guard (edgraph/server.go
    newReservedPredicateGuard; worker/proposal.go:177)."""
    for name in pred_names:
        if name in _GRAPHQL_RESERVED:
            raise ValueError(
                f"Cannot mutate graphql reserved predicate {name}")
        if (name.startswith("dgraph.") and name != "dgraph.type"
                and not graph.schema.has(name)):
            # pre-defined predicates (dgraph.type, ACL preds — which carry
            # initial schema and thus pass schema.has) stay writable
            raise ValueError(
                f"Can't store predicate `{name}` as it is prefixed with "
                "`dgraph.` which is reserved as the namespace for dgraph's "
                "internal types/predicates.")


def _own_schema(graph: Graph) -> Graph:
    """`graph` with its own copy of the schema registry, for a writer to
    build the next version on: new predicates and first-touch defaults
    (SchemaRegistry.get) must not leak into the version written from."""
    return _dc.replace(graph, schema=_copy.deepcopy(graph.schema))


def set_triples(graph: Graph, triples: DataFrame) -> Graph:
    """Apply set-mutations (long-format triples DF as from parse_nquads).
    Returns a new Graph.

    Posting semantics (posting/list.go:56-58 Ovr): a set on a
    single-valued scalar overwrites per (subject[, lang]); on a list
    predicate it unions, with a re-set of an existing (subject, value) /
    (subject, object) edge REPLACING that edge (so its facets update,
    types/facets/utils.go:75). Lang tags, facet maps, and wide-offset
    datetime lexical forms are preserved exactly as the bulk-load path
    stores them — the new rows are materialized through the same
    graph_from_triples pivot the loader uses.
    """
    from dgraph_spark.sources.rdf import graph_from_triples

    g = _own_schema(graph)
    pred_names = [r["predicate"] for r in triples.select("predicate").distinct().collect()]
    _guard_reserved_preds(g, pred_names)
    if g.schema.strict and "lang" in triples.columns:
        # lang-tagged values need @lang in the schema
        # (edgraph ValidateAndConvert: "should have @lang directive")
        for name in pred_names:
            if (g.schema.has(name) and not g.schema.get(name).lang
                    and triples.where((F.col("predicate") == name)
                                      & F.col("lang").isNotNull())
                              .limit(1).count() > 0):
                raise ValueError(
                    f"Attr: [{name}] should have @lang directive in schema "
                    "to use @lang")
    for name in pred_names:
        if not g.has_pred(name) and not g.schema.has(name):
            # new predicate: infer uid-ness from the rows (first write
            # fixes the type — worker/task.go:1104-1110 default typing)
            rows = triples.where(F.col("predicate") == name)
            is_uid = rows.where(F.col("object_uid").isNotNull()).limit(1).count() > 0
            if is_uid:
                g.schema.add(Predicate(name=name, typ="uid"))
    newg = graph_from_triples(
        g.spark, triples.where(F.col("predicate").isin(pred_names)), g.schema
    )
    for name, new in newg.preds.items():
        meta = g.schema.get(name)
        old = g.preds.get(name)
        if old is None:
            g = g.with_pred(name, new, meta)
            continue
        # replacement keys: single-valued -> per subject (+lang variant,
        # each lang is its own posting); list -> per exact edge/value
        key_cols = [SUBJECT]
        if meta.list:
            key_cols.append(OBJECT if meta.is_uid else VALUE)
        if "lang" in new.columns or "lang" in old.columns:
            key_cols.append("lang")

        def keyed(df: DataFrame) -> DataFrame:
            out = df
            for i, kc in enumerate(key_cols):
                if kc not in df.columns:  # e.g. lang absent on one side
                    k = F.lit("\x00")
                elif kc == "lang":
                    # null-safe: null lang == the untagged posting
                    k = F.coalesce(F.col(kc), F.lit("\x00"))
                else:
                    k = F.col(kc)
                out = out.withColumn(f"_mk{i}", k)
            return out

        knames = [f"_mk{i}" for i in range(len(key_cols))]
        old_k, new_k = keyed(old), keyed(new)
        merged = (
            old_k.join(new_k.select(knames).distinct(), knames, "left_anti")
            .unionByName(new_k.dropDuplicates(knames), allowMissingColumns=True)
            .drop(*knames)
        )
        if meta.unique and not meta.is_uid:
            # @unique: no value may belong to two subjects after the
            # merge (edgraph/server.go:1776 verifyUnique)
            dup = (merged.groupBy(VALUE)
                   .agg(F.countDistinct(SUBJECT).alias("_c"))
                   .where("_c > 1").limit(1).collect())
            if dup:
                raise ValueError(
                    f"could not insert duplicate value [{dup[0][VALUE]}] "
                    f"for predicate [{name}]")
        g = g.with_pred(name, merged, meta)
    return g


def set_nquads(graph: Graph, nquads: str) -> Graph:
    """`set { <nquads> }` convenience wrapper. A line that is not one
    well-formed N-Quad raises ValueError naming it; nothing is written."""
    _check_nquads(nquads)
    return set_triples(graph, _triples_from_nquads(graph, nquads))


# ---------------------------------------------------------------- Alter drops
_PRE_DEFINED_PREDS = {
    "dgraph.type", "dgraph.xid", "dgraph.password", "dgraph.user.group",
    "dgraph.rule.predicate", "dgraph.rule.permission", "dgraph.acl.rule",
} | _GRAPHQL_RESERVED
_PRE_DEFINED_TYPES = {
    "dgraph.graphql", "dgraph.type.User", "dgraph.type.Group",
    "dgraph.type.Rule", "dgraph.graphql.persisted_query", "dgraph.namespace",
}


def drop_attr(graph: Graph, pred: str) -> Graph:
    """Alter{DropAttr}: remove one predicate's data AND schema entry
    (edgraph/server.go:467-522). Pre-defined predicates are protected."""
    if pred in _PRE_DEFINED_PREDS:
        raise ValueError(
            f"predicate {pred} is pre-defined and is not allowed to be "
            "dropped")
    preds = {k: v for k, v in graph.preds.items() if k != pred}
    schema = _copy.deepcopy(graph.schema)
    schema.predicates.pop(pred, None)
    for t, ps in schema.types.items():
        schema.types[t] = [p for p in ps if p != pred]
    # a wide-table predicate also leaves the routing: attribute reads,
    # in-row columns and fused filters all find it through home_of
    pred_home = {k: v for k, v in graph.pred_home.items() if k != pred}
    return _dc.replace(graph, preds=preds, schema=schema, pred_home=pred_home)


def drop_type(graph: Graph, type_name: str) -> Graph:
    """Alter{DropOp: TYPE}: remove the type DEFINITION only — data and
    predicate schemas stay (edgraph/server.go:524-539)."""
    if type_name in _PRE_DEFINED_TYPES:
        raise ValueError(
            f"type {type_name} is pre-defined and is not allowed to be "
            "dropped")
    schema = _copy.deepcopy(graph.schema)
    schema.types.pop(type_name, None)
    return _dc.replace(graph, preds=dict(graph.preds), schema=schema)


def drop_data(graph: Graph) -> Graph:
    """Alter{DropOp: DATA}: wipe every posting, KEEP the schema
    (edgraph/server.go:432-465). Each predicate keeps its ORIGINAL
    column set (lang/facets included) so @lang / @facets queries on the
    emptied graph still analyze — they just return no rows."""
    preds = {name: df.limit(0) for name, df in graph.preds.items()}
    # wide tables hold real rows: empty them too (schema kept); the
    # layout hints stay consistent with the emptied wides.
    wide = {name: df.limit(0) for name, df in graph.wide.items()}
    return _dc.replace(graph, preds=preds, schema=_copy.deepcopy(graph.schema),
                       wide=wide)


def drop_all(graph: Graph) -> Graph:
    """Alter{DropAll}: data AND schema gone (edgraph/server.go:401-430)."""
    from dgraph_spark.schema import SchemaRegistry

    return Graph(spark=graph.spark, preds={},
                 schema=SchemaRegistry(strict=graph.schema.strict))


# ---------------------------------------------------------------- JSON
def json_to_nquads(doc, op: str = "set") -> str:
    """JSON mutation document -> N-Quad text (chunker/json_parser.go
    mapToNquads): nested objects become edges to child nodes, `uid`
    pins identity ("0x..", int, "_:blank", "uid(v)"), "pred@lang" keys
    carry language, "pred|facet" keys carry facets (scalar form for
    single values and edges-from-inside-the-child, {"idx": v} map form
    for scalar lists), geojson objects collapse to geo literals, and —
    with ``op="delete"`` — null values emit S P * wildcard deletes."""
    import json as _json

    if isinstance(doc, (str, bytes)):
        doc = _json.loads(doc)
    lines: list[str] = []
    counter = [0]

    def _blank() -> str:
        counter[0] += 1
        return f"_:j{counter[0]}"

    def _id_tok(u) -> str:
        if isinstance(u, bool):
            raise ValueError(f"Unexpected uid value: {u!r}")
        if isinstance(u, int):
            n = u
        else:
            s = str(u).strip()
            if s.startswith("_:") or s.startswith("uid("):
                return s
            n = int(s, 0)  # "0x.." / decimal — raises on anything else
        if not 0 < n < 1 << 64:
            # strconv.ParseUint(_, 0, 64) range/sign failure
            raise ValueError(f"Unable to parse uid: {u!r} out of range")
        return f"<{hex(n)}>"

    def _esc(s: str) -> str:
        # control chars must be escaped or the emitted quad spans lines
        # and the line-based N-Quad parse drops it silently (the chunker
        # builds quads structurally; escaping keeps the text round-trip
        # exact — parse_nquads JSON-decodes these on read).
        return (s.replace("\\", "\\\\").replace('"', '\\"')
                .replace("\n", "\\n").replace("\r", "\\r")
                .replace("\t", "\\t"))

    def _lit(v) -> str:
        if isinstance(v, bool):
            return f'"{str(v).lower()}"^^<bool>'
        if isinstance(v, int):
            return f'"{v}"^^<int>'
        if isinstance(v, float):
            return f'"{v}"^^<float>'
        return f'"{_esc(str(v))}"'

    def _facet_str(fts: dict) -> str:
        if not fts:
            return ""
        parts = []
        for k, v in fts.items():
            if isinstance(v, bool):
                parts.append(f"{k}={str(v).lower()}")
            elif isinstance(v, (int, float)):
                parts.append(f"{k}={v}")
            else:
                s = str(v)
                # the facet group regex '\(([^)]*)\)' cannot represent
                # these chars even inside quotes — reject loudly instead
                # of silently dropping the whole quad
                if any(ch in s for ch in ")(\n\r"):
                    raise ValueError(
                        f"facet value {s!r} for key {k!r} contains "
                        "unsupported characters ( ) or newline")
                # ALWAYS quote: a JSON string facet stays STRING-typed
                # even when it looks numeric ("2006") — quoting is the
                # type marker (types/facets/utils.go valAndValType)
                parts.append(f"{k}={_json.dumps(s)}")
        return " (" + ", ".join(parts) + ")"

    def _is_geo(v: dict) -> bool:
        return set(v) == {"type", "coordinates"} and isinstance(
            v.get("type"), str)

    def walk(obj: dict, parent_pred: str | None) -> tuple[str, dict]:
        raw_facets = {k: v for k, v in obj.items() if "|" in k}
        uid_val = obj.get("uid")
        if uid_val == "":  # empty string == absent (mapToNquads)
            uid_val = None
        if uid_val is None:
            if op == "delete":
                raise ValueError(
                    "UID must be present and non-zero while deleting edges.")
            subj = _blank()
        else:
            subj = _id_tok(uid_val)
        for pred, v in obj.items():
            if pred in ("uid", "namespace") or "|" in pred:
                continue
            # "name@en" splits into predicate + lang (x.PredicateLang) —
            # JSON mutations have no other way to carry language
            pred, _, lang = pred.partition("@")
            lang = f"@{lang}" if lang else ""
            if v is None:
                if op == "delete":
                    # lang-tagged key deletes only that language's posting
                    # (TestNquadsFromJsonDeleteStarLang)
                    lines.append(f'{subj} <{pred}> "*"{lang} .')
                continue
            scalar_fts = {
                k.split("|", 1)[1]: fv for k, fv in raw_facets.items()
                if k.split("|", 1)[0] == pred and not isinstance(fv, dict)}
            if isinstance(v, dict) and not _is_geo(v):
                if not v:
                    continue
                child, edge_fts = walk(v, pred)
                lines.append(
                    f"{subj} <{pred}> {child}"
                    f"{_facet_str({**scalar_fts, **edge_fts})} .")
            elif isinstance(v, list):
                # {"idx": val} facet maps align to scalar list positions
                idx_fts = {
                    k.split("|", 1)[1]: fv for k, fv in raw_facets.items()
                    if k.split("|", 1)[0] == pred and isinstance(fv, dict)}
                for i, item in enumerate(v):
                    if isinstance(item, dict) and not _is_geo(item):
                        child, edge_fts = walk(item, pred)
                        lines.append(f"{subj} <{pred}> {child}"
                                     f"{_facet_str(edge_fts)} .")
                    else:
                        if isinstance(item, dict):
                            item = _json.dumps(item)
                        fts = {fk: fm[str(i)] for fk, fm in idx_fts.items()
                               if str(i) in fm}
                        lines.append(f"{subj} <{pred}> {_lit(item)}"
                                     f"{_facet_str(fts)} .")
            else:
                if isinstance(v, dict):  # geojson
                    v = _json.dumps(v)
                if isinstance(v, str) and _re.match(
                        r"^(uid|val)\([A-Za-z0-9_.]+\)$", v.strip()):
                    # upsert template refs pass through unquoted
                    # (TestValInUpsert: ObjectId = "val(name)")
                    lines.append(f"{subj} <{pred}> {v.strip()}"
                                 f"{_facet_str(scalar_fts)} .")
                    continue
                lines.append(
                    f"{subj} <{pred}> {_lit(v)}{lang}"
                    f"{_facet_str(scalar_fts)} .")
        edge_fts = {}
        if parent_pred is not None:
            edge_fts = {
                k.split("|", 1)[1]: fv for k, fv in raw_facets.items()
                if k.split("|", 1)[0] == parent_pred
                and not isinstance(fv, dict)}
        return subj, edge_fts

    for o in doc if isinstance(doc, list) else [doc]:
        walk(o, None)
    return "\n".join(lines)


def set_json(graph: Graph, doc) -> Graph:
    """SetJson mutation (api.Mutation.SetJson; chunker ParseJSON with
    SetNquads): JSON documents -> triples -> the same posting-replace
    path as set_nquads."""
    return set_nquads(graph, json_to_nquads(doc, op="set"))


def delete_json(graph: Graph, doc) -> Graph:
    """DeleteJson mutation: null values delete all postings of
    (uid, pred); concrete values/edges delete those postings only."""
    return delete_nquads(graph, json_to_nquads(doc, op="delete"))


def delete_triples(graph: Graph, triples: DataFrame) -> Graph:
    """Apply delete-mutations. A row with NULL object_uid AND NULL
    value_str (parsed from `* `) deletes every value of (subject, pred).
    """
    g = _own_schema(graph)
    pred_names = [r["predicate"] for r in triples.select("predicate").distinct().collect()]
    for name in pred_names:
        if not g.has_pred(name):
            continue
        rows = triples.where(F.col("predicate") == name)
        meta = g.schema.get(name)
        old = g.pred(name)
        wipe = rows.where(F.col("object_uid").isNull() & (F.coalesce(F.col("value_str"), F.lit("*")) == "*"))
        if "lang" in rows.columns and "lang" in old.columns:
            # `<s> <p> "*"@es .` wipes only the es posting
            # (chunker DeleteNquads lang form); untagged star wipes all
            wipe_lang = wipe.where(F.col("lang").isNotNull())
            old = old.join(
                wipe_lang.select(SUBJECT, "lang"), [SUBJECT, "lang"],
                "left_anti")
            wipe = wipe.where(F.col("lang").isNull())
        old = old.join(wipe.select(SUBJECT), SUBJECT, "left_anti")
        if meta.is_uid:
            spec = rows.where(F.col("object_uid").isNotNull()).select(
                SUBJECT, F.col("object_uid").alias(OBJECT)
            )
            old = old.join(spec, [SUBJECT, OBJECT], "left_anti")
        else:
            spec = rows.where(F.col("value_str").isNotNull() & (F.col("value_str") != "*")).select(
                SUBJECT, F.col("value_str").alias("_dv")
            )
            old = old.join(
                spec, (old[SUBJECT] == spec[SUBJECT]) & (old[VALUE].cast("string") == spec["_dv"]), "left_anti"
            )
        g = g.with_pred(name, old, meta)
    return g


def _star_object(nquads: str) -> str:
    return nquads.replace(" * .", ' "*" .')  # normalize wildcard object


def delete_nquads(graph: Graph, nquads: str) -> Graph:
    return delete_triples(graph, _triples_from_nquads(graph, _star_object(nquads)))


def mutate(graph: Graph, mutation_text: str) -> Graph:
    """Apply a dgraph mutation document::

        { set { <nquads> } delete { <nquads> } }

    (dql/parser_mutation.go:15 ParseMutation surface; both sections
    optional, either order). A line that is not one well-formed N-Quad
    raises ValueError naming it; nothing is written."""
    set_nq, del_nq = _split_mutation_blocks(mutation_text)
    _check_nquads(_star_object(del_nq))  # set_nquads checks the set section
    g = graph
    if set_nq.strip():
        g = set_nquads(g, set_nq)
    if del_nq.strip():
        g = delete_nquads(g, del_nq)
    return g


def _split_mutation_blocks(text: str) -> tuple[str, str]:
    import re

    def grab(kw: str) -> str:
        m = re.search(kw + r"\s*\{", text)
        if not m:
            return ""
        depth = 1
        i = m.end()
        start = i
        while i < len(text) and depth:
            if text[i] == "{":
                depth += 1
            elif text[i] == "}":
                depth -= 1
            i += 1
        return text[start : i - 1]

    return grab(r"\bset"), grab(r"\bdelete")


# template N-Quad line: subject and object may each be a uid(var)
# placeholder besides the normal iri/blank/literal forms
_TMPL_RE = _re.compile(
    r'^\s*'
    r'(?:<([^>]*)>|(_:[A-Za-z0-9_.\-]+)|uid\((\w+)\))\s+'   # 1 iri | 2 blank | 3 var
    r'<([^>]*)>\s+'                                          # 4 predicate
    r'(?:<([^>]*)>|(_:[A-Za-z0-9_.\-]+)|uid\((\w+)\)|(\*)'   # 5 iri | 6 blank | 7 var | 8 wildcard
    r'|val\((\w+)\)'                                         # 9 value-var
    r'|"((?:[^"\\]|\\.)*)"'                                  # 10 literal
    r'(?:@([a-zA-Z\-]+))?'                                   # 11 lang
    r'(?:\^\^<([^>]*)>)?'                                    # 12 datatype
    r')'
    r'(?:\s+\(([^)]*)\))?'                                   # 13 facets
    r'\s*\.\s*$'
)


def expand_template(graph: Graph, nquads: str, env: dict[str, DataFrame],
                    max_var_size: int = 1_000_000) -> DataFrame:
    """Expand `uid(var)` placeholders in mutation N-Quads RELATIONALLY:
    each template line joins against the var's uid relation instead of
    collecting matched uids to the driver and rewriting text (the
    reference substitutes server-side per-uid, edgraph/server.go:999;
    driver-side text expansion would materialize millions of uids on one
    machine at scale). Same var in subject+object binds the same uid per
    row; distinct vars expand cartesian — matching the reference.

    Constant lines (no placeholders) batch through parse_nquads."""
    spark = graph.spark
    const_lines: list[str] = []
    parts: list[DataFrame] = []
    _checked_vars: dict[str, int] = {}
    from dgraph_spark.sources.rdf import _uid_expr

    def _id_expr(iri, blank, var):
        if var is not None:
            return F.col(f"__var_{var}")
        return _uid_expr(
            F.lit(iri) if iri is not None else F.lit(None).cast("string"),
            F.lit(blank) if blank is not None else F.lit(None).cast("string"),
        )

    for line in nquads.splitlines():
        if not line.strip() or line.strip().startswith("#"):
            continue
        if "uid(" not in line and not _re.search(r"\sval\(\w+\)", line):
            const_lines.append(line)
            continue
        m = _TMPL_RE.match(line)
        if not m:
            raise ValueError(f"bad upsert template N-Quad: {line!r}")
        (s_iri, s_blank, s_var, pred, o_iri, o_blank, o_var, o_star,
         o_valvar, o_lit, lang, dtype, facets) = m.groups()
        line_vars = []
        for v in (s_var, o_var):
            if v is not None and v not in line_vars:
                if v not in env:
                    raise ValueError(f"upsert var {v!r} not bound by query")
                if v not in _checked_vars:
                    # per-variable uid cap before the mutation fan-out
                    # (edgraph/server.go:1685: "We support maximum 1
                    # million UIDs per variable")
                    n = env[v].select(SUBJECT).limit(max_var_size + 1).count()
                    if n > max_var_size:
                        raise ValueError(f"var [{v}] has over million UIDs")
                    _checked_vars[v] = n
                line_vars.append(v)
        # the per-line fan-out is the PRODUCT of its variables' sizes
        # (the reference fans out the same way and hits the same wall);
        # two near-cap vars would build a 10^12-row mutation — fail
        # loudly before the cartesian instead of OOMing
        product = 1
        for v in line_vars:
            product *= max(_checked_vars[v], 1)
        if product > max_var_size:
            raise ValueError(
                f"upsert mutation line fans out to {product} rows "
                f"(variables {line_vars}), over the {max_var_size} cap")
        base = spark.range(1).select()
        for v in line_vars:
            rel = env[v].select(F.col(SUBJECT).alias(f"__var_{v}")).distinct()
            base = base.crossJoin(rel)
        if facets:
            fkv = [kv.split("=", 1) for kv in facets.split(",")]
            fmap = F.map_from_arrays(
                F.array(*[F.lit(k.strip()) for k, _ in fkv]),
                F.array(*[F.lit(x.strip()) for _, x in fkv]),
            )
        else:
            fmap = F.lit(None).cast("map<string,string>")
        obj_uid = (
            _id_expr(o_iri, o_blank, o_var)
            if (o_iri is not None or o_blank is not None or o_var is not None)
            else F.lit(None).cast("long")
        )
        value = F.lit("*") if o_star else (
            F.lit(o_lit) if o_lit is not None else F.lit(None).cast("string"))
        row = base.select(
            _id_expr(s_iri, s_blank, s_var).alias(SUBJECT),
            F.lit(pred).alias("predicate"),
            obj_uid.alias("object_uid"),
            value.alias("value_str"),
            (F.lit(lang) if lang else F.lit(None).cast("string")).alias("lang"),
            (F.lit(dtype) if dtype else F.lit(None).cast("string")).alias("datatype"),
            fmap.alias("facets"),
        )
        if o_valvar is not None:
            # `uid(u) <p> val(n) .` — each subject takes ITS value of n
            # (edgraph/server.go updateValInNQuads); subjects the var has
            # no value for drop out (no posting written)
            if o_valvar not in env:
                raise ValueError(
                    f"upsert var {o_valvar!r} not bound by query")
            vals = env[o_valvar].select(
                SUBJECT, F.col(VALUE).cast("string").alias("__vv"))
            row = (row.join(vals, SUBJECT, "inner")
                      .withColumn("value_str", F.col("__vv")).drop("__vv"))
        parts.append(row)
    if const_lines:
        parts.append(_triples_from_nquads(graph, "\n".join(const_lines)))
    if not parts:
        return _triples_from_nquads(graph, "")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def upsert_text(graph: Graph, upsert_block: str) -> "UpsertResult":
    """dgraph upsert block text form::

        upsert {
          query { v as var(func: eq(email, "x")) }
          mutation @if(eq(len(v), 0)) { set { ... } delete { ... } }
        }

    Query vars feed the conditional; uid(v) placeholders in BOTH the set
    and delete N-Quads expand relationally per matched uid
    (edgraph/server.go:874 buildUpsertQuery + :999 var substitution).
    @if supports exact cardinality checks eq/ne/lt/le/gt/ge(len(v), n)
    (dql/upsertparser.go conditions)."""
    import re

    qm = re.search(r"query\s*(\{.*?\})\s*mutation", upsert_block, re.S)
    if not qm:
        raise ValueError("upsert block needs `query { ... } mutation ...`")
    query_text = qm.group(1)
    cond = None
    cond_var = None
    cm = re.search(
        r"@if\s*\(\s*(eq|ne|lt|le|gt|ge)\s*\(\s*len\s*\(\s*(\w+)\s*\)\s*,\s*(\d+)\s*\)\s*\)",
        upsert_block,
    )
    if cm:
        op, cond_var, n = cm.group(1), cm.group(2), int(cm.group(3))
        cond = (op, n)
    mut_m = re.search(r"mutation[^{]*(\{.*\})", upsert_block, re.S)
    set_nq, del_nq = _split_mutation_blocks(mut_m.group(1))

    build_set = (lambda env: expand_template(graph, set_nq, env)) if set_nq.strip() else None
    build_del = (lambda env: expand_template(graph, del_nq, env)) if del_nq.strip() else None
    return upsert(graph, query_text, build_set, cond=cond, cond_var=cond_var,
                  build_delete=build_del)


@dataclass
class UpsertResult:
    graph: Graph
    applied: bool
    matched: int


_IF_OPS = {
    "eq": lambda m, n: m == n,
    "ne": lambda m, n: m != n,
    "lt": lambda m, n: m < n,
    "le": lambda m, n: m <= n,
    "gt": lambda m, n: m > n,
    "ge": lambda m, n: m >= n,
}


def upsert(
    graph: Graph,
    query: str,
    build_set=None,
    cond=None,
    cond_var: str | None = None,
    build_delete=None,
) -> UpsertResult:
    """Upsert block (edgraph/server.go:874 buildUpsertQuery):
    run `query`, pass its variable environment to ``build_set(env) /
    build_delete(env) -> triples DataFrame``, apply conditionally.

    ``cond``: the '@if(OP(len(v), n))' check — either the exact tuple
    ``(op, n)`` with op in eq/ne/lt/le/gt/ge (dql/upsertparser.go), or
    the legacy shorthands 'empty' (== eq 0) / 'nonempty' (== gt 0).
    The matched count of ``cond_var`` is evaluated against it.
    """
    from dgraph_spark.plans import Executor

    ex = Executor(graph)
    from dgraph_spark.dql.parser import parse_dql

    pq = parse_dql(query, allow_unused=True)
    for block in ex._schedule(pq.blocks):
        ex._run_block(block)
    matched = 0
    if cond_var is not None:
        vdf = ex.env.get(cond_var)
        matched = 0 if vdf is None else vdf.select(SUBJECT).distinct().count()
        if cond == "empty":
            cond = ("eq", 0)
        elif cond == "nonempty":
            cond = ("gt", 0)
        if cond is not None and not _IF_OPS[cond[0]](matched, cond[1]):
            return UpsertResult(graph=graph, applied=False, matched=matched)
    g = graph
    if build_set is not None:
        g = set_triples(g, build_set(ex.env))
    if build_delete is not None:
        g = delete_triples(g, build_delete(ex.env))
    return UpsertResult(graph=g, applied=True, matched=matched)
