"""set/delete/upsert mutation semantics (model: systest mutations +
edgraph/server.go doMutate paths)."""

from pyspark.sql import functions as F

from dgraph_spark.model import Graph
from dgraph_spark.mutations import delete_nquads, set_nquads, upsert
from dgraph_spark.schema import SchemaRegistry
from dgraph_spark.sources.rdf import graph_from_triples, parse_nquads

SCHEMA = ("name: string @index(hash) .\nage: int @index(int) .\n"
          "friend: [uid] .\nemail: string @index(hash) @upsert .\n"
          "nick: string @lang .")


def _graph(spark, nq: str) -> Graph:
    lines = spark.createDataFrame([(l,) for l in nq.splitlines() if l.strip()], "value string")
    return graph_from_triples(spark, parse_nquads(lines), SchemaRegistry.parse(SCHEMA))


def test_set_overwrites_scalar(spark):
    g = _graph(spark, '<0x1> <name> "Alice" .\n<0x1> <age> "25"^^<int> .')
    g2 = set_nquads(g, '<0x1> <age> "26"^^<int> .')
    vals = [r["value"] for r in g2.pred("age").collect()]
    assert vals == [26]  # single-valued overwrite (posting Ovr)


def test_set_unions_uid_list(spark):
    g = _graph(spark, "<0x1> <friend> <0x2> .")
    g2 = set_nquads(g, "<0x1> <friend> <0x3> .\n<0x1> <friend> <0x2> .")
    objs = sorted(r["object"] for r in g2.pred("friend").collect())
    assert objs == [2, 3]


def test_set_new_predicate(spark):
    g = _graph(spark, '<0x1> <name> "Alice" .')
    g2 = set_nquads(g, '<0x1> <nickname> "Al" .')
    assert g2.pred("nickname").count() == 1


def test_delete_triple_and_star(spark):
    g = _graph(spark, '<0x1> <friend> <0x2> .\n<0x1> <friend> <0x3> .\n<0x1> <name> "A" .')
    g2 = delete_nquads(g, "<0x1> <friend> <0x2> .")
    assert [r["object"] for r in g2.pred("friend").collect()] == [3]
    g3 = delete_nquads(g2, "<0x1> <friend> * .")
    assert g3.pred("friend").count() == 0
    assert g3.pred("name").count() == 1


def test_mutation_text_document(spark):
    from dgraph_spark.mutations import mutate

    g = _graph(spark, '<0x1> <name> "Alice" .\n<0x1> <friend> <0x2> .')
    g2 = mutate(g, '''
    {
      set { <0x1> <friend> <0x3> . }
      delete { <0x1> <friend> <0x2> . }
    }''')
    assert [r["object"] for r in g2.pred("friend").collect()] == [3]


def test_upsert_text_block(spark):
    from dgraph_spark.mutations import upsert_text

    g = _graph(spark, '<0x1> <email> "a@x.com" .')
    r = upsert_text(g, '''
    upsert {
      query { v as var(func: eq(email, "b@x.com")) }
      mutation @if(eq(len(v), 0)) {
        set { <0x99> <email> "b@x.com" . }
      }
    }''')
    assert r.applied
    assert r.graph.pred("email").count() == 2
    # uid(v) substitution path: add a name to every matched email node
    r2 = upsert_text(r.graph, '''
    upsert {
      query { v as var(func: eq(email, "b@x.com")) }
      mutation @if(gt(len(v), 0)) {
        set { uid(v) <name> "Bee" . }
      }
    }''')
    assert r2.applied and r2.matched == 1
    names = {x["value"] for x in r2.graph.pred("name").collect()}
    assert "Bee" in names


def test_conditional_upsert(spark):
    g = _graph(spark, '<0x1> <email> "a@x.com" .\n<0x1> <name> "Alice" .')

    def build(env):
        # create a node for the email only if it doesn't exist
        return parse_nquads(
            spark.createDataFrame([('<0x99> <email> "b@x.com" .',)], "value string")
        )

    # email b@x.com absent -> v empty -> @if(eq(len(v),0)) applies
    r = upsert(g, '{ v as var(func: eq(email, "b@x.com")) }', build,
               cond="empty", cond_var="v")
    assert r.applied and r.matched == 0
    assert r.graph.pred("email").count() == 2

    # now it exists -> second identical upsert must NOT apply
    r2 = upsert(r.graph, '{ v as var(func: eq(email, "b@x.com")) }', build,
                cond="empty", cond_var="v")
    assert not r2.applied and r2.matched == 1


def test_upsert_delete_block(spark):
    """delete{} section of an upsert applies with uid(v) substitution
    (edgraph/server.go:999 applies both set and delete N-Quads)."""
    from dgraph_spark.mutations import upsert_text

    g = _graph(spark, '<0x1> <email> "a@x.com" .\n<0x1> <name> "Old" .')
    r = upsert_text(g, '''
    upsert {
      query { v as var(func: eq(email, "a@x.com")) }
      mutation @if(gt(len(v), 0)) {
        set    { uid(v) <name> "New" . }
        delete { uid(v) <email> * . }
      }
    }''')
    assert r.applied and r.matched == 1
    assert r.graph.pred("email").count() == 0
    assert [x["value"] for x in r.graph.pred("name").collect()] == ["New"]


def test_upsert_exact_cardinality(spark):
    """@if(eq(len(v), 3)) must check EXACTLY 3, not merely nonempty
    (dql upsert conditions are exact comparisons)."""
    from dgraph_spark.mutations import upsert_text

    g = _graph(spark, '\n'.join(f'<0x{i}> <email> "x@x.com" .' for i in (1, 2)))
    block = '''
    upsert {
      query { v as var(func: eq(email, "x@x.com")) }
      mutation @if(eq(len(v), 3)) {
        set { uid(v) <name> "Three" . }
      }
    }'''
    r = upsert_text(g, block)  # 2 matches != 3 -> must NOT apply
    assert not r.applied and r.matched == 2
    g3 = set_nquads(g, '<0x3> <email> "x@x.com" .')
    r2 = upsert_text(g3, block)  # now exactly 3 -> applies
    assert r2.applied and r2.matched == 3
    assert r2.graph.pred("name").count() == 3


def test_upsert_relational_expansion(spark):
    """uid(v) expansion is a DataFrame join, never a driver collect:
    expand_template over a 100k-uid var relation plans without
    materializing uids on the driver (mutations.py expand_template)."""
    from dgraph_spark.mutations import expand_template

    g = _graph(spark, '<0x1> <name> "seed" .')
    big = spark.range(1, 100_001).select(F.col("id").alias("subject"))
    t = expand_template(g, 'uid(v) <flag> "y" .\nuid(v) <knows> uid(v) .', {"v": big})
    assert t.count() == 200_000
    # same-var subject+object bind the SAME uid per row
    pair = t.where(F.col("predicate") == "knows")
    assert pair.where(F.col("subject") != F.col("object_uid")).count() == 0
    # distinct vars expand cartesian
    small = spark.range(1, 4).select(F.col("id").alias("subject"))
    t2 = expand_template(g, 'uid(a) <linked> uid(b) .', {"a": small, "b": big})
    assert t2.count() == 3 * 100_000


def test_upsert_fanout_product_cap(spark):
    """Two near-cap variables on one template line would build a
    cartesian of their product (the reference fans out the same way) —
    the expansion fails loudly BEFORE building it instead of OOMing.
    Exercised with a small max_var_size so the test stays cheap."""
    import pytest

    from dgraph_spark.mutations import expand_template

    g = _graph(spark, '<0x1> <name> "seed" .')
    a = spark.range(1, 5).select(F.col("id").alias("subject"))    # 4 uids
    b = spark.range(10, 14).select(F.col("id").alias("subject"))  # 4 uids
    with pytest.raises(ValueError, match="fans out to 16 rows"):
        expand_template(g, "uid(a) <linked> uid(b) .", {"a": a, "b": b},
                        max_var_size=10)
    # a single var under the cap still expands
    t = expand_template(g, 'uid(a) <flag> "y" .', {"a": a},
                        max_var_size=10)
    assert t.count() == 4


def test_set_preserves_facets_and_lang(spark):
    # facet update on an existing edge + lang-variant postings
    # (posting/list.go Ovr per (subject, lang); facet replacement on
    # re-set of the same edge, types/facets/utils.go:75)
    sch = "name: string @lang .\nfriend: [uid] ."
    lines = spark.createDataFrame(
        [("<0x1> <friend> <0x2> (weight=1) .",), ('<0x1> <name> "Ann"@en .',)],
        "value string")
    g = graph_from_triples(spark, parse_nquads(lines), SchemaRegistry.parse(sch))
    g2 = set_nquads(g, '<0x1> <friend> <0x2> (weight=7) .\n'
                       '<0x1> <friend> <0x3> (weight=2) .\n'
                       '<0x1> <name> "Anne"@fr .\n'
                       '<0x1> <name> "Annie"@en .')
    fr = {r["object"]: r["facets"] for r in g2.pred("friend").collect()}
    assert set(fr) == {2, 3}
    assert fr[2]["weight"] == "7"  # facet replaced, not duplicated
    assert fr[3]["weight"] == "2"
    names = {r["lang"]: r["value"] for r in g2.pred("name").collect()}
    assert names == {"en": "Annie", "fr": "Anne"}  # per-lang overwrite


def test_reserved_predicate_mutation_rejected(spark):
    """Reserved-namespace guard (query/mutation_test.go:24-65;
    edgraph/server.go newReservedPredicateGuard, worker/proposal.go:177):
    graphql-reserved values are never user-writable, other dgraph.*
    predicates only when pre-defined (dgraph.type), and schema alters
    may not name anything under dgraph.*."""
    import pytest

    g = _graph(spark, '<0x1> <name> "Ann" .')
    with pytest.raises(ValueError, match="graphql reserved predicate"):
        set_nquads(g, '<0x1> <dgraph.graphql.schema> "df" .')
    with pytest.raises(ValueError, match="reserved as the namespace"):
        set_nquads(g, '<0x1> <dgraph.blah> "x" .')
    # dgraph.type is pre-defined and stays writable
    g2 = set_nquads(g, '<0x1> <dgraph.type> "Person" .')
    assert g2.pred("dgraph.type").where(F.col("subject") == 1).count() == 1
    with pytest.raises(ValueError, match=r"Can't alter type `dgraph.Person`"):
        g.schema.alter("type dgraph.Person { name }")
    with pytest.raises(ValueError, match=r"Can't alter predicate `dgraph.name`"):
        g.schema.alter("dgraph.name: string .")
    g.schema.alter("nickname: string @index(term) .")
    assert g.schema.get("nickname").indexes == ("term",)


def test_set_json_mutation(spark):
    """SetJson (chunker/json_parser.go mapToNquads): nested objects make
    edges, facet keys inside the child bind to the incoming edge
    (query/mutation-and-queries TestFacetJsonInputSupportsAnyOfTerms
    shape), "pred|f" sibling keys facet scalars, list facets use index
    maps, pred@lang keys carry language."""
    from dgraph_spark.mutations import delete_json, set_json
    from dgraph_spark.plans import Executor

    g = _graph(spark, '<0x1> <name> "Seed" .')
    g2 = set_json(g, {
        "uid": "_:a",
        "name": "Ann",
        "name|origin": "census",
        "nick@en": "Annie",
        "scores": [7, 9],
        "scores|src": {"0": "unit", "1": "final"},
        "access.to": {
            "uid": "0x7",
            "name": "Doc7",
            "access.to|permission": "WRITE",
            "access.to|inherit": False,
        },
    })
    # edge facets landed on the access.to edge
    edge = g2.pred("access.to").collect()
    assert len(edge) == 1 and edge[0]["object"] == 7
    # strings store quote-wrapped: the quote is the STRING type marker
    # (types/facets/utils.go valAndValType)
    assert edge[0]["facets"]["permission"] == '"WRITE"' 
    assert edge[0]["facets"]["inherit"] == "false"
    # facet filter over the JSON-ingested edge, reference query shape
    r = Executor(g2).execute(
        '{ q(func: has(access.to)) { access.to '
        '@facets(anyofterms(permission, "READ WRITE")) { name } } }')
    assert r["q"][0]["access.to"]["name"] == "Doc7"
    # scalar + list facets, lang key
    rows = {r["value"]: r for r in g2.pred("scores").collect()}
    assert rows["7"]["facets"]["src"] == '"unit"'  # quote == string marker
    assert rows["9"]["facets"]["src"] == '"final"' 
    nick = g2.pred("nick").collect()[0]
    assert nick["lang"] == "en" and nick["value"] == "Annie"
    # delete_json: null wipes the pred, concrete edge removes one posting
    uid_a = [r["subject"] for r in g2.pred("name").collect()
             if r["value"] == "Ann"][0]
    g3 = delete_json(g2, {"uid": hex(uid_a), "scores": None})
    assert g3.pred("scores").count() == 0
    g4 = delete_json(g2, {"uid": hex(uid_a), "access.to": {"uid": "0x7"}})
    assert g4.pred("access.to").count() == 0


def test_lang_requires_directive(spark):
    """Lang-tagged mutation values need @lang in the schema
    (edgraph ValidateAndConvert)."""
    import pytest

    g = _graph(spark, '<0x1> <name> "Ann" .')
    with pytest.raises(ValueError, match="should have @lang directive"):
        set_nquads(g, '<0x1> <name> "Anne"@fr .')
    g2 = set_nquads(g, '<0x1> <nick> "Annie"@en .')  # nick declares @lang
    assert g2.pred("nick").collect()[0]["lang"] == "en"


def test_json_nquads_edge_cases(spark):
    """chunker/json_parser_test.go ports: uid range/sign/empty handling,
    val()/uid() template refs, lang-scoped delete-star."""
    import pytest

    from dgraph_spark.mutations import delete_json, json_to_nquads

    # out-of-range / negative uids error (strconv.ParseUint(_, 0, 64))
    with pytest.raises(ValueError):
        json_to_nquads({"uid": "0xa14222b693e4ba34123", "name": "N"})
    with pytest.raises(ValueError):
        json_to_nquads({"uid": "-100", "name": "N"})
    # empty uid string == absent -> blank node (TestNquadsFromJson_EmptyUid)
    out = json_to_nquads({"uid": "", "name": "Alice"})
    assert out.startswith("_:")
    # val()/uid() refs pass through unquoted (TestValInUpsert)
    assert json_to_nquads({"uid": 1000, "name": "val(name)"}) \
        == "<0x3e8> <name> val(name) ."
    assert json_to_nquads({"uid": "uid(Project10)",
                           "row": {"uid": "uid(x)"}}) \
        == "uid(Project10) <row> uid(x) ."
    # delete: null deletes all (TestNquadsDeleteEdges), @lang only that
    # language's posting (TestNquadsFromJsonDeleteStarLang)
    assert json_to_nquads({"uid": 1000, "name": None}, op="delete") \
        == '<0x3e8> <name> "*" .'
    assert json_to_nquads({"uid": 1000, "name@es": None}, op="delete") \
        == '<0x3e8> <name> "*"@es .'
    g = _graph(spark, "<0x1> <friend> <0x2> .")
    from dgraph_spark.mutations import set_nquads as _set
    g = _set(g, '<0x1> <nick> "Annie"@en .\n<0x1> <nick> "Ana"@es .')
    g2 = delete_json(g, {"uid": "0x1", "nick@es": None})
    langs = {r["lang"] for r in g2.pred("nick").collect()}
    assert langs == {"en"}
    g3 = delete_json(g, {"uid": "0x1", "nick": None})
    assert g3.pred("nick").count() == 0


def test_json_vector_pred(spark):
    """float32vector via JSON mutation (chunker
    TestNquadsJsonValidVector / EmptyString / EmptySquareBracket):
    "[1.1, 2.2]" strings parse to vectors; ""/"[]" create no posting."""
    from dgraph_spark.mutations import set_json
    from dgraph_spark.plans import Executor

    sch = ('name: string @index(exact) .\n'
           'description_v: float32vector @index(hnsw(metric:"euclidean")) .')
    lines = spark.createDataFrame([('<0x9> <name> "seed" .',)], "value string")
    g = graph_from_triples(spark, parse_nquads(lines),
                           SchemaRegistry.parse(sch))
    g2 = set_json(g, [
        {"uid": "0x2", "name": "ipad", "description_v": "[1.1, 2.2, 3.3]"},
        {"uid": "0x3", "name": "ipod", "description_v": ""},
        {"uid": "0x4", "name": "ipod2", "description_v": "[]"},
    ])
    r = Executor(g2).execute(
        '{ q(func: similar_to(description_v, 2, [1.0, 2.0, 3.0])) { name } }')
    assert [n["name"] for n in r["q"]] == ["ipad"]  # only 1 vector exists
    assert g2.pred("description_v").count() == 1


def test_upsert_val_substitution(spark):
    """`uid(u) <p> val(n) .` writes each matched uid's own n-value
    (edgraph/server.go updateValInNQuads); uids without a value for n
    get no posting."""
    from dgraph_spark.mutations import upsert_text

    g = _graph(spark, '<0x1> <name> "Ann" .\n<0x1> <age> "30"^^<int> .\n'
                      '<0x2> <name> "Bob" .\n<0x2> <age> "40"^^<int> .\n'
                      '<0x3> <name> "Cat" .')
    r = upsert_text(g, '''
    upsert {
      query { u as var(func: has(name)) { n as age } }
      mutation @if(gt(len(u), 0)) {
        set { uid(u) <age_copy> val(n) . }
      }
    }''')
    assert r.applied
    rows = {x["subject"]: x["value"] for x in r.graph.pred("age_copy").collect()}
    assert rows == {1: "30", 2: "40"}  # 0x3 has no age -> no posting


def test_alter_drop_operations(spark):
    """Alter drops (edgraph/server.go:401-539): DropAttr removes data +
    schema for one predicate, DropOp TYPE removes only the type
    definition, DropData wipes postings but keeps schema, DropAll wipes
    both; pre-defined names are protected."""
    import pytest

    from dgraph_spark.mutations import (drop_all, drop_attr, drop_data,
                                        drop_type)

    g = _graph(spark, '<0x1> <name> "Ann" .\n<0x1> <age> "30"^^<int> .')
    g.schema.define_type("Person", ["name", "age"])
    g2 = drop_attr(g, "age")
    assert not g2.has_pred("age") and not g2.schema.has("age")
    assert g2.schema.types["Person"] == ["name"]
    assert g2.pred("name").count() == 1
    with pytest.raises(ValueError, match="pre-defined"):
        drop_attr(g, "dgraph.type")
    g3 = drop_type(g, "Person")
    assert "Person" not in g3.schema.types and g3.schema.has("name")
    with pytest.raises(ValueError, match="pre-defined"):
        drop_type(g, "dgraph.graphql")
    g4 = drop_data(g)
    assert g4.pred("name").count() == 0 and g4.schema.has("name")
    assert g4.schema.types["Person"] == ["name", "age"]
    g5 = drop_all(g)
    assert not g5.preds and not g5.schema.predicates


def test_drop_attr_hides_wide_table_predicate(graph):
    """A dropped predicate that lives in a wide node table is gone from
    every read path: plain and fused attribute reads, root functions and
    filters. The other layout hints survive the drop."""
    from dgraph_spark.mutations import drop_attr, drop_data, drop_type
    from dgraph_spark.plans import Executor
    from dgraph_spark.sources.tpch_graph import uid_of

    g = drop_attr(graph, "c_acctbal")
    ex = Executor(g)
    u = uid_of("customer", 7)
    node = ex.execute(f"{{ q(func: uid({u})) {{ c_name c_acctbal }} }}")["q"][0]
    assert "c_name" in node and "c_acctbal" not in node
    two = ex.execute(
        "{ q(func: type(Customer), first: 2) { c_name c_acctbal } }")["q"]
    assert len(two) == 2 and not any("c_acctbal" in n for n in two)
    assert not ex.execute("{ q(func: gt(c_acctbal, 0)) { uid } }").get("q")
    assert not ex.execute("{ q(func: type(Customer), first: 5) "
                          "@filter(gt(c_acctbal, 0)) { uid } }").get("q")
    # the parent version still reads it
    assert "c_acctbal" in Executor(graph).execute(
        f"{{ q(func: uid({u})) {{ c_acctbal }} }}")["q"][0]
    for v in (g, drop_type(graph, "Customer"), drop_data(graph)):
        assert v.type_uid_ranges == graph.type_uid_ranges
        assert v.wide_uid_key == graph.wide_uid_key


def test_unique_predicate_enforced(spark):
    """@unique predicates reject a value already owned by another
    subject (edgraph/server.go:1776 verifyUnique); re-setting the SAME
    subject's value is fine."""
    import pytest

    sch = "email: string @index(hash) @unique @upsert ."
    lines = spark.createDataFrame([('<0x1> <email> "a@x.com" .',)],
                                  "value string")
    g = graph_from_triples(spark, parse_nquads(lines),
                           SchemaRegistry.parse(sch))
    with pytest.raises(ValueError, match=r"duplicate value \[a@x.com\]"):
        set_nquads(g, '<0x2> <email> "a@x.com" .')
    g2 = set_nquads(g, '<0x1> <email> "a@x.com" .')  # same owner: ok
    assert g2.pred("email").count() == 1
    g3 = set_nquads(g, '<0x2> <email> "b@x.com" .')
    assert g3.pred("email").count() == 2


def test_set_json_multiline_text_roundtrip(spark):
    """A JSON string value containing \\n/\\t must survive the
    JSON->N-Quad->parse round trip (chunker builds quads structurally;
    our text path must escape control chars or the line-based parser
    silently drops the posting)."""
    from dgraph_spark.mutations import set_json

    g = _graph(spark, '<0x1> <name> "Seed" .')
    g2 = set_json(g, {"uid": "0x2", "name": "line1\nline2\tend"})
    rows = g2.pred("name").where(F.col("subject") == 2).collect()
    assert len(rows) == 1
    assert rows[0]["value"] == "line1\nline2\tend"


def test_set_json_facet_value_escaping(spark):
    """String facet values with ','/'='/' ' are quoted into the (k=v)
    group and parse back exactly; values the facet grammar cannot carry
    raise instead of silently dropping the quad."""
    import pytest

    from dgraph_spark.mutations import set_json

    g = _graph(spark, '<0x1> <name> "Seed" .')
    g2 = set_json(g, {"uid": "0x2", "name": "Ann",
                      "name|note": "a, b = c"})
    row = g2.pred("name").where(F.col("subject") == 2).collect()[0]
    assert row["facets"]["note"] == '"a, b = c"'  # quote == string marker
    with pytest.raises(ValueError, match="unsupported characters"):
        set_json(g, {"uid": "0x3", "name": "Bob", "name|note": "bad)val"})


def test_drop_data_keeps_lang_and_facet_columns(spark):
    """DropData empties every predicate but keeps its full column set —
    a nick@en query on the emptied graph analyzes fine and returns
    nothing (ADVICE r3: previously rebuilt without lang/facets cols)."""
    from dgraph_spark.mutations import drop_data

    g = _graph(spark, '<0x1> <nick> "Annie"@en .\n'
                      '<0x1> <name> "Ann" (src=census) .')
    g2 = drop_data(g)
    nick = g2.pred("nick")
    assert "lang" in nick.columns and nick.count() == 0
    assert "facets" in g2.pred("name").columns
    # wide tables (if any) are emptied too, not left with stale rows
    for wdf in g2.wide.values():
        assert wdf.count() == 0


def test_iri_predicate_with_lang_tag(spark):
    """`<name>@en` in a query body: the IRI brackets are stripped from
    the token text but the source span must still satisfy the '@ is
    adjacent' check (ADVICE r3: raised 'Unknown directive [en]')."""
    from dgraph_spark.dql.parser import parse_dql

    q = parse_dql('{ q(func: has(name)) { <name>@en } }')
    attrs = q.blocks[0].children
    assert any(a.name == "name" and a.langs == ["en"] for a in attrs)


def test_mutation_rejects_unparsable_line(spark):
    """Two quads on one line are not one N-Quad: the mutation raises,
    naming the line, instead of writing nothing."""
    import pytest

    from dgraph_spark.mutations import mutate

    g = _graph(spark, '<0x1> <name> "Alice" .')
    line = '_:a <p1> "x" . _:a <p2> "y" .'
    with pytest.raises(ValueError, match="p1"):
        mutate(g, "{ set { " + line + " } }")
    with pytest.raises(ValueError, match="nope"):
        mutate(g, "{ delete { <0x1> <name> nope . } }")
    # the same quads one per line (comments allowed) both land
    g2 = mutate(g, '{ set {\n# two new predicates\n_:a <p1> "x" .\n_:a <p2> "y" .\n} }')
    assert g2.pred("p1").count() == 1 and g2.pred("p2").count() == 1


def test_set_nquads_rejects_unparsable_line(spark):
    """set_nquads checks its lines like mutate(): a line that is not one
    N-Quad raises, naming it, and nothing is written; bulk loads keep
    the chunker's drop behaviour."""
    import os
    import tempfile

    import pytest

    from dgraph_spark.sources.rdf import load_rdf_graph

    g = _graph(spark, '<0x1> <name> "Alice" .')
    with pytest.raises(ValueError, match="p2"):
        set_nquads(g, '<0x1> <p1> "x" .\n<0x1> <p2> oops .\n')
    assert not g.has_pred("p1")
    g2 = set_nquads(g, '# comment\n<0x1> <p1> "x" .\n')
    assert g2.pred("p1").count() == 1
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "bulk.nq")
        with open(path, "w") as f:
            f.write('<0x1> <name> "Alice" .\n<0x1> <p2> oops .\n')
        bulk = load_rdf_graph(spark, path, "")
        assert bulk.pred("name").count() == 1 and not bulk.has_pred("p2")


def test_write_leaves_parent_schema_unchanged(spark):
    """Graph versions are immutable, schema included: a write that adds
    uid predicate `e` registers it on the new version only."""
    from dgraph_spark.mutations import mutate

    g = _graph(spark, '<0x1> <name> "Alice" .')
    before = dict(g.schema.predicates)
    g2 = mutate(g, '{ set {\n<0x1> <e> <0x2> .\n<0x1> <age> "3"^^<int> .\n} }')
    assert g2.schema.has("e") and g2.schema.get("e").is_uid
    assert not g.schema.has("e")
    assert g.schema.predicates == before
