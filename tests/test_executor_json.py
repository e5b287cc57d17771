"""Golden-ish JSON shape tests for the executor (model:
query/query0_test.go JSONEq assertions, on the TPC-H graph fixture)."""

import duckdb
import pytest

from dgraph_spark.sources.tpch_graph import uid_of
from tests.conftest import SF_SMALL


def test_nested_traversal(executor):
    r = executor.execute('''
    { q(func: eq(n_name, "NATION_3")) {
        n_name
        cust: ~in_nation @filter(type(Customer) AND gt(c_acctbal, 1000)) (first: 2, orderdesc: c_acctbal) {
          c_name c_acctbal
        }
    } }''')
    assert list(r) == ["q"]
    node = r["q"][0]
    assert node["n_name"] == "NATION_3"
    custs = node["cust"]
    assert len(custs) == 2
    assert custs[0]["c_acctbal"] >= custs[1]["c_acctbal"]
    assert all(c["c_acctbal"] > 1000 for c in custs)


def test_count_attr_and_uid(executor):
    u = uid_of("customer", 1)
    r = executor.execute(f'{{ q(func: uid({u})) {{ uid c_name cnt: count(placed) }} }}')
    node = r["q"][0]
    assert node["uid"] == f"0x{u:x}"
    assert isinstance(node["cnt"], int)


def test_count_uid_root(executor):
    r = executor.execute('{ q(func: type(Region)) { count(uid) } }')
    assert r["q"] == [{"count": 5}]


def test_agg_block(executor):
    """A var block above LITERAL_FRONTIER_MAX uids keeps the lazy binding;
    its root aggregates still match DuckDB."""
    from dgraph_spark.plans.executor import LITERAL_FRONTIER_MAX

    r = executor.execute('''
    {
      var(func: type(Order)) { t as o_totalprice }
      s() { total: sum(val(t)) mn: min(val(t)) }
    }''')
    # one single-key node per aggregate (query/outputnode.go shape)
    out = {k: v for d in r["s"] for k, v in d.items()}
    n, total, mn = duckdb.sql(
        f"SELECT count(*), sum(o_totalprice), min(o_totalprice) "
        f"FROM '{SF_SMALL}/orders.parquet'").fetchone()
    assert n > LITERAL_FRONTIER_MAX
    assert out["total"] == pytest.approx(total, rel=1e-12)
    assert out["mn"] == mn


def test_groupby_json(executor):
    r = executor.execute('''
    { g(func: type(Lineitem)) @groupby(l_returnflag) { cnt: count(uid) } }''')
    groups = r["g"][0]["@groupby"]
    assert {g["l_returnflag"] for g in groups} <= {"A", "N", "R"}
    assert all(g["cnt"] > 0 for g in groups)


def test_cascade_drops_childless(executor):
    r = executor.execute('''
    { q(func: type(Customer)) @cascade {
        c_name
        placed @filter(gt(o_totalprice, 400000)) { o_totalprice }
    } }''')
    assert all("placed" in node and node["placed"] for node in r["q"])


def test_normalize_flattens(executor):
    r = executor.execute('''
    { q(func: eq(n_name, "NATION_0")) @normalize {
        nation: n_name
        ~in_nation @filter(type(Customer)) (first: 2) { cust: c_name c_acctbal }
    } }''')
    flat = r["q"]
    # only ALIASED attrs survive @normalize (c_acctbal is dropped)
    assert all(set(d) <= {"nation", "cust"} for d in flat)
    assert any("cust" in d for d in flat)


def test_recurse_shape(executor):
    u = uid_of("customer", 1)
    r = executor.execute(f'''
    {{ q(func: uid({u})) @recurse(depth: 3) {{ in_nation in_region n_name r_name }} }}''')
    node = r["q"][0]
    # in_nation / in_region are non-list uid preds -> JSON objects
    # (query/outputnode.go: list=false renders single object)
    nation = node["in_nation"]
    assert "n_name" in nation
    assert "in_region" in nation
    assert "r_name" in nation["in_region"]


def test_shortest_path_json(executor):
    src = uid_of("customer", 1)
    # region of customer 1 resolved through the graph itself
    import pyspark.sql.functions as F

    g = executor.g
    n = g.edge("in_nation").where(F.col("subject") == src).collect()[0]["object"]
    rgn = g.edge("in_region").where(F.col("subject") == n).collect()[0]["object"]
    r = executor.execute(f'''
    {{ path as shortest(from: {src}, to: {rgn}) {{ in_nation in_region }} }}''')
    # nested per-hop shape (query/outputnode.go shortest `_path_`)
    root = r["_path_"][0]
    assert root["_weight_"] == 2.0
    assert root["uid"] == f"0x{src:x}"
    hop1 = root["in_nation"]
    assert hop1["uid"] == f"0x{n:x}"
    assert hop1["in_region"]["uid"] == f"0x{rgn:x}"


def test_expand_all(executor):
    """Scalar preds flatten directly into the node (reference JSON shape,
    query/query.go:2038 expandSubgraph -> normal attr children)."""
    u = uid_of("region", 0)
    r = executor.execute(f"{{ q(func: uid({u})) {{ expand(_all_) }} }}")
    node = r["q"][0]
    assert node["r_name"] == "AFRICA"


def test_expand_all_nested_uid_preds(executor):
    """expand(_all_) { body }: uid predicates expand as child blocks
    carrying the body (query/query.go:2139-2143 recursiveCopy)."""
    u = uid_of("nation", 3)
    r = executor.execute(f"{{ q(func: uid({u})) {{ expand(_all_) {{ r_name }} }} }}")
    node = r["q"][0]
    assert node["n_name"] == "NATION_3"
    assert node["in_region"]["r_name"] in {
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"}
    # bare expand omits uid-pred children (empty nodes are pruned)
    r2 = executor.execute(f"{{ q(func: uid({u})) {{ expand(_all_) }} }}")
    assert "in_region" not in r2["q"][0]


def test_expand_val_var(spark):
    """expand(val(v)) reads predicate names out of a value variable
    (query/query.go:1823-1830 ExpandPreds)."""
    from dgraph_spark.plans import Executor
    from dgraph_spark.schema import SchemaRegistry
    from dgraph_spark.sources.rdf import graph_from_triples, parse_nquads

    nq = '\n'.join([
        '<0x1> <name> "Alice" .',
        '<0x1> <city> "Oslo" .',
        '<0x1> <age> "30"^^<int> .',
        # one posting per node: the reference rejects value vars over
        # nodes with >1 postings of a list pred (query/query.go:1640) —
        # multi-pred expand reads DISTINCT values across subjects
        '<0x9> <plist> "name" .',
        '<0xa> <plist> "city" .',
    ])
    lines = spark.createDataFrame([(l,) for l in nq.splitlines()], "value string")
    g = graph_from_triples(spark, parse_nquads(lines), SchemaRegistry.parse(
        "name: string .\ncity: string .\nage: int .\nplist: [string] ."))
    r = Executor(g).execute('''
    {
      var(func: uid(0x9, 0xa)) { p as plist }
      q(func: uid(0x1)) { expand(val(p)) }
    }''')
    node = r["q"][0]
    assert node["name"] == "Alice" and node["city"] == "Oslo"
    assert "age" not in node  # only preds named by the var expand


def test_pagination_negative_first(executor):
    r_all = executor.execute('{ q(func: type(Region), orderasc: r_name) { r_name } }')
    r_last = executor.execute('{ q(func: type(Region), orderasc: r_name, first: -2) { r_name } }')
    names = [n["r_name"] for n in r_all["q"]]
    last2 = [n["r_name"] for n in r_last["q"]]
    assert last2 == names[-2:]


@pytest.mark.parametrize("func, filt, where", [
    ("type(Customer)", "", "true"),
    ('eq(c_mktsegment, "BUILDING")', "", "c_mktsegment = 'BUILDING'"),
    ("type(Customer)", "@filter(gt(c_acctbal, 1000.0))", "c_acctbal > 1000.0"),
])
def test_ordered_unpaginated_root_keeps_sort_order(executor, func, filt, where):
    """A root whose node set is one wide-table scan, ordered but not
    paged, must come back in sort order, not uid order."""
    r = executor.execute(
        f'{{ q(func: {func}, orderdesc: c_acctbal) {filt} {{ c_name c_acctbal }} }}')
    got = [(n["c_name"], n["c_acctbal"]) for n in r["q"]]
    want = duckdb.sql(
        f"SELECT c_name, c_acctbal FROM '{SF_SMALL}/customer.parquet' "
        f"WHERE {where} ORDER BY c_acctbal DESC").fetchall()
    assert got == want
    assert got != sorted(got)  # c_name follows uid order: the order differs


def test_filter_or_not(executor):
    r = executor.execute('''
    { q(func: type(Nation)) @filter(eq(n_name, "NATION_1") OR eq(n_name, "NATION_2")) { n_name } }''')
    assert {n["n_name"] for n in r["q"]} == {"NATION_1", "NATION_2"}
    r2 = executor.execute('''
    { q(func: type(Region)) @filter(NOT eq(r_name, "AFRICA")) { r_name } }''')
    assert {n["r_name"] for n in r2["q"]} == {"AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"}


def test_agg_only_math_respects_defining_aggregate(executor):
    """math() over m as min/max(val(x)) must not collapse with SUM
    (query/query.go scalar aggregates; VERDICT r1 wrong-item 2)."""
    r = executor.execute('''
    {
      var(func: type(Part)) { x as p_size }
      me() {
        m1 as min(val(x))
        m2 as max(val(x))
        spread: math(m2 - m1)
      }
    }''')
    node = {k: v for d in r["me"] for k, v in d.items()}
    mn, mx = node["min(val(x))"], node["max(val(x))"]
    assert node["spread"] == mx - mn > 0
    # sum-collapse of either side would blow the spread far past max
    assert node["spread"] < mx + 1


def test_recurse_edge_dedup_semantics(spark):
    """loop=false is reachMap edge-dedup (query/recurse.go:117-127): an
    EDGE is traversed at most once, but a node may reappear via a
    not-yet-taken edge — a<->b shows a again under b, then stops."""
    from dgraph_spark.plans import Executor
    from dgraph_spark.schema import SchemaRegistry
    from dgraph_spark.sources.rdf import graph_from_triples, parse_nquads

    nq = '\n'.join([
        '<0x1> <name> "a" .', '<0x2> <name> "b" .',
        '<0x1> <knows> <0x2> .', '<0x2> <knows> <0x1> .',
    ])
    lines = spark.createDataFrame([(l,) for l in nq.splitlines()], "value string")
    g = graph_from_triples(spark, parse_nquads(lines), SchemaRegistry.parse(
        "name: string .\nknows: [uid] ."))
    r = Executor(g).execute('{ q(func: uid(0x1)) @recurse(depth: 5) { knows name } }')
    a = r["q"][0]
    assert a["name"] == "a"
    b = a["knows"][0]
    assert b["name"] == "b"
    a2 = b["knows"][0]           # back-edge b->a IS taken (new edge)
    assert a2["name"] == "a"
    assert "knows" not in a2     # a->b already taken -> recursion stops


def test_rdf_object_renders_terms():
    """RDF object terms (outputrdf.go valToBytes): strings JSON-escaped
    with every escape class, integers quoted, booleans bare."""
    from dgraph_spark.plans.executor import _rdf_object

    vals = ["plain", 'quo"te', "back\\slash", "new\nline", "tab\there",
            "ünïcodé 你好", "ctrl\x01char", ""]
    assert [_rdf_object(v) for v in vals] == [
        '"plain"', '"quo\\"te"', '"back\\\\slash"', '"new\\nline"',
        '"tab\\there"', '"ünïcodé 你好"', '"ctrl\\u0001char"', '""']
    assert [_rdf_object(v) for v in (0, 42, -7, 2 ** 62)] == \
        ['"0"', '"42"', '"-7"', f'"{2 ** 62}"']
    assert [_rdf_object(v) for v in (True, False)] == ["true", "false"]


def test_rdf_string_escapes(spark):
    """A string value that needs escapes, end to end through N-Quads."""
    from dgraph_spark.plans import Executor
    from dgraph_spark.schema import SchemaRegistry
    from dgraph_spark.sources.rdf import graph_from_triples, parse_nquads

    line = ('<0x1> <s> "quo\\"te back\\\\slash new\\nline tab\\there '
            '\\u00fcni \\u4f60" .')
    df = spark.createDataFrame([(line,)], "value string")
    g = graph_from_triples(spark, parse_nquads(df),
                           SchemaRegistry.parse("s: string ."))
    assert Executor(g).execute_rdf("{ q(func: uid(1)) { s } }") == (
        '<0x1> <s> "quo\\"te back\\\\slash new\\nline tab\\there üni 你" .\n')


def test_rdf_inrow_child_attr(executor):
    """A child attr read in-row off the traversal edge (~in_nation is
    derived from the customer table), ranked by an in-row order key."""
    got = executor.execute_rdf(
        '{ q(func: eq(n_name, "NATION_3")) { n_name '
        '  ~in_nation (first: 3, orderdesc: c_acctbal) { c_name } } }')
    assert got == (
        '<0x20000000003> <n_name> "NATION_3" .\n'
        '<0x20000000003> <~in_nation> <0x30000000039> .\n'
        '<0x20000000003> <~in_nation> <0x30000000011> .\n'
        '<0x20000000003> <~in_nation> <0x30000000049> .\n'
        '<0x30000000011> <c_name> "Customer#000000017" .\n'
        '<0x30000000039> <c_name> "Customer#000000057" .\n'
        '<0x30000000049> <c_name> "Customer#000000073" .\n')


def _duck(sql: str, *params):
    return duckdb.execute(sql.replace("{sf}", SF_SMALL), list(params)).fetchall()


@pytest.mark.parametrize("key", [1, 2, 7])
def test_var_block_level_aggregates_match_duckdb(executor, key):
    """Serving's `agg` shape with every aggregate: the var block runs
    level at a time and binds p, ot, mn, mx and av on the driver; the
    consumer's aggregates fold from those maps."""
    u = uid_of("customer", key)
    r = executor.execute(
        f'{{ var(func: uid({u})) {{ placed {{ line {{ p as l_extendedprice }} '
        f'ot as sum(val(p)) mn as min(val(p)) mx as max(val(p)) av as avg(val(p)) }} }} '
        f'q(func: uid({u})) {{ c_name total: sum(val(ot)) lo: min(val(mn)) '
        f'hi: max(val(mx)) mean: avg(val(av)) }} }}')
    name, total, lo, hi, mean = _duck(
        "WITH per AS (SELECT o_orderkey, sum(l_extendedprice) s, "
        "avg(l_extendedprice) a, min(l_extendedprice) mn, max(l_extendedprice) mx "
        "FROM '{sf}/orders.parquet' JOIN '{sf}/lineitem.parquet' "
        "ON l_orderkey = o_orderkey WHERE o_custkey = ? GROUP BY o_orderkey) "
        "SELECT (SELECT c_name FROM '{sf}/customer.parquet' WHERE c_custkey = ?), "
        "sum(s), min(mn), max(mx), avg(a) FROM per", key, key)[0]
    (node,) = r["q"]
    assert node["c_name"] == name
    assert node["total"] == pytest.approx(total, rel=1e-12)
    assert node["lo"] == lo and node["hi"] == hi
    assert node["mean"] == pytest.approx(mean, rel=1e-12)


@pytest.mark.parametrize("key", [1, 2, 7])
def test_two_level_aggregate_renders_what_var_binds(executor, key):
    """sum/max(val(p)) over a var two levels down: p sums up to each
    order (transformTo), then sum or max applies over the customer's
    orders (evalLevelAgg). The rendered values and the vars t and m,
    read on the same customer by another block, agree with DuckDB."""
    u = uid_of("customer", key)
    r = executor.execute(
        f'{{ me(func: uid({u})) {{ placed {{ line {{ p as l_extendedprice }} }} '
        f't as sum(val(p)) m as max(val(p)) }} '
        f'q(func: uid({u})) {{ val(t) val(m) }} }}')
    total, top = _duck(
        "WITH per AS (SELECT o_orderkey, sum(l_extendedprice) s "
        "FROM '{sf}/orders.parquet' JOIN '{sf}/lineitem.parquet' "
        "ON l_orderkey = o_orderkey WHERE o_custkey = ? GROUP BY o_orderkey) "
        "SELECT sum(s), max(s) FROM per", key)[0]
    (me,) = r["me"]
    (q,) = r["q"]
    for got in (me["sum(val(p))"], q["val(t)"]):
        assert got == pytest.approx(total, rel=1e-12)
    for got in (me["max(val(p))"], q["val(m)"]):
        assert got == pytest.approx(top, rel=1e-12)


def test_uid_var_root_and_filter_match_duckdb(executor):
    """A uid var bound by a var block feeds a uid(v) root and a
    uid(v) filter as its driver-side uid list."""
    key = 3
    u = uid_of("customer", key)
    r = executor.execute(
        f'{{ var(func: uid({u})) {{ o as placed @filter(gt(o_totalprice, 150000.0)) {{ o_totalprice }} }} '
        f'big(func: uid(o), orderdesc: o_totalprice) {{ o_totalprice }} '
        f'rest(func: uid({u})) {{ placed @filter(NOT uid(o)) {{ o_totalprice }} }} }}')
    big = [n["o_totalprice"] for n in r["big"]]
    rest = [n["o_totalprice"] for n in r["rest"][0]["placed"]]
    want_big = [p for (p,) in _duck(
        "SELECT o_totalprice FROM '{sf}/orders.parquet' WHERE o_custkey = ? "
        "AND o_totalprice > 150000 ORDER BY o_totalprice DESC", key)]
    want_rest = [p for (p,) in _duck(
        "SELECT o_totalprice FROM '{sf}/orders.parquet' WHERE o_custkey = ? "
        "AND o_totalprice <= 150000 ORDER BY o_orderkey", key)]
    assert big == want_big and rest == want_rest
    assert big and rest  # both sides of the filter are covered


def test_var_block_level_above_cap_stays_lazy(executor):
    """A uid-rooted var block whose `line` level crosses
    LITERAL_FRONTIER_MAX: the levels above it bind on the driver, that
    level and the vars on it keep their lazy plans (nothing bound on the
    driver), and every consumer still matches DuckDB."""
    from dgraph_spark.plans.executor import LITERAL_FRONTIER_MAX

    region = 0
    r = executor.execute(
        f'{{ var(func: uid({uid_of("region", region)})) {{ ~in_region {{ ~in_nation {{ '
        f'o as placed {{ l as line {{ p as l_extendedprice }} ot as sum(val(p)) }} }} }} }} '
        f's() {{ total: sum(val(ot)) }} '
        f'cheap(func: uid(o), orderasc: o_totalprice, first: 2) {{ o_totalprice }} '
        f'n(func: uid(l)) {{ count(uid) }} }}')
    scope = ("FROM '{sf}/nation.parquet' JOIN '{sf}/customer.parquet' "
             "ON c_nationkey = n_nationkey JOIN '{sf}/orders.parquet' "
             "ON o_custkey = c_custkey ")
    (n_orders,) = _duck("SELECT count(*) " + scope + "WHERE n_regionkey = ?", region)[0]
    n_lines, total = _duck(
        "SELECT count(*), sum(l_extendedprice) " + scope
        + "JOIN '{sf}/lineitem.parquet' ON l_orderkey = o_orderkey "
        "WHERE n_regionkey = ?", region)[0]
    cheap = [p for (p,) in _duck(
        "SELECT o_totalprice " + scope + "WHERE n_regionkey = ? "
        "ORDER BY o_totalprice LIMIT 2", region)]
    assert n_orders <= LITERAL_FRONTIER_MAX < n_lines
    assert len(executor.var_uids["o"]) == n_orders
    assert "l" not in executor.var_uids
    assert not {"p", "ot"} & set(executor.var_vals)
    assert r["s"] == [{"total": pytest.approx(total, rel=1e-12)}]
    assert [n["o_totalprice"] for n in r["cheap"]] == cheap
    assert r["n"] == [{"count": n_lines}]


def test_var_block_over_lazy_uid_root_stays_lazy(executor):
    """A var block rooted at uid(O), O a var above LITERAL_FRONTIER_MAX:
    the root is not collected, so nothing under it binds on the driver."""
    r = executor.execute(
        '{ O as var(func: type(Order)) var(func: uid(O)) { line { p as l_extendedprice } } '
        's() { total: sum(val(p)) } }')
    (total,) = _duck("SELECT sum(l_extendedprice) FROM '{sf}/lineitem.parquet'")[0]
    assert "O" not in executor.var_uids and "p" not in executor.var_vals
    assert r["s"] == [{"total": pytest.approx(total, rel=1e-12)}]
