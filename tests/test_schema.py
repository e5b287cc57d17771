from dgraph_spark.schema import SchemaRegistry


def test_parse_schema_lines():
    reg = SchemaRegistry.parse("""
    name: string @index(term, exact, trigram) @count @lang .
    friend: [uid] @reverse @count .
    age: int @index(int) .
    user_profile: float32vector @index(hnsw(metric:"euclidean")) .
    type Person { name friend age }
    """)
    name = reg.get("name")
    assert name.typ == "string" and name.lang and name.count
    assert name.indexes == ("term", "exact", "trigram")
    friend = reg.get("friend")
    assert friend.is_uid and friend.list and friend.reverse
    assert reg.get("age").spark_type == "bigint"
    assert reg.get("user_profile").spark_type == "array<float>"
    assert reg.type_preds("Person") == ["name", "friend", "age"]


def test_roundtrip_json():
    reg = SchemaRegistry.parse("name: string @index(exact) .\nfriend: [uid] @reverse .")
    reg2 = SchemaRegistry.from_json(reg.to_json())
    assert reg2.get("friend").reverse
    assert reg2.get("name").indexes == ("exact",)


def test_unknown_pred_defaults():
    reg = SchemaRegistry()
    assert reg.get("mystery").typ == "default"



def _bigfloat_graph(spark, lines, schema):
    from dgraph_spark.schema import SchemaRegistry
    from dgraph_spark.sources.rdf import graph_from_triples, parse_nquads

    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    return graph_from_triples(spark, parse_nquads(df),
                              SchemaRegistry.parse(schema))


_BF_FIVE = [
    '<0x666> <amount> "100" .',
    '<0x124> <amount> "99.1231231233" .',
    '<0x777> <amount> "99" .',
    '<0x888> <amount> "99.0000000000000000000001" .',
    '<0x123> <amount> "123123.123123123132" .',
]
_BF_SCHEMA = "amount: bigfloat @index(bigfloat) ."


def test_bigfloat_eq_22_digits(spark):
    """query4_test.go TestBigFloatTypeTokenizer: eq() distinguishes
    values differing in the 23rd significant digit, and the value
    renders with FULL digits (a decimal, not a float64)."""
    from decimal import Decimal

    from dgraph_spark.plans import Executor

    g = _bigfloat_graph(spark, [
        '<0x666> <amount> "10.0000000000000000000123" .',
        '<0x777> <amount> "10.0000000000000000000124" .',
    ], _BF_SCHEMA)
    got = Executor(g).execute(
        '{ me(func: eq(amount, "10.0000000000000000000124")) { uid amount } }')
    assert got == {"me": [{"uid": "0x777",
                           "amount": Decimal("10.0000000000000000000124")}]}


def test_bigfloat_sort_lt(spark):
    """query4_test.go TestBigFloatSort / TestBigFloatLt: numeric (not
    lexical) ordering and inequality over 200-bit values."""
    from dgraph_spark.plans import Executor

    g = _bigfloat_graph(spark, _BF_FIVE, _BF_SCHEMA)
    got = Executor(g).execute(
        '{ me(func: has(amount), orderasc: amount) { uid } }')
    assert [r["uid"] for r in got["me"]] == \
        ["0x777", "0x888", "0x124", "0x666", "0x123"]
    lt = Executor(g).execute(
        '{ me(func: has(amount)) @filter(lt(amount, 100)) { uid } }')
    assert {r["uid"] for r in lt["me"]} == {"0x777", "0x888", "0x124"}


def test_bigfloat_sum_avg_max_exact(spark):
    """query4_test.go TestBigFloatSum/Avg/Max pin EXACT digit strings
    produced by 200-bit big.Float arithmetic — far beyond
    decimal(38,10)."""
    from decimal import Decimal

    from dgraph_spark.plans import Executor

    g = _bigfloat_graph(spark, _BF_FIVE, _BF_SCHEMA)
    q = ('{ me(func: has(amount)) { a as amount } '
         '  q() { %s : %s(val(a)) } }')
    s = Executor(g).execute(q % ("sum_amt", "sum"))
    assert s["q"] == [{"sum_amt": Decimal("123520.2462462464320000000001")}]
    a = Executor(g).execute(q % ("avg_amt", "avg"))
    assert a["q"] == [{"avg_amt": Decimal("24704.04924924928640000000002")}]
    m = Executor(g).execute(q % ("max_amt", "max"))
    assert m["q"] == [{"max_amt": Decimal("123123.123123123132")}]


def test_bigfloat_same_name_other_level_untouched(spark):
    """Bigfloat rendering is keyed per LEVEL: an aliased STRING field
    that happens to share the bigfloat predicate's output name at a
    different nesting depth must come through verbatim — neither
    dropped (unparseable) nor coerced to Decimal (numeric-looking)."""
    from decimal import Decimal

    from dgraph_spark.plans import Executor

    g = _bigfloat_graph(spark, [
        '<0x666> <amount> "10.0000000000000000000123" .',
        '<0x666> <friend> <0x777> .',
        '<0x666> <friend> <0x888> .',
        '<0x777> <name> "alice" .',
        '<0x888> <name> "123" .',
    ], _BF_SCHEMA + "\nfriend: [uid] .\nname: string .")
    got = Executor(g).execute(
        '{ me(func: has(amount)) { uid amount '
        '   friend { uid amount: name } } }')
    me = got["me"][0]
    assert me["amount"] == Decimal("10.0000000000000000000123")
    by_uid = {f["uid"]: f["amount"] for f in me["friend"]}
    assert by_uid == {"0x777": "alice", "0x888": "123"}


def test_bigfloat_math_ceil_floor_sqrt(spark):
    """query4_test.go TestBigFloatCeil/Floor/Sqrt: math() over a
    bigfloat variable runs at 200 bits; sqrt(2) must agree with
    big.Float to the shortest-round-trip digit string."""
    from decimal import Decimal

    from dgraph_spark.plans import Executor

    g = _bigfloat_graph(spark, ['<0x666> <amount> "2" .'], _BF_SCHEMA)
    got = Executor(g).execute(
        '{ me(func: eq(amount, "2")) { uid amount as amount '
        '   amt : math(sqrt(amount)) } }')
    amt = got["me"][0]["amt"]
    # 200-bit sqrt(2), shortest round-trip (61 significant digits)
    assert str(amt).startswith("1.4142135623730950488016887242096980785696718753769480731766")
    g2 = _bigfloat_graph(spark, ['<0x666> <amount> "2.1" .'], _BF_SCHEMA)
    got2 = Executor(g2).execute(
        '{ me(func: eq(amount, "2.1")) { uid amount as amount '
        '   c : math(ceil(amount)) f : math(floor(amount)) } }')
    assert got2["me"][0]["c"] == Decimal(3)
    assert got2["me"][0]["f"] == Decimal(2)


def test_bigfloat_level_aggregate_renders_what_var_binds(spark):
    """A level aggregate over a bigfloat var runs at 200 bits where it
    renders, and renders the value its own var binds (val(t) below)."""
    from decimal import Decimal

    from dgraph_spark.plans import Executor

    g = _bigfloat_graph(spark, [
        '<0x666> <friend> <0x777> .',
        '<0x666> <friend> <0x888> .',
        '<0x777> <amount> "100" .',
        '<0x888> <amount> "99.0000000000000000000001" .',
    ], _BF_SCHEMA + "\nfriend: [uid] .")
    got = Executor(g).execute(
        '{ me(func: uid(0x666)) { friend { a as amount } '
        '  t as sum(val(a)) m as max(val(a)) } '
        '  q(func: uid(0x666)) { val(t) val(m) } }')
    (me,) = got["me"]
    assert me["sum(val(a))"] == Decimal("199.0000000000000000000001")
    assert me["max(val(a))"] == Decimal("100")
    assert got["q"] == [{"val(t)": me["sum(val(a))"],
                         "val(m)": me["max(val(a))"]}]
    # math() at the parent reads a summed up to it, at 200 bits too
    got = Executor(g).execute(
        '{ me(func: uid(0x666)) { friend { a as amount } s: math(a * 2) } }')
    assert got["me"][0]["s"] == Decimal("398.0000000000000000000002")


def test_bigfloat_rdf_writes_lexical_text(spark):
    """RDF writes a bigfloat's stored lexical text, where JSON renders
    the decimal that round-trips it."""
    from decimal import Decimal

    from dgraph_spark.plans import Executor

    g = _bigfloat_graph(spark, [
        '<0x1> <amount> "10.0000000000000000000123" .',
        '<0x2> <amount> "1e3" .',
    ], _BF_SCHEMA)
    q = "{ q(func: has(amount)) { amount } }"
    assert Executor(g).execute_rdf(q) == (
        '<0x1> <amount> "10.0000000000000000000123" .\n'
        '<0x2> <amount> "1e3" .\n')
    assert Executor(g).execute(q) == {"q": [
        {"amount": Decimal("10.0000000000000000000123")},
        {"amount": Decimal("1000")}]}
