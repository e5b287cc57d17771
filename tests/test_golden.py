"""Golden-corpus gate: the reference's OWN query tests, re-run against
this engine.

tests/golden/cases.json holds 480 (query, expected-JSON) pairs extracted
from the reference's query/query{0..4}_test.go + query_ngram_test.go by
tools/golden_extract.py (text only — assertions re-run here, no
reference code); cases_facets.json holds the 75-case facets suite
(query_facets_test.go), which runs over the base fixture + the
fixture_facets.nq overlay applied as a set-mutation. The full-corpus
sweep result (555/555 exact, 0 order-only, 0 diff, 0 errors) is
committed in tests/golden/status.json and triaged in
tests/golden/RESULTS.md.

This gate re-executes 130 of the passing cases live (the corpus minus
the slow iterative outliers, chosen by measured wall time so the suite
stays fast) and fails on ANY divergence; a second test pins the recorded
full-sweep tallies so a regressing re-sweep cannot be silently committed.
Re-sweep with: python tools/golden_run.py tests/golden/cases.json out.jsonl
"""

import json
import os

import pytest

_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")


def _load(name):
    with open(os.path.join(_DIR, name)) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def golden_ex(spark):
    from dgraph_spark.plans import Executor
    from dgraph_spark.sources.rdf import load_rdf_graph

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # the fixture is ~500 triples: 1-partition shuffles keep the per-query
    # job overhead flat (mirrors what AQE coalescing would pick)
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    g = load_rdf_graph(
        spark,
        os.path.join(_DIR, "fixture.nq"),
        open(os.path.join(_DIR, "schema.txt")).read(),
    )
    for name in list(g.preds):
        g.preds[name] = g.preds[name].coalesce(1).persist()
        g.preds[name].count()
    yield lambda: Executor(g)
    spark.conf.set("spark.sql.shuffle.partitions", old_parts)


@pytest.fixture(scope="module")
def golden_facets_ex(spark):
    """Executor over base fixture + the facets overlay, applied the way
    the reference does it: populateClusterWithFacets is a set-mutation on
    the running cluster (query_facets_test.go:18-85) — here set_nquads on
    the loaded Graph (which also exercises the mutation path's facet/lang
    preservation)."""
    from dgraph_spark.mutations import set_nquads
    from dgraph_spark.plans import Executor
    from dgraph_spark.sources.rdf import load_rdf_graph

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    g = load_rdf_graph(
        spark,
        os.path.join(_DIR, "fixture.nq"),
        open(os.path.join(_DIR, "schema.txt")).read(),
    )
    g = set_nquads(g, open(os.path.join(_DIR, "fixture_facets.nq")).read())
    for name in list(g.preds):
        g.preds[name] = g.preds[name].coalesce(1).persist()
        g.preds[name].count()
    yield lambda: Executor(g)
    spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _run_gate(make_ex, cases, gate):
    failures = []
    for name in gate:
        c = cases[name]
        try:
            got = make_ex().execute(c["query"])
        except Exception as e:  # noqa: BLE001 — collected into the report
            failures.append((name, f"{type(e).__name__}: {e}"))
            continue
        if got != c["expected"]:
            failures.append((name, "diff"))
    assert not failures, f"{len(failures)} golden regressions: {failures[:10]}"


def test_golden_gate_cases(golden_ex):
    cases = {c["name"]: c for c in _load("cases.json")}
    gate = _load("gate_cases.json")
    assert len(gate) >= 100
    _run_gate(golden_ex, cases, gate)


def test_golden_gate_cases_semijoin_frontier(golden_ex, monkeypatch):
    """The same gate with every collected uid set above the literal
    `IN` cap: each level reaches the next through the semi-join."""
    from dgraph_spark.plans import executor

    monkeypatch.setattr(executor, "LITERAL_FRONTIER_MAX", 0)
    cases = {c["name"]: c for c in _load("cases.json")}
    _run_gate(golden_ex, cases, _load("gate_cases.json"))


# Spark jobs of one point read with a paged child, run level at a time:
# the root's attribute read, the child edge scan plus its per-parent
# window (two jobs under AQE), the child attribute read. The root's
# literal uid relation collects with no job.
POINT_READ_JOBS = 4


def test_point_read_job_bound(golden_ex, spark):
    """Jobs counted by job group; each carries its level's description
    and the caller's own description survives the call."""
    sc = spark.sparkContext
    q = "{ q(func: uid(0x1)) { name friend (first: 1, orderdesc: age) { name } } }"
    ex = golden_ex()
    ex.execute(q)  # first run: plan-cache and JIT warm-up
    sc.setJobGroup("golden-point-read", "point read")
    try:
        got = ex.execute(q)
        assert sc.getLocalProperty("spark.job.description") == "point read"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup("golden-point-read"))
    assert got == {"q": [{"name": "Michonne", "friend": [{"name": "Andrea"}]}]}
    assert len(jobs) <= POINT_READ_JOBS, len(jobs)
    store = sc._jsc.sc().statusStore()
    assert {store.job(j).description().get() for j in jobs} == {"q L0", "q L1"}


# Spark jobs of a var block with a level aggregate and a root consumer:
# the var block's child level and its `age` read, the consumer's `name`
# read. Both roots are literal uid relations, collected with no job, and
# both aggregates fold on the driver from the var block's bound vars;
# with a lazy var block the consumer's read re-ran the var's plan (6 jobs).
VAR_BLOCK_JOBS = 3


def test_var_block_job_bound(golden_ex, spark):
    sc = spark.sparkContext
    q = ("{ var(func: uid(0x1)) { friend { a as age } s as sum(val(a)) } "
         "q(func: uid(0x1)) { name total: sum(val(s)) } }")
    ex = golden_ex()
    ex.execute(q)  # plan-cache and JIT warm-up
    got = []
    jobs = _group_jobs(sc, "golden-var-block", lambda: got.append(ex.execute(q)))
    assert got == [{"q": [{"name": "Michonne", "total": 66}]}]
    assert len(jobs) <= VAR_BLOCK_JOBS, len(jobs)
    store = sc._jsc.sc().statusStore()
    assert {store.job(j).description().get() for j in jobs} == {
        "var L1", "q L0"}


def test_golden_facets_cases(golden_facets_ex):
    """The reference's whole facets suite (query_facets_test.go), live."""
    cases = {c["name"]: c for c in _load("cases_facets.json")}
    assert len(cases) >= 75
    _run_gate(golden_facets_ex, cases, list(cases))


def test_golden_rdf_cases(golden_ex):
    """The reference's RDF-output suite (query/rdf_result_test.go), live:
    exact N-Quad text for result cases, exact error strings for the
    unsupported-directive cases (query/outputrdf.go)."""
    cases = _load("cases_rdf.json")
    assert len(cases) >= 11
    failures = []
    for c in cases:
        try:
            got = golden_ex().execute_rdf(c["query"])
            err = None
        except Exception as e:  # noqa: BLE001 — collected into the report
            got, err = None, str(e)
        if "expected_error" in c:
            if err is None or c["expected_error"] not in err:
                failures.append((c["name"], f"want error {c['expected_error']!r}, got {err!r}"))
        elif got != c["expected_rdf"]:
            failures.append((c["name"], err or "diff"))
    assert not failures, f"{len(failures)} rdf regressions: {failures}"


# N-Quad text of shapes the reference RDF suite leaves out.
RDF_PINS = {
    # list values in posting order, not value order
    "list_in_posting_order": (
        "{ q(func: uid(20000, 20001, 1, 31)) { score graduation } }",
        '<0x4e20> <score> "56" .\n<0x4e20> <score> "90" .\n'
        '<0x4e21> <score> "85" .\n<0x4e21> <score> "68" .\n'
        '<0x1> <graduation> "1932-01-01T00:00:00Z" .\n'
        '<0x1f> <graduation> "1935-01-01T00:00:00Z" .\n'
        '<0x1f> <graduation> "1933-01-01T00:00:00Z" .\n'),
    # floats in Go %g form ("55.10" -> 55.1), a list of them too
    "float_go_g": (
        "{ q(func: uid(1, 23, 20000)) { survival_rate power average } }",
        '<0x1> <survival_rate> "98.99" .\n<0x17> <survival_rate> "1.6" .\n'
        '<0x1> <power> "13.25" .\n'
        '<0x4e20> <average> "46.93" .\n<0x4e20> <average> "55.1" .\n'),
    "datetime_bool_int": (
        "{ q(func: uid(1, 23)) { dob alive age } }",
        '<0x1> <dob> "1910-01-01T00:00:00Z" .\n'
        '<0x17> <dob> "1910-01-02T00:00:00Z" .\n'
        '<0x1> <alive> true .\n<0x17> <alive> true .\n'
        '<0x1> <age> "38" .\n<0x17> <age> "15" .\n'),
    "count_pred": (
        "{ q(func: uid(1, 23, 25)) { name count(friend) } }",
        '<0x1> <name> "Michonne" .\n<0x17> <name> "Rick Grimes" .\n'
        '<0x19> <name> "Daryl Dixon" .\n<0x1> <count(friend)> "5" .\n'
        '<0x17> <count(friend)> "1" .\n<0x19> <count(friend)> "0" .\n'),
    "val_math_child": (
        "{ q(func: uid(1)) { name friend { a as age  b: math(a + 1)  val(a) } } }",
        '<0x1> <name> "Michonne" .\n'
        + "".join(f"<0x1> <friend> <{u}> .\n"
                  for u in ("0x17", "0x18", "0x19", "0x1f", "0x65"))
        + '<0x17> <age> "15" .\n<0x18> <age> "15" .\n'
        '<0x19> <age> "17" .\n<0x1f> <age> "19" .\n'
        '<0x17> <b> "16" .\n<0x18> <b> "16" .\n'
        '<0x19> <b> "18" .\n<0x1f> <b> "20" .\n'
        '<0x17> <val(a)> "15" .\n<0x18> <val(a)> "15" .\n'
        '<0x19> <val(a)> "17" .\n<0x1f> <val(a)> "19" .\n'),
    "ordered_child": (
        "{ q(func: uid(1)) { friend(orderdesc: age) { name age } } }",
        "".join(f"<0x1> <friend> <{u}> .\n"
                for u in ("0x1f", "0x19", "0x17", "0x18", "0x65"))
        + '<0x17> <name> "Rick Grimes" .\n<0x18> <name> "Glenn Rhee" .\n'
        '<0x19> <name> "Daryl Dixon" .\n<0x1f> <name> "Andrea" .\n'
        '<0x17> <age> "15" .\n<0x18> <age> "15" .\n'
        '<0x19> <age> "17" .\n<0x1f> <age> "19" .\n'),
    # a var block runs for its variable and writes nothing, as in JSON
    "var_block_writes_nothing": (
        "{ var(func: uid(1)) { f as friend { name } } "
        "q(func: uid(f), first: 2) { name } }",
        '<0x17> <name> "Rick Grimes" .\n<0x18> <name> "Glenn Rhee" .\n'),
}


@pytest.mark.parametrize("name", sorted(RDF_PINS))
def test_rdf_pinned_text(golden_ex, name):
    query, want = RDF_PINS[name]
    assert golden_ex().execute_rdf(query) == want


def _group_jobs(sc, group: str, run) -> list[int]:
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_rdf_job_bound(golden_ex, spark):
    """RDF runs the level-at-a-time plan of execute(): no more Spark jobs
    than the JSON answer to the same query, counted by job group, and
    each job carries its level's description."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    # the root's literal uid relation collects with no job; "q L0" is
    # the root's attribute read
    for name, descs in (("val_math_child", {"q L0", "q L1"}),
                        ("ordered_child", {"q L1"})):
        q = RDF_PINS[name][0]
        ex = golden_ex()
        ex.execute(q)  # plan-cache and JIT warm-up
        ex.execute_rdf(q)
        rdf = _group_jobs(sc, f"golden-rdf-{name}", lambda: ex.execute_rdf(q))
        js = _group_jobs(sc, f"golden-json-{name}", lambda: ex.execute(q))
        assert len(rdf) <= len(js), (name, len(rdf), len(js))
        assert {store.job(j).description().get() for j in rdf} == descs
    q = "{ q(func: uid(0x1)) { name friend (first: 1, orderdesc: age) { name } } }"
    ex = golden_ex()
    ex.execute_rdf(q)
    jobs = _group_jobs(sc, "golden-rdf-point-read", lambda: ex.execute_rdf(q))
    assert len(jobs) <= POINT_READ_JOBS, len(jobs)


def test_golden_error_cases(golden_ex):
    """Negative golden suite (tools/golden_extract_errors.py): 52
    must-error queries from query/query[0-4]_test.go. Each must raise;
    when the reference test pins a message substring, ours must carry
    it too."""
    cases = _load("cases_errors.json")
    assert len(cases) >= 50
    failures = []
    for c in cases:
        try:
            golden_ex().execute(c["query"])
            failures.append((c["name"], "no error raised"))
        except Exception as e:  # noqa: BLE001 — collected into the report
            want = c.get("error_contains")
            if want and want.lower() not in str(e).lower():
                failures.append((c["name"], f"want {want!r} got {str(e)[:90]!r}"))
    assert not failures, f"{len(failures)} error-case regressions: {failures}"


def test_golden_vars_cases(golden_ex):
    """GraphQL-style query-variable cases (processQueryWithVars):
    header-declared defaults, int bindings, and uid-list string bindings
    ("[1, 31]" in uid($a), dql/parser.go parseID)."""
    cases = _load("cases_vars.json")
    assert len(cases) >= 2
    failures = []
    for c in cases:
        try:
            got = golden_ex().execute(c["query"], vars=c["vars"])
        except Exception as e:  # noqa: BLE001 — collected into the report
            failures.append((c["name"], f"{type(e).__name__}: {e}"))
            continue
        if got != c["expected"]:
            failures.append((c["name"], "diff"))
    assert not failures, f"vars-case regressions: {failures}"


def test_golden_sweep_tallies():
    """The committed full-sweep result may only improve."""
    status = _load("status.json")
    tally = {}
    for s in status.values():
        tally[s] = tally.get(s, 0) + 1
    assert len(status) >= 555
    assert tally.get("error", 0) == 0
    assert tally.get("pass", 0) >= 555
    assert tally.get("diff", 0) == 0
    assert tally.get("order", 0) == 0
