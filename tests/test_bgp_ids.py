"""ID-level BGP compiler tests: equality with a plain-Python BGP on every
id-space shape, the one node id space on a graph whose predicates are also
subjects and objects (BGPs, negated sets and paths), plus plan locks (no
string-level work per pattern — the reference evaluates BGPs as repeated
ID-level quad lookups, src/sparql.rs:45-68)."""

from __future__ import annotations

import io
from collections import defaultdict
from contextlib import redirect_stdout

import pytest

from hdtspark import pipeline, rules, sparql


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _match(pattern, triple) -> dict | None:
    """The variable bindings of one triple against one pattern, or None."""
    b: dict[str, str] = {}
    for x, v in zip(pattern, triple):
        if not x.startswith("?"):
            if x != v:
                return None
        elif b.setdefault(x[1:], v) != v:
            return None
    return b


def _py_bgp(triples, patterns) -> list[tuple]:
    """Plain-Python BGP: each pattern's matches join the solutions so far
    through a hash index on the variables they share; rows are the
    variables' values in name order, as ``sparql.bgp`` returns them."""
    sols: list[dict] = [{}]
    seen: set[str] = set()
    for pat in patterns:
        pvars = {x[1:] for x in pat if x.startswith("?")}
        shared = sorted(pvars & seen)
        index = defaultdict(list)
        for t in triples:
            m = _match(pat, t)
            if m is not None:
                index[tuple(m[v] for v in shared)].append(m)
        sols = [{**s, **m} for s in sols
                for m in index.get(tuple(s[v] for v in shared), ())]
        seen |= pvars
    return sorted(tuple(s[v] for v in sorted(seen)) for s in sols)


def _assert_same(kg, triples, patterns):
    got = _rows(sparql.bgp(kg, patterns))
    assert got == _py_bgp(triples, patterns), patterns
    return got


def test_bgp_same_space_join(kg, golden_oracle):
    # ?ent is an object of mentions and a subject of type
    rows = _assert_same(kg, golden_oracle.spo_str(), [
        ("?turn", rules.P_MENTIONS, "?ent"),
        ("?ent", rules.P_TYPE, rules.C_ENTITY),
    ])
    assert rows  # non-empty on the golden corpus


def test_bgp_cross_space_var(kg, golden_oracle):
    # ?t is an OBJECT of hasTurn and a SUBJECT of role: both map to one
    # global node id, so the join needs no shared-section guard
    rows = _assert_same(kg, golden_oracle.spo_str(), [
        ("?c", rules.P_HASTURN, "?t"),
        ("?t", rules.P_ROLE, "?r"),
    ])
    assert rows


def test_bgp_three_patterns_chain(kg, golden_oracle):
    rows = _assert_same(kg, golden_oracle.spo_str(), [
        ("?c", rules.P_HASTURN, "?t"),
        ("?t", rules.P_MENTIONS, "?e"),
        ("?e", rules.P_TYPE, rules.C_ENTITY),
    ])
    assert rows


def test_bgp_unknown_constant_short_circuits_empty(kg):
    df = sparql.bgp(kg, [("?s", "http://nope/p", "?o")])
    assert df.columns == ["o", "s"]
    assert df.count() == 0


def test_bgp_predicate_space_var(kg, golden_oracle):
    # ?v spans the predicate and subject positions: its predicate ids map
    # to node ids, never compared numerically with subject ids (the golden
    # corpus has no predicate that is also a node, so this is empty)
    _assert_same(kg, golden_oracle.spo_str(),
                 [("?s", "?v", "?o"), ("?v", rules.P_TYPE, "?c")])


def test_bgp_same_var_twice_in_pattern(kg, golden_oracle):
    # ?x as both subject and object of one pattern: an equality filter on
    # node ids (never true on the golden corpus -> empty, but must not
    # produce cross-space numeric collisions)
    _assert_same(kg, golden_oracle.spo_str(),
                 [("?x", rules.P_MENTIONS, "?x")])


EX = "http://ex.org/"
P, Q, R, LABEL = EX + "p", EX + "q", EX + "r", EX + "label"
A, B, X = EX + "a", EX + "b", EX + "x"
# P is a predicate and a shared node, LABEL a predicate and a subject-only
# node, Q a predicate and an object-only node, R a predicate only
SPAN = [
    (P, P, X), (A, P, P), (X, P, X), (P, LABEL, '"l"'),
    (LABEL, R, '"name"'), (A, R, Q), (A, R, A), (B, Q, B), (X, Q, A),
]


@pytest.fixture(scope="module")
def span_kg(spark):
    kg = pipeline.build_kg_from_triples(
        spark.createDataFrame(SPAN, "s string, p string, o string"),
        with_adjacency=False)
    yield kg
    kg.unpersist()


@pytest.mark.parametrize("patterns", [
    [("?s", "?v", "?o"), ("?v", "?w", "?c")],      # predicate -> subject
    [("?s", "?v", "?o"), ("?a", "?b", "?v")],      # predicate -> object
    [(P, "?v", "?o"), ("?v", R, "?n")],
    [("?v", "?v", "?o")],
    [("?s", "?v", "?v")],
    [("?x", P, "?x")],
])
def test_predicate_node_variables(span_kg, patterns):
    """A variable at a predicate and a subject/object position joins on the
    node id of its predicate term, built once per query from the
    predicates that are nodes; answers equal the plain-Python BGP's."""
    rows = _assert_same(span_kg, SPAN, patterns)
    assert rows, patterns


def _query(kg, q: str) -> set:
    return {tuple(r) for r in sparql.query(kg, q).collect()}


def test_paths_and_negated_sets_on_node_ids(span_kg):
    nodes = {t for s, _, o in SPAN for t in (s, o)}
    assert _query(span_kg, f"SELECT ?x {{ ?x <{P}> ?x }}") == {(X,)}
    assert _query(span_kg, f"SELECT ?x {{ ?x !(<{Q}>) ?x }}") == {
        (s,) for s, p, o in SPAN if s == o and p != Q}
    edges = {(s, o) for s, p, o in SPAN if p == P}
    tc = set(edges)
    while more := {(a, d) for a, b in tc for c, d in edges if b == c} - tc:
        tc |= more
    star = tc | {(n, n) for n in nodes}
    assert _query(span_kg, f"SELECT ?y {{ <{A}> <{P}>* ?y }}") == {
        (b,) for a, b in star if a == A}
    assert _query(span_kg, f"SELECT ?x ?y {{ ?x <{P}>* ?y }}") == star


def _tiny_kg(spark):
    """A lineage-free KG (literal DataFrames, no cached build plan) so
    explain() output reflects ONLY the BGP compiler's own operators."""
    from hdtspark.hdt_binary import HdtData, hdt_data_to_kg

    # subject space: s_and_o=1, subj1=2; object space: s_and_o=1, obj1=2
    return hdt_data_to_kg(spark, HdtData(
        shared=["s_and_o"], subjects=["subj1"],
        predicates=["p1", "p2"], objects=["obj1"],
        triples=[(1, 2, 2), (2, 1, 1)],   # s_and_o p2 obj1 ; subj1 p1 s_and_o
    ))


def test_bgp_ids_plan_is_id_level(spark, kg):
    """Plan lock: the ID-level join sub-plan touches no dictionary term
    column and no string-typed join keys — translation happens once,
    outside bgp_ids (r2 joined patterns on full term strings)."""
    tiny = _tiny_kg(spark)
    ids_df, space = sparql.bgp_ids(tiny, [("?x", "p1", "?y"),
                                          ("?y", "p2", "?z")])
    # every subject/object variable is in the one node space
    assert space == {"x": "node", "y": "node", "z": "node"}
    buf = io.StringIO()
    with redirect_stdout(buf):
        ids_df.explain("formatted")
    plan = buf.getvalue()
    assert "term" not in plan, plan
    # all projected columns are ids (bigint): joins run on 8-byte keys
    assert all(t == "bigint" for _, t in ids_df.dtypes)
    # end-to-end through translation: the object->subject var resolves
    assert _rows(sparql.bgp(tiny, [("?x", "p1", "?y"), ("?y", "p2", "?z")])) \
        == [("subj1", "s_and_o", "obj1")]
    # real-corpus space classification too
    _, space2 = sparql.bgp_ids(kg, [
        ("?turn", rules.P_MENTIONS, "?ent"),
        ("?ent", rules.P_TYPE, rules.C_ENTITY),
    ])
    assert space2 == {"turn": "node", "ent": "node"}
