"""Path closures (``p+``/``p*``/``(path)+``) on a small hand-built graph,
checked against a plain-Python transitive closure, plus the step cap.

The graph holds what the golden KG's linear ``prev`` chains lack: a diamond
(two paths reach one pair in the same generation), a cycle (a node that
reaches itself), an object-only dead end whose object-space id equals the
subject-only start's subject-space id, and that start."""

from __future__ import annotations

import pytest

from hdtspark import pipeline, sparql, sparql_parser

EX = "http://ex.org/"
P = EX + "p/next"
Q = EX + "p/other"


def _iri(name: str) -> str:
    return EX + "n/" + name


EDGES = [
    # diamond: start -> b -> d and start -> c -> d, then on to e
    ("start", "b"), ("start", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
    # cycle x -> y -> z -> x, entered from the diamond
    ("e", "x"), ("x", "y"), ("y", "z"), ("z", "x"),
    # object-only dead ends
    ("z", "end"), ("d", "end2"),
]
OTHER = [
    # another predicate, so the sections hold terms that never touch P
    ("k", "b"), ("end", "m"),
]
TRIPLES = ([(_iri(a), P, _iri(b)) for a, b in EDGES]
           + [(_iri(a), Q, _iri(b)) for a, b in OTHER]
           + [(_iri("k"), Q, '"lit"@en')])


def _tc(edges: set) -> set:
    """Plain-Python one-or-more transitive closure."""
    out = set(edges)
    while True:
        more = {(a, d) for a, b in out for c, d in edges if b == c} - out
        if not more:
            return out
        out |= more


E = {(_iri(a), _iri(b)) for a, b in EDGES}
TC = _tc(E)
NODES = {t for s, _, o in TRIPLES for t in (s, o)}


@pytest.fixture(scope="module")
def gkg(spark):
    df = spark.createDataFrame(TRIPLES, "s string, p string, o string")
    kg = pipeline.build_kg_from_triples(df, with_adjacency=False)
    yield kg
    kg.unpersist()


def _rows(kg, q: str) -> set:
    return {tuple(r) for r in sparql.query(kg, q).collect()}


def _ask(kg, q: str) -> bool:
    return sparql.query(kg, q).first()["ask"]


def test_graph_has_the_intended_shapes(gkg):
    # the dead end "end2" is object-only and the start subject-only, with
    # the same numeric id in their two spaces: a walk that reached end2 and
    # followed start's edges would derive pairs the graph does not hold
    d = gkg.dict
    objects = {r["term"]: r["id"] for r in d.objects.collect()}
    subjects = {r["term"]: r["id"] for r in d.subjects.collect()}
    assert objects[_iri("end2")] == subjects[_iri("start")]
    assert _iri("end") in {r["term"] for r in d.shared.collect()}
    assert (_iri("x"), _iri("x")) in TC


def test_unbound_plus(gkg):
    assert _rows(gkg, f"SELECT ?a ?b {{ ?a <{P}>+ ?b }}") == TC


def test_same_var_plus_is_the_cycle(gkg):
    assert _rows(gkg, f"SELECT ?a {{ ?a <{P}>+ ?a }}") == {
        (a,) for a, b in TC if a == b}


@pytest.mark.parametrize("node", ["start", "d", "x", "end2", "k"])
def test_forward_seeded_plus(gkg, node):
    want = {(b,) for a, b in TC if a == _iri(node)}
    assert _rows(gkg, f"SELECT ?x {{ <{_iri(node)}> <{P}>+ ?x }}") == want


@pytest.mark.parametrize("node", ["start", "d", "x", "end2", "end"])
def test_backward_seeded_plus(gkg, node):
    want = {(a,) for a, b in TC if b == _iri(node)}
    assert _rows(gkg, f"SELECT ?x {{ ?x <{P}>+ <{_iri(node)}> }}") == want


@pytest.mark.parametrize("s,o", [
    ("start", "x"), ("start", "end"), ("x", "x"), ("d", "d"),
    ("end2", "start"), ("z", "e"), ("b", "c"), ("start", "m")])
def test_both_bound_ask(gkg, s, o):
    got = _ask(gkg, f"ASK {{ <{_iri(s)}> <{P}>+ <{_iri(o)}> }}")
    assert got == ((_iri(s), _iri(o)) in TC)


def test_star(gkg):
    want = TC | {(n, n) for n in NODES}
    assert _rows(gkg, f"SELECT ?a ?b {{ ?a <{P}>* ?b }}") == want
    assert _rows(gkg, f"SELECT ?x {{ <{_iri('d')}> <{P}>* ?x }}") == {
        (_iri("d"),)} | {(b,) for a, b in TC if a == _iri("d")}


def test_composite_plus(gkg):
    tc2 = _tc({(a, d) for a, b in E for c, d in E if b == c})
    q = f"SELECT ?a ?b {{ ?a (<{P}>/<{P}>)+ ?b }}"
    assert _rows(gkg, q) == tc2
    start = _iri("start")
    assert _rows(gkg, f"SELECT ?x {{ <{start}> (<{P}>/<{P}>)+ ?x }}") == {
        (b,) for a, b in tc2 if a == start}
    assert _rows(gkg, f"SELECT ?x {{ ?x (<{P}>/<{P}>)+ <{_iri('x')}> }}") == {
        (a,) for a, b in tc2 if b == _iri("x")}
    for o in ("x", "y", "end"):
        assert _ask(gkg, f"ASK {{ <{start}> (<{P}>/<{P}>)+ <{_iri(o)}> }}") \
            == ((start, _iri(o)) in tc2)


def test_absent_predicate_or_endpoint_is_empty(gkg):
    nope = EX + "p/nope"
    assert _rows(gkg, f"SELECT ?a ?b {{ ?a <{nope}>+ ?b }}") == set()
    assert _rows(gkg, f"SELECT ?x {{ <{EX}absent> <{P}>+ ?x }}") == set()
    assert not _ask(gkg, f"ASK {{ <{_iri('start')}> <{nope}>+ <{_iri('x')}> }}")


@pytest.fixture(scope="module")
def chain_kg(spark):
    """A chain c0 -> c1 -> c2 -> c3 -> c4 (4 edges)."""
    rows = [(_iri(f"c{i}"), P, _iri(f"c{i + 1}")) for i in range(4)]
    kg = pipeline.build_kg_from_triples(
        spark.createDataFrame(rows, "s string, p string, o string"),
        with_adjacency=False)
    yield kg
    kg.unpersist()


def test_step_cap_boundary(chain_kg, monkeypatch):
    """A chain of exactly CLOSURE_MAX_ITERS edges closes; one edge more
    raises, naming the step, the last frontier and the accumulated rows."""
    monkeypatch.setattr(sparql_parser, "CLOSURE_MAX_ITERS", 3)
    c = [_iri(f"c{i}") for i in range(5)]
    # seeded from c1: the longest walk is 3 edges
    assert _rows(chain_kg, f"SELECT ?x {{ <{c[1]}> <{P}>+ ?x }}") == {
        (c[2],), (c[3],), (c[4],)}
    assert _ask(chain_kg, f"ASK {{ <{c[1]}> <{P}>+ <{c[4]}> }}")
    # seeded from c0 the walk needs 4 edges
    with pytest.raises(ValueError) as e:
        _rows(chain_kg, f"SELECT ?x {{ <{c[0]}> <{P}>+ ?x }}")
    msg = str(e.value)
    assert "step 3" in msg and "last frontier 1 rows" in msg, msg
    assert "4 rows accumulated" in msg and "CLOSURE_MAX_ITERS" in msg, msg
    # unbound: generation 3 holds the one 4-edge pair, 10 pairs in all
    with pytest.raises(ValueError, match=r"step 3: last frontier 1 rows, "
                                         r"10 rows accumulated"):
        _rows(chain_kg, f"SELECT ?a ?b {{ ?a <{P}>+ ?b }}")
    monkeypatch.setattr(sparql_parser, "CLOSURE_MAX_ITERS", 4)
    assert len(_rows(chain_kg, f"SELECT ?a ?b {{ ?a <{P}>+ ?b }}")) == 10
