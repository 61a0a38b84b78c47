"""Path closures (``p+``/``p*``/``(path)+``) on a small hand-built graph,
checked against a plain-Python transitive closure, plus the step cap.

The graph holds what the golden KG's linear ``prev`` chains lack: a diamond
(two paths reach one pair in the same generation), a cycle (a node that
reaches itself), an object-only dead end whose object-space id equals the
subject-only start's subject-space id, and that start.

A closure has two regimes: edges that fit the broadcast threshold are
walked on the driver (the session default here), larger ones run the Spark
semi-naive loop.  ``TestSparkLoop`` runs every correctness case again with
the threshold at -1, where only the loop runs.  The chains of 64, 70 and
1,000 edges are checked in the driver regime; the step cap binds only the
loop, which still stops the 70-edge chain."""

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
    """Plain-Python one-or-more transitive closure (semi-naive: each round
    extends only the pairs the last one found)."""
    succ: dict = {}
    for a, b in edges:
        succ.setdefault(a, set()).add(b)
    out, new = set(edges), set(edges)
    while new:
        new = {(a, d) for a, b in new for d in succ.get(b, ())} - out
        out |= new
    return out


E = {(_iri(a), _iri(b)) for a, b in EDGES}
TC = _tc(E)
E2 = {(a, d) for a, b in E for c, d in E if b == c}
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
    tc2 = _tc(E2)
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


@pytest.mark.parametrize("node", ["start", "d", "z", "end2", "k"])
def test_composite_opt_seeded(gkg, node):
    """``(p/p)?`` from a bound subject, then into a bound object: the node
    itself (zero-length arm) and its two-step neighbours.  From the
    object-only ``end2`` a walk on colliding per-role ids would reach
    ``start``'s neighbours."""
    n = _iri(node)
    path = f"(<{P}>/<{P}>)?"
    assert _rows(gkg, f"SELECT ?x {{ <{n}> {path} ?x }}") == {(n,)} | {
        (b,) for a, b in E2 if a == n}
    assert _rows(gkg, f"SELECT ?x {{ ?x {path} <{n}> }}") == {(n,)} | {
        (a,) for a, b in E2 if b == n}


@pytest.mark.parametrize("s,o", [
    ("start", "b"), ("start", "d"), ("x", "z"), ("z", "end"), ("d", "d"),
    ("end2", "b"), ("end2", "d"), ("absent", "absent")])
def test_both_bound_opt_ask(gkg, s, o):
    """``p?`` and ``(p/p)?`` with both endpoints bound, hits and misses."""
    s, o = _iri(s), _iri(o)
    zero = s == o and s in NODES
    assert _ask(gkg, f"ASK {{ <{s}> <{P}>? <{o}> }}") == (zero or (s, o) in E)
    assert _ask(gkg, f"ASK {{ <{s}> (<{P}>/<{P}>)? <{o}> }}") == (
        zero or (s, o) in E2)


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


def test_step_cap_boundary(chain_kg, monkeypatch, spark_loop):
    """The Spark loop (threshold -1): a chain of exactly CLOSURE_MAX_ITERS
    edges closes; one edge more raises, naming the step, the last frontier
    and the accumulated rows."""
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


def test_step_cap_does_not_bound_the_driver_walk(chain_kg, monkeypatch):
    """Edges below the threshold are walked on the driver, which ends on any
    finite edge set: a cap of 3 does not stop the 4-edge chain."""
    monkeypatch.setattr(sparql_parser, "CLOSURE_MAX_ITERS", 3)
    c = [_iri(f"c{i}") for i in range(5)]
    assert _rows(chain_kg, f"SELECT ?x {{ <{c[0]}> <{P}>+ ?x }}") == {
        (n,) for n in c[1:]}
    assert _rows(chain_kg, f"SELECT ?x {{ ?x <{P}>+ <{c[4]}> }}") == {
        (n,) for n in c[:4]}
    assert _ask(chain_kg, f"ASK {{ <{c[0]}> <{P}>+ <{c[4]}> }}")
    assert len(_rows(chain_kg, f"SELECT ?a ?b {{ ?a <{P}>+ ?b }}")) == 10


CHAINS = (64, 70, 1000)


def _link(n: int, i: int) -> str:
    return _iri(f"k{n}/{i}")


def _chain_p(n: int) -> str:
    return f"{EX}p/chain{n}"


@pytest.fixture(scope="module")
def chains_kg(spark):
    """Chains of 64, 70 and 1,000 edges, each under its own predicate."""
    rows = [(_link(n, i), _chain_p(n), _link(n, i + 1))
            for n in CHAINS for i in range(n)]
    kg = pipeline.build_kg_from_triples(
        spark.createDataFrame(rows, "s string, p string, o string"),
        with_adjacency=False)
    yield kg
    kg.unpersist()


@pytest.mark.parametrize("n", [70, 1000])
def test_long_chain_matches_tc(chains_kg, n):
    """Deeper than CLOSURE_MAX_ITERS (64): forward-seeded, backward-seeded,
    unbound (500,500 pairs at 1,000 edges, within the default threshold's
    655,360) and both-bound ``p+`` equal the plain-Python closure."""
    p = _chain_p(n)
    tc = _tc({(_link(n, i), _link(n, i + 1)) for i in range(n)})
    first, mid, last = _link(n, 0), _link(n, n // 2), _link(n, n)
    for s in (first, mid):
        assert _rows(chains_kg, f"SELECT ?x {{ <{s}> <{p}>+ ?x }}") == {
            (b,) for a, b in tc if a == s}
    assert _rows(chains_kg, f"SELECT ?x {{ ?x <{p}>+ <{last}> }}") == {
        (a,) for a, b in tc if b == last}
    assert _rows(chains_kg, f"SELECT ?a ?b {{ ?a <{p}>+ ?b }}") == tc
    for s, o in ((first, last), (mid, last), (last, first), (mid, mid)):
        assert _ask(chains_kg, f"ASK {{ <{s}> <{p}>+ <{o}> }}") == (
            (s, o) in tc)


def test_spark_loop_stops_the_70_edge_chain(chains_kg, spark_loop):
    """Above the threshold (here: at -1) the Spark loop still raises at step
    CLOSURE_MAX_ITERS on a chain one step deeper than it allows."""
    q = f"SELECT ?x {{ <{_link(70, 0)}> <{_chain_p(70)}>+ ?x }}"
    with pytest.raises(ValueError, match=r"still growing at step 64: "):
        _rows(chains_kg, q)


def test_driver_walk_jobs_do_not_grow_with_depth(chains_kg, job_ids):
    """A seeded ``p+`` over the 64-edge chain runs at most 10 Spark jobs
    (one step loop ran 399), and the 1,000-edge chain runs as many."""
    def seeded(n):
        q = f"SELECT ?x {{ <{_link(n, 0)}> <{_chain_p(n)}>+ ?x }}"
        assert len(_rows(chains_kg, q)) == n
        return len(job_ids(f"test-chain-jobs-{n}",
                           lambda: _rows(chains_kg, q)))

    jobs = {n: seeded(n) for n in (64, 1000)}
    assert jobs[64] <= 10 and jobs[1000] == jobs[64], jobs


@pytest.mark.usefixtures("spark_loop")
class TestSparkLoop:
    """Every correctness case above again with the broadcast threshold at
    -1: each closure runs the Spark semi-naive loop."""
    test_graph_has_the_intended_shapes = staticmethod(
        test_graph_has_the_intended_shapes)
    test_unbound_plus = staticmethod(test_unbound_plus)
    test_same_var_plus_is_the_cycle = staticmethod(
        test_same_var_plus_is_the_cycle)
    test_forward_seeded_plus = staticmethod(test_forward_seeded_plus)
    test_backward_seeded_plus = staticmethod(test_backward_seeded_plus)
    test_both_bound_ask = staticmethod(test_both_bound_ask)
    test_star = staticmethod(test_star)
    test_composite_plus = staticmethod(test_composite_plus)
    test_composite_opt_seeded = staticmethod(test_composite_opt_seeded)
    test_both_bound_opt_ask = staticmethod(test_both_bound_opt_ask)
    test_absent_predicate_or_endpoint_is_empty = staticmethod(
        test_absent_predicate_or_endpoint_is_empty)
