"""All 8 triple-pattern access paths vs oracle filtered enumeration.

The metamorphic pattern of reference src/triples.rs:451-507 / src/hdt.rs:
472-476: every indexed path must equal a filter over the full scan.
"""

from __future__ import annotations

import pytest

from hdtspark import query, rules


def _got(kg, s=None, p=None, o=None):
    return sorted(tuple(r) for r in query.triples_with_pattern(kg, s, p, o).collect())


def _exp(okg, s=None, p=None, o=None):
    return sorted(okg.pattern(s, p, o))


CONV = "http://ex.org/conv/conv-000007"
TURN = "http://ex.org/conv/conv-000007/t/2"
ENT = "http://ex.org/e/apache-spark"


def test_q5_full_scan(kg, golden_oracle):
    assert _got(kg) == _exp(golden_oracle)


def test_q4_s(kg, golden_oracle):
    assert _got(kg, s=TURN) == _exp(golden_oracle, s=TURN)
    assert _got(kg, s=CONV) == _exp(golden_oracle, s=CONV)


def test_q2_sp(kg, golden_oracle):
    assert _got(kg, s=TURN, p=rules.P_MENTIONS) == _exp(golden_oracle, s=TURN, p=rules.P_MENTIONS)


def test_q3_so(kg, golden_oracle):
    assert _got(kg, s=TURN, o=ENT) == _exp(golden_oracle, s=TURN, o=ENT)


def test_q1_spo_ask(kg, golden_oracle):
    got = _got(kg, s=TURN, p=rules.P_MENTIONS, o=ENT)
    assert got == _exp(golden_oracle, s=TURN, p=rules.P_MENTIONS, o=ENT)


def test_q6_p(kg, golden_oracle):
    assert _got(kg, p=rules.P_HASTURN) == _exp(golden_oracle, p=rules.P_HASTURN)


def test_q7_o(kg, golden_oracle):
    assert _got(kg, o=ENT) == _exp(golden_oracle, o=ENT)


def test_q8_po(kg, golden_oracle):
    assert _got(kg, p=rules.P_TYPE, o=rules.C_ENTITY) == _exp(
        golden_oracle, p=rules.P_TYPE, o=rules.C_ENTITY)


def test_q9_subjects_with_po(kg, golden_oracle):
    got = sorted(r["s"] for r in query.subjects_with_po(kg, rules.P_TYPE, rules.C_ENTITY).collect())
    exp = sorted(t[0] for t in golden_oracle.pattern(None, rules.P_TYPE, rules.C_ENTITY))
    assert got == exp


def test_unknown_constant_short_circuits(kg):
    assert _got(kg, s="http://ex.org/no-such-term") == []
    assert _got(kg, p="http://ex.org/p/nope") == []
    assert _got(kg, o='"never-a-literal"') == []


@pytest.mark.parametrize("pid", range(1, 10))
def test_every_predicate_equals_filtered_scan(kg, golden_oracle, pid):
    """Exhaustive ?P? over every predicate ID (reference test pattern)."""
    p = golden_oracle.predicate_str(pid)
    assert _got(kg, p=p) == _exp(golden_oracle, p=p)


def test_sample_subjects_equal_filtered_scan(kg, golden_oracle):
    """S?? over a deterministic sample of subject IDs."""
    n_subj = golden_oracle.n_shared + len(golden_oracle.subjects)
    for sid in range(1, n_subj + 1, 97):
        s = golden_oracle.subject_str(sid)
        assert _got(kg, s=s) == _exp(golden_oracle, s=s)


def test_sample_objects_equal_filtered_scan(kg, golden_oracle):
    n_obj = golden_oracle.n_shared + len(golden_oracle.objects)
    for oid in range(1, n_obj + 1, 211):
        o = golden_oracle.object_str(oid)
        assert _got(kg, o=o) == _exp(golden_oracle, o=o)


def test_triple_ids_with_id_pattern(kg, golden_oracle):
    """ID-taking entry (reference src/hdt.rs:334-345): 0/None = wildcard."""
    from hdtspark import query as q

    # pick a real subject id via the dictionary
    row = kg.dict.subj_global.orderBy("id").first()
    sid = row["id"]
    by_id = sorted(map(tuple, q.triple_ids_with_id_pattern(kg, sid=sid).collect()))
    by_str = sorted(map(tuple, q.triple_ids_with_pattern(
        kg, row["term"], None, None).collect()))
    assert by_id == by_str and by_id
    # 0-sentinel behaves as wildcard, matching the reference
    assert q.triple_ids_with_id_pattern(kg, 0, 0, 0).count() == \
        len(golden_oracle.spo)


A, B = "http://ex.org/a", "http://ex.org/b"
KNOWS, LABEL = "http://ex.org/p/knows", "http://ex.org/p/label"
BNODE, LANG = "_:b0", '"hallo"@de'
QUOTED = '"er sagte \\"straße\\" 😀"'
AWKWARD = [
    (A, KNOWS, B), (A, KNOWS, BNODE), (BNODE, KNOWS, A), (A, LABEL, LANG),
    (B, LABEL, QUOTED), (BNODE, LABEL, QUOTED), (KNOWS, LABEL, LANG),
    (KNOWS, rules.P_TYPE, "http://ex.org/Property"), (B, KNOWS, KNOWS),
]


@pytest.fixture(scope="module")
def awkward_kg(spark):
    """A KG holding a language-tagged literal, a literal with an escaped
    quote and non-ASCII text, a blank node, and a term (``KNOWS``) that is
    a predicate, a subject and an object."""
    from hdtspark import pipeline

    kg = pipeline.build_kg_from_triples(
        spark.createDataFrame(AWKWARD, "s string, p string, o string"),
        with_adjacency=False)
    yield kg
    kg.unpersist()


def test_bound_shapes_echo_awkward_constants(awkward_kg):
    """Every bound shape over every triple's constants returns exactly the
    plain-Python filter's rows (bound positions are echoed, not
    translated), and an absent constant returns nothing."""
    pats = {tuple(v if (mask >> i) & 1 else None for i, v in enumerate(t))
            for t in AWKWARD for mask in range(1, 8)}
    pats |= {(A, KNOWS, LANG), (None, LABEL, '"hallo"@en'), ("_:b1", None, None)}
    for s, p, o in sorted(pats, key=repr):
        exp = sorted(t for t in AWKWARD
                     if all(v is None or v == x for v, x in zip((s, p, o), t)))
        assert _got(awkward_kg, s, p, o) == exp, (s, p, o)
    # the id route answered every pattern: no string enumeration was built
    assert awkward_kg._str_enum is None


def _union_lookup(d, pairs):
    """The per-space union lookup (one point filter per space's table)."""
    from functools import reduce

    from pyspark.sql import DataFrame, functions as F

    want: dict[str, set[str]] = {}
    for sp, term in pairs:
        want.setdefault(sp, set()).add(term)
    parts = [d.space(sp)[0].filter(F.col("term").isin(sorted(terms)))
             .select(F.lit(sp).alias("k"), "term", "id")
             for sp, terms in want.items()]
    return {(r["k"], r["term"]): r["id"]
            for r in reduce(DataFrame.unionAll, parts).collect()}


def test_lookup_matches_per_space_union(awkward_kg):
    """The one-scan ``lookup`` returns the same ids as a union of per-space
    point filters, for every term in every space, one space at a time and
    all at once; absent pairs are missing."""
    d = awkward_kg.dict
    terms = sorted({x for t in AWKWARD for x in t}) + ["http://ex.org/none"]
    spaces = ("s", "o", "p", "node")
    every = [(sp, t) for sp in spaces for t in terms]
    want = _union_lookup(d, every)
    assert d.lookup(every) == want
    for sp in spaces:
        one = [(sp, t) for t in terms]
        assert d.lookup(one) == {k: v for k, v in want.items() if k[0] == sp}
    assert ("s", LANG) not in want and ("p", KNOWS) in want
    assert want[("s", KNOWS)] == want[("o", KNOWS)] <= d.n_shared
    assert d.lookup([]) == {}
