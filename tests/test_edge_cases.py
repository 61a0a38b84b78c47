"""Edge cases: empty graph (reference src/nt.rs:298-303), single turn,
term-list matchers (Q10)."""

from __future__ import annotations

from hdtspark import pipeline, query, rules, synth


def test_empty_corpus(spark):
    t = spark.createDataFrame([], synth.TRANSCRIPTS_SCHEMA)
    kg = pipeline.build_kg(t, cache=False)
    assert kg.dict.n_shared == 0
    assert kg.dict.n_predicates == 0
    assert kg.spo.count() == 0
    assert query.triples_with_pattern(kg, p=rules.P_ROLE).count() == 0


def test_single_turn(spark):
    rows = [{"conv_id": "c", "turn_idx": 0, "role": "user",
             "text": "no mentions here", "tool": None, "ts": None}]
    t = spark.createDataFrame(rows, synth.TRANSCRIPTS_SCHEMA)
    kg = pipeline.build_kg(t, cache=False)
    got = sorted(tuple(r) for r in query.triples_with_pattern(kg).collect())
    turn = rules.turn_iri("c", 0)
    assert got == sorted([
        (rules.conv_iri("c"), rules.P_HASTURN, turn),
        (turn, rules.P_INDEX, rules.typed_lit("0", rules.XSD_INTEGER)),
        (turn, rules.P_ROLE, rules.lit("user")),
        (turn, rules.P_TEXT, rules.lit("no mentions here")),
    ])
    # sections: conv subject-only; turn shared; 4 predicates; 3 literals
    assert kg.dict.n_shared == 1
    assert kg.dict.n_subjects == 1
    assert kg.dict.n_predicates == 4
    assert kg.dict.n_objects == 3


def test_q10_term_lists(kg, golden_oracle):
    ents = ["http://ex.org/e/apache-spark", "http://ex.org/e/sql-table"]
    got = sorted(tuple(r) for r in query.triples_matching(
        kg, p_terms=[rules.P_MENTIONS], o_terms=ents).collect())
    exp = sorted(t for t in golden_oracle.spo_str()
                 if t[1] == rules.P_MENTIONS and t[2] in ents)
    assert got == exp


def test_q10_unknown_terms_empty(kg):
    assert query.triples_matching(kg, o_terms=["http://ex.org/e/nope"]).count() == 0


def test_q10_nonrouted_singletons_filter(kg, golden_oracle):
    """Round-1 bug: a singleton constraint in a NON-routed slot was silently
    dropped (s=[X] + o=[Y] returned all triples of X).  Every bound-slot
    combination must filter."""
    spo = golden_oracle.spo_str()
    s0, p0, o0 = next(t for t in sorted(spo) if t[1] == rules.P_MENTIONS)

    # singleton s routed + singleton o residual
    got = sorted(tuple(r) for r in query.triples_matching(
        kg, s_terms=[s0], o_terms=[o0]).collect())
    assert got == sorted(t for t in spo if t[0] == s0 and t[2] == o0)
    assert got  # non-vacuous

    # singleton p + singleton o: routes on o, p must still filter
    got = sorted(tuple(r) for r in query.triples_matching(
        kg, p_terms=[p0], o_terms=[o0]).collect())
    assert got == sorted(t for t in spo if t[1] == p0 and t[2] == o0)
    assert got

    # all three singletons
    got = sorted(tuple(r) for r in query.triples_matching(
        kg, s_terms=[s0], p_terms=[p0], o_terms=[o0]).collect())
    assert got == [(s0, p0, o0)]

    # list s + singleton p: p is residual on the SPO scan
    subjects = sorted({t[0] for t in spo if t[1] == rules.P_MENTIONS})[:2]
    got = sorted(tuple(r) for r in query.triples_matching(
        kg, s_terms=subjects, p_terms=[p0]).collect())
    assert got == sorted(t for t in spo if t[0] in subjects and t[1] == p0)
    assert got


def test_ranking_empty_inputs(spark):
    """_offsets_df fallback-row arity: empty input must yield empty output,
    not FIELD_STRUCT_LENGTH_MISMATCH (r2 regression)."""
    from hdtspark import ranking

    empty = spark.createDataFrame([], "section string, term string")
    ids, totals = ranking.dense_ids_grouped(empty, "section", "term",
                                            num_partitions=4)
    assert ids.count() == 0 and totals == {}

    empty_w = spark.createDataFrame([], "s long, np long")
    out = ranking.cumulative_sum(empty_w, ["s"], "np", out_col="cum")
    assert out.count() == 0
