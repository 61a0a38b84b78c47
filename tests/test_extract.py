"""Extraction correctness: Spark extraction vs oracle.

Model: the reference's golden-fixture + metamorphic strategy (reference
src/hdt.rs:460-520, src/triples.rs:451-507).
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from hdtspark import extract, rules, vocab


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


def test_raw_triples_match_oracle(transcripts, golden_oracle):
    got = _multiset(extract.extract_triples(transcripts))
    exp = Counter(golden_oracle.triples_str)
    assert got == exp


def test_occurrence_dependent_link_score_raises(transcripts, monkeypatch):
    """The constant winner map assumes the context bonus never reorders a
    surface's candidates; a candidate-dependent bonus breaks that, and
    extraction must refuse rather than resolve links wrongly."""
    monkeypatch.setattr(
        vocab, "link_score",
        lambda prior, occ: prior + (0.8 if occ >= 2 and prior < 0.5 else 0.0))
    # "batch" has one candidate; "customer" is the first surface whose
    # runner-up (prior 0.30) overtakes the winner (0.80) when repeated
    with pytest.raises(ValueError, match="'customer'"):
        extract.extract_triples(transcripts)


def test_per_turn_text_equality(transcripts, golden_rows):
    """input_hint invariant: every turn's text appears verbatim as the
    lexical form of its P_TEXT literal, under stable (conv_id, turn_idx)."""
    tri = extract.extract_triples(transcripts)
    texts = (
        tri.filter(F.col("p") == rules.P_TEXT)
        .select("conv_id", "turn_idx", "o")
        .collect()
    )
    got = {(r["conv_id"], r["turn_idx"]): r["o"] for r in texts}
    for row in golden_rows:
        key = (row["conv_id"], row["turn_idx"])
        assert got[key] == f'"{row["text"]}"'
    assert len(got) == len(golden_rows)


def test_unicode_term_present(golden_oracle):
    """The Cyrillic filler word must flow through as a literal (sort-order
    canary, cf. reference src/hdt.rs:513-515)."""
    assert any("хобби" in t for t in golden_oracle.objects + golden_oracle.shared)
