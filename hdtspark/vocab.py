"""Closed entity vocabulary + deterministic entity-link scoring model.

The mention detector matches surface forms from a closed vocabulary
(word-boundary, case-insensitive).  Each surface maps to one or more
candidate entities with a prior; the link scorer picks
``argmax(prior + 0.05 * [occurrences >= 2])`` with ties broken by slug.
The bonus is the same for every candidate of a surface, so it never flips
the winner: the argmax is a per-surface constant, which lets Spark
extraction resolve links with a literal map lookup, and the outcome is
exactly reproducible by the DuckDB oracle SQL and the pure-Python oracle.
"""

from __future__ import annotations

import re

# (surface, candidate entity slug, prior)
VOCAB: list[tuple[str, str, float]] = [
    ("spark", "apache-spark", 0.90),
    ("spark", "spark-plug", 0.20),
    ("customer", "crm-customer", 0.80),
    ("customer", "customer-support", 0.30),
    ("vector", "math-vector", 0.70),
    ("vector", "vector-db", 0.40),
    ("window", "window-function", 0.75),
    ("window", "house-window", 0.25),
    ("merge", "merge-join", 0.60),
    ("hash", "hash-join", 0.65),
    ("stream", "stream-processing", 0.70),
    ("table", "sql-table", 0.85),
    ("query", "sql-query", 0.80),
    ("filter", "filter-pushdown", 0.55),
    ("scan", "table-scan", 0.50),
    ("batch", "batch-job", 0.45),
]

SURFACES: list[str] = sorted({s for s, _, _ in VOCAB})

# Word-boundary alternation over the closed vocabulary.  `\b` has the same
# semantics in Python `re`, RE2 (DuckDB), and java.util.regex (Spark) for
# these ASCII surfaces.
MENTION_PATTERN: str = r"\b(" + "|".join(SURFACES) + r")\b"
_MENTION_RE = re.compile(MENTION_PATTERN)


def link_score(prior: float, occurrences: int) -> float:
    """Entity-link score = prior + small context bonus for repeated mention."""
    return prior + (0.05 if occurrences >= 2 else 0.0)


def best_link(surface: str, occurrences: int) -> str:
    """Resolve a surface form to its best candidate entity slug."""
    cands = [(s, slug, p) for s, slug, p in VOCAB if s == surface]
    # argmax score, tie-break slug ascending (deterministic)
    return min(cands, key=lambda c: (-link_score(c[2], occurrences), c[1]))[1]


def find_mentions(text: str) -> dict[str, int]:
    """Surface -> occurrence count over lower-cased text (closed vocab)."""
    counts: dict[str, int] = {}
    for m in _MENTION_RE.findall(text.lower()):
        counts[m] = counts.get(m, 0) + 1
    return counts


def vocab_sql_values() -> str:
    """The vocabulary as a SQL VALUES list (for the DuckDB oracle)."""
    rows = ", ".join(f"('{s}', '{slug}', {p})" for s, slug, p in VOCAB)
    return f"(VALUES {rows}) AS v(surface, slug, prior)"
