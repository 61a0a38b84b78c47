"""Many-query SPARQL conformance sweep.

The reference smoke-runs the W3C rdf-tests SPARQL suites against its
engine (reference src/sparql.rs:317-418, git submodule); that corpus is
not vendored here, so this sweep plays the same role in-repo: one query
per grammar production the parser claims (SURVEY.md §2.5), every query
executed over the golden KG, and EVERY query's result exact-checked
against the pure-Python oracle (VERDICT r4 next #8 — no execute-only
rows remain).  Ordered+LIMITed queries project only the ordered column so
the row SET stays deterministic under ties.  A parse or evaluation error
anywhere is a sweep failure — exactly the class of gap the W3C run
catches for the reference.
"""

from __future__ import annotations

import pytest

from hdtspark import rules, sparql, synth

M = rules.P_MENTIONS
T = rules.P_TYPE
ROLE = rules.P_ROLE
TOOL = rules.P_TOOL
ENT = rules.C_ENTITY
SPARK_E = rules.ent_iri("apache-spark")
SQL_E = rules.ent_iri("sql-table")
BASE = rules.BASE
# a golden turn with 9 triples: five mentions, a role, a text and two
# typed literals (an xsd:integer index and an xsd:dateTime)
TURN7 = rules.turn_iri(synth.conv_id_for(7), 0)


def _nonempty(expected):
    """An expectation that must not be empty: a case whose constant names
    no golden node would pass against any engine and test nothing."""
    def check(o):
        want = expected(o)
        assert want, "empty expected set"
        return want
    return check


def _mentions(o):
    return o.pattern(None, M, None)


def _typed(o):
    return o.pattern(None, T, ENT)


def _prev_pairs(o):
    """Transitive closure of the prev-chain edges."""
    edges = {s: oo for s, _, oo in o.pattern(None, rules.P_PREV, None)}
    pairs = set()
    for start in edges:
        cur = start
        while cur in edges:
            cur = edges[cur]
            pairs.add((start, cur))
    return pairs


def _nodes(o):
    """The graph's node set (terms in subject or object position)."""
    return {t for s, _, oo in o.spo_str() for t in (s, oo)}


def _idx(o):
    """(turn, canonical literal, int value) of every P_INDEX triple."""
    return [(s, oo, int(oo.split('"')[1]))
            for s, _, oo in o.pattern(None, rules.P_INDEX, None)]


def _roles(o):
    return o.pattern(None, ROLE, None)


def _tools(o):
    return {s: oo for s, _, oo in o.pattern(None, TOOL, None)}


def _hasturn(o):
    return o.pattern(None, rules.P_HASTURN, None)


def _left_tool(o, f, keep=lambda t: True):
    """(turn, f(tool) or None) per role triple — the OPTIONAL-join shape."""
    tools = _tools(o)
    return {(s, f(tools[s]) if s in tools and keep(tools[s]) else None)
            for s, _, _ in _roles(o)}


def _ent_counts(o):
    from collections import Counter
    return Counter(e for _, _, e in _mentions(o))


def _spark_turns(o):
    """Turns mentioning an entity whose IRI contains 'spark'."""
    return {s for s, _, e in _mentions(o) if "spark" in e}


def _conv_turns(o):
    """conv -> set of its turns, only convs whose turns carry an index."""
    idx_turns = {t for t, _, _ in _idx(o)}
    out: dict = {}
    for c, _, t in _hasturn(o):
        if t in idx_turns:
            out.setdefault(c, set()).add(t)
    return out


def _turn_ents(o):
    """turn -> set of mentioned entity IRIs."""
    out: dict = {}
    for s, _, e in _mentions(o):
        out.setdefault(s, set()).add(e)
    return out


def _sorted_ents(o):
    """ALL mention objects in sorted order (multiset — ties collapse only
    in the final set compare, so LIMIT prefixes are deterministic)."""
    return sorted(e for _, _, e in _mentions(o))


def _prev2_step(o):
    """One (prev/prev) 2-step edge set."""
    edges = {s: oo for s, _, oo in o.pattern(None, rules.P_PREV, None)}
    return {(a, edges[b]) for a, b in edges.items() if b in edges}


def _prev2_pairs(o):
    """Transitive closure of the 2-step prev edges (even-length chains)."""
    e2 = dict(_prev2_step(o))
    pairs = set()
    for start in e2:
        cur = start
        while cur in e2:
            cur = e2[cur]
            pairs.add((start, cur))
    return pairs


def _coment_pairs(o):
    """(a, b) entity pairs co-mentioned by some turn (the ^M/M path)."""
    by_turn: dict = {}
    for s, _, e in _mentions(o):
        by_turn.setdefault(s, set()).add(e)
    return {(a, b) for es in by_turn.values() for a in es for b in es}


# (id, query, expected) — expected is None (execute + count, no error) or a
# callable(oracle) -> expected set of row tuples in column-name-sorted order.
SWEEP = [
    # --- basic pattern shapes through the string entry -------------------
    ("spo_all", "SELECT * { ?s ?p ?o }",
     lambda o: {t for t in map(lambda x: (x[2], x[1], x[0]), o.spo_str())}),
    ("s_free", f"SELECT ?x {{ ?x <{M}> <{SPARK_E}> }}",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("o_free", f"SELECT ?x {{ <{TURN7}> <{M}> ?x }}",
     _nonempty(lambda o: {(oo,) for s, _, oo in _mentions(o)
                          if s == TURN7})),
    ("p_free", f"SELECT ?x {{ <{TURN7}> ?x <{SPARK_E}> }}",
     _nonempty(lambda o: {(p,) for _, p, _ in
                          o.pattern(TURN7, None, SPARK_E)})),
    ("two_pattern_join",
     f"SELECT ?t ?e {{ ?t <{M}> ?e . ?e <{T}> <{ENT}> }}",
     lambda o: {(e, t) for t, _, e in _mentions(o)}),
    ("three_pattern_join",
     f"SELECT ?c ?t ?e {{ ?c <{rules.P_HASTURN}> ?t . ?t <{M}> ?e . "
     f"?e a <{ENT}> }}",
     lambda o: {(c, e, t) for c, _, t in _hasturn(o)
                for t2, _, e in _mentions(o) if t2 == t}),
    ("same_var_twice", "SELECT ?x { ?x ?p ?x }",
     lambda o: {(s,) for s, _, oo in o.spo_str() if s == oo}),
    # --- prologue --------------------------------------------------------
    ("prefix", f"PREFIX e: <{BASE}/e/> PREFIX p: <{BASE}/p/> "
     "SELECT ?t { ?t p:mentions e:apache-spark }",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("base_iri", "BASE <http://nope.example/> SELECT ?x { ?x <p> <q> }",
     lambda o: set()),
    ("a_keyword", f"SELECT ?e {{ ?e a <{ENT}> }}",
     lambda o: {(s,) for s, _, _ in _typed(o)}),
    # --- literals --------------------------------------------------------
    ("string_literal", f'SELECT ?t {{ ?t <{ROLE}> "user" }}',
     lambda o: {(s,) for s, _, oo in o.pattern(None, ROLE, None)
                if oo == '"user"'}),
    ("typed_literal",
     f'SELECT ?t {{ ?t <{rules.P_INDEX}> '
     f'"0"^^<{rules.XSD_INTEGER}> }}',
     lambda o: {(s,) for s, _, v in _idx(o) if v == 0}),
    ("single_quoted", f"SELECT ?t {{ ?t <{ROLE}> 'user' }}",
     lambda o: {(s,) for s, _, oo in o.pattern(None, ROLE, None)
                if oo == '"user"'}),
    # --- FILTER builtins and operators -----------------------------------
    ("f_regex", f'SELECT ?e {{ ?t <{M}> ?e FILTER (REGEX(?e, "spark")) }}',
     lambda o: {(e,) for _, _, e in _mentions(o) if "spark" in e}),
    ("f_strstarts",
     f'SELECT ?e {{ ?t <{M}> ?e FILTER (STRSTARTS(?e, "{BASE}/e/")) }}',
     lambda o: {(e,) for _, _, e in _mentions(o)
                if e.startswith(f"{BASE}/e/")}),
    ("f_strends", f'SELECT ?e {{ ?t <{M}> ?e FILTER (STRENDS(?e, "k")) }}',
     lambda o: {(e,) for _, _, e in _mentions(o) if e.endswith("k")}),
    ("f_contains", f'SELECT ?e {{ ?t <{M}> ?e FILTER (CONTAINS(?e, "q")) }}',
     lambda o: {(e,) for _, _, e in _mentions(o) if "q" in e}),
    ("f_ucase_lcase",
     f'SELECT ?e {{ ?t <{M}> ?e FILTER (UCASE(LCASE(?e)) != ?e) }}',
     lambda o: {(e,) for _, _, e in _mentions(o)
                if e.lower().upper() != e}),
    ("f_strlen", f"SELECT ?e {{ ?t <{M}> ?e FILTER (STRLEN(?e) > 20) }}",
     lambda o: {(oo,) for _, _, oo in _mentions(o) if len(oo) > 20}),
    ("f_eq", f'SELECT ?t {{ ?t <{M}> ?e FILTER (?e = "{SPARK_E}") }}',
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("f_neq", f'SELECT ?e {{ ?t <{M}> ?e FILTER (?e != "{SPARK_E}") }}',
     lambda o: {(oo,) for _, _, oo in _mentions(o) if oo != SPARK_E}),
    ("f_lt_gt", 'SELECT ?e { ?t <%s> ?e FILTER (?e > "a" && ?e < "{") }' % M,
     lambda o: {(e,) for _, _, e in _mentions(o) if "a" < e < "{"}),
    ("f_le_ge", f'SELECT ?e {{ ?t <{M}> ?e '
     f'FILTER (?e >= "{SPARK_E}" || ?e <= "a") }}',
     lambda o: {(e,) for _, _, e in _mentions(o)
                if e >= SPARK_E or e <= "a"}),
    ("f_not", f'SELECT ?e {{ ?t <{M}> ?e FILTER (!CONTAINS(?e, "x")) }}',
     lambda o: {(oo,) for _, _, oo in _mentions(o) if "x" not in oo}),
    ("f_nested_parens",
     f'SELECT ?e {{ ?t <{M}> ?e '
     f'FILTER ((CONTAINS(?e, "a") && !(CONTAINS(?e, "b"))) || ?e = "z") }}',
     lambda o: {(oo,) for _, _, oo in _mentions(o)
                if ("a" in oo and "b" not in oo) or oo == "z"}),
    # operator characters INSIDE literals survive verbatim (ADVICE r3)
    ("f_lit_bang", f'SELECT ?e {{ ?t <{M}> ?e FILTER (?e != "hello!") }}',
     lambda o: {(oo,) for _, _, oo in _mentions(o) if oo != "hello!"}),
    ("f_lit_andand",
     f'SELECT ?e {{ ?t <{M}> ?e FILTER (?e != "a && b || c ( , )") }}',
     lambda o: {(oo,) for _, _, oo in _mentions(o)}),
    ("f_two_filters", f'SELECT ?e {{ ?t <{M}> ?e '
     f'FILTER (CONTAINS(?e, "a")) FILTER (CONTAINS(?e, "s")) }}',
     lambda o: {(oo,) for _, _, oo in _mentions(o)
                if "a" in oo and "s" in oo}),
    # --- OPTIONAL --------------------------------------------------------
    ("opt_plain", f"SELECT ?t ?tool {{ ?t <{ROLE}> ?r . "
     f"OPTIONAL {{ ?t <{TOOL}> ?tool }} }}",
     lambda o: _left_tool(o, lambda t: t)),
    ("opt_filter_inside", f"SELECT ?t ?tool {{ ?t <{ROLE}> ?r . "
     f'OPTIONAL {{ ?t <{TOOL}> ?tool FILTER (CONTAINS(?tool, "s")) }} }}',
     lambda o: _left_tool(o, lambda t: t, keep=lambda t: "s" in t)),
    ("opt_nested", f"SELECT ?t ?e ?tool {{ ?t <{M}> ?e . "
     f"OPTIONAL {{ ?t <{TOOL}> ?tool OPTIONAL {{ ?t <{ROLE}> ?r }} }} }}",
     lambda o: {(e, s, _tools(o).get(s)) for s, _, e in _mentions(o)}),
    ("opt_two", f"SELECT ?t {{ ?t <{ROLE}> ?r . "
     f"OPTIONAL {{ ?t <{TOOL}> ?tool }} OPTIONAL {{ ?t <{M}> ?e }} }}",
     lambda o: {(s,) for s, _, _ in _roles(o)}),
    ("opt_bind_inside", f"SELECT ?t ?u {{ ?t <{ROLE}> ?r . "
     f"OPTIONAL {{ ?t <{TOOL}> ?tool BIND(UCASE(?tool) AS ?u) }} }}",
     lambda o: _left_tool(o, lambda t: t.upper())),
    # --- UNION -----------------------------------------------------------
    ("union_two", f"SELECT ?x {{ {{ ?x <{M}> <{SPARK_E}> }} UNION "
     f"{{ ?x a <{ENT}> }} }}",
     lambda o: ({(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}
                | {(e,) for e, _, _ in _typed(o)})),
    ("union_three", f"SELECT ?x {{ {{ ?x <{M}> <{SPARK_E}> }} UNION "
     f"{{ ?x a <{ENT}> }} UNION {{ ?x <{ROLE}> \"user\" }} }}",
     lambda o: ({(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}
                | {(e,) for e, _, _ in _typed(o)}
                | {(s,) for s, _, r in _roles(o) if r == '"user"'})),
    ("union_disjoint_vars", f"SELECT ?a ?b {{ {{ ?a <{M}> <{SPARK_E}> }} "
     f"UNION {{ ?b a <{ENT}> }} }}",
     lambda o: ({(s, None) for s, _, oo in _mentions(o) if oo == SPARK_E}
                | {(None, e) for e, _, _ in _typed(o)})),
    ("union_filter_scoped",
     f'SELECT ?e {{ {{ ?t <{M}> ?e FILTER (CONTAINS(?e, "spark")) }} '
     f"UNION {{ ?e a <{ENT}> }} }}",
     lambda o: ({(e,) for _, _, e in _mentions(o) if "spark" in e}
                | {(e,) for e, _, _ in _typed(o)})),
    # --- BIND / VALUES / MINUS -------------------------------------------
    ("bind_concat", f"SELECT ?t ?k {{ ?t <{M}> ?e . "
     f"BIND(CONCAT(?e, \"#x\") AS ?k) }}",
     lambda o: {(oo + "#x", s) for s, _, oo in _mentions(o)}),
    ("bind_chain", f"SELECT ?n {{ ?t <{M}> ?e . "
     f"BIND(STRLEN(?e) AS ?m) BIND(?m + 1 AS ?n) }}",
     lambda o: {(len(e) + 1,) for _, _, e in _mentions(o)}),
    ("bind_only_group", 'SELECT ?x { BIND("v" AS ?x) }',
     lambda o: {("v",)}),
    ("values_single", f"SELECT ?t {{ ?t <{M}> ?e . "
     f"VALUES ?e {{ <{SPARK_E}> }} }}",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("values_two_rows", f"SELECT ?t ?e {{ ?t <{M}> ?e . "
     f"VALUES ?e {{ <{SPARK_E}> <{SQL_E}> }} }}",
     lambda o: {(oo, s) for s, _, oo in _mentions(o)
                if oo in (SPARK_E, SQL_E)}),
    ("values_multi_var", f"SELECT ?t ?p ?e {{ ?t ?p ?e . "
     f"VALUES (?p ?e) {{ (<{M}> <{SPARK_E}>) (<{T}> UNDEF) }} }}",
     lambda o: ({(SPARK_E, M, s) for s, _, oo in _mentions(o)
                 if oo == SPARK_E}
                | {(e, T, s) for s, _, e in o.pattern(None, T, None)})),
    ("values_fresh_var", f"SELECT ?t ?lang {{ ?t <{M}> <{SPARK_E}> . "
     f'VALUES ?lang {{ "en" "de" }} }}',
     lambda o: {(l, s) for s, _, oo in _mentions(o) if oo == SPARK_E
                for l in ('"en"', '"de"')}),
    ("minus_basic", f"SELECT ?t ?e {{ ?t <{M}> ?e "
     f"MINUS {{ ?t <{M}> <{SPARK_E}> }} }}",
     lambda o: {(e, t) for t, _, e in _mentions(o)
                if t not in {s for s, _, oo in _mentions(o)
                             if oo == SPARK_E}}),
    ("minus_no_shared_vars", f"SELECT ?t {{ ?t <{M}> <{SPARK_E}> "
     f"MINUS {{ ?z <{ROLE}> \"user\" }} }}",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("minus_with_filter", f"SELECT ?t ?e {{ ?t <{M}> ?e "
     f'MINUS {{ ?t <{M}> ?x FILTER (CONTAINS(?x, "spark")) }} }}',
     lambda o: {(e, t) for t, _, e in _mentions(o)
                if t not in _spark_turns(o)}),
    # --- FILTER (NOT) EXISTS / subqueries --------------------------------
    ("exists_shared",
     f"SELECT ?t ?e {{ ?t <{M}> ?e "
     f"FILTER EXISTS {{ ?t <{M}> <{SPARK_E}> }} }}",
     lambda o: {(e, t) for t, _, e in _mentions(o)
                if t in {s for s, _, oo in _mentions(o) if oo == SPARK_E}}),
    ("not_exists_shared",
     f"SELECT ?t ?e {{ ?t <{M}> ?e "
     f"FILTER NOT EXISTS {{ ?t <{M}> <{SPARK_E}> }} }}",
     lambda o: {(e, t) for t, _, e in _mentions(o)
                if t not in {s for s, _, oo in _mentions(o)
                             if oo == SPARK_E}}),
    # THE MINUS-vs-NOT-EXISTS divergence: with NO shared variables MINUS
    # removes nothing (set-compatibility) while NOT EXISTS is a global
    # emptiness test that removes everything when the inner matches
    ("not_exists_unshared_removes_all",
     f"SELECT ?t {{ ?t <{M}> <{SPARK_E}> "
     f"FILTER NOT EXISTS {{ ?z <{ROLE}> \"user\" }} }}",
     lambda o: set()),
    ("exists_unshared_keeps_all",
     f"SELECT ?t {{ ?t <{M}> <{SPARK_E}> "
     f"FILTER EXISTS {{ ?z <{ROLE}> \"user\" }} }}",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("exists_filter_inside",
     f"SELECT ?t {{ ?t <{M}> ?e FILTER EXISTS {{ ?t <{M}> ?x "
     f'FILTER (CONTAINS(?x, "spark")) }} }}',
     lambda o: {(s,) for s, _, _ in _mentions(o)
                if s in _spark_turns(o)}),
    ("subquery_agg_join",
     f"SELECT ?e ?n {{ {{ SELECT ?e (COUNT(*) AS ?n) {{ ?t <{M}> ?e }} "
     f"GROUP BY ?e }} FILTER (?n >= 3) }}",
     lambda o: {(e, n) for e, n in
                __import__("collections").Counter(
                    oo for _, _, oo in _mentions(o)).items() if n >= 3}),
    ("subquery_joined_with_outer",
     f"SELECT ?t ?e {{ ?t <{M}> ?e . {{ SELECT ?e {{ ?e a <{ENT}> }} }} }}",
     lambda o: {(e, t) for t, _, e in _mentions(o)}),
    ("subquery_with_limit", f"SELECT ?e {{ {{ SELECT DISTINCT ?e "
     f"{{ ?t <{M}> ?e }} ORDER BY ?e LIMIT 2 }} }}",
     lambda o: {(e,) for e in
                sorted({oo for _, _, oo in _mentions(o)})[:2]}),
    # --- solution modifiers ----------------------------------------------
    ("distinct", f"SELECT DISTINCT ?e {{ ?t <{M}> ?e }}",
     lambda o: {(oo,) for _, _, oo in _mentions(o)}),
    # LIMIT prefixes below are deterministic as SETS because only the
    # ordered column is projected (value multisets, not arbitrary rows)
    ("order_limit", f"SELECT ?e {{ ?t <{M}> ?e }} ORDER BY ?e LIMIT 3",
     lambda o: {(e,) for e in _sorted_ents(o)[:3]}),
    ("order_desc_offset",
     f"SELECT ?e {{ ?t <{M}> ?e }} ORDER BY DESC(?e) LIMIT 2 OFFSET 2",
     lambda o: {(e,) for e in _sorted_ents(o)[::-1][2:4]}),
    ("order_two_keys",
     f"SELECT ?t ?e {{ ?t <{M}> ?e }} ORDER BY ?t DESC(?e) LIMIT 5",
     lambda o: {(e, t) for t, e in
                sorted(sorted(((s, e) for s, _, e in _mentions(o)),
                              key=lambda p: p[1], reverse=True),
                       key=lambda p: p[0])[:5]}),
    ("projection_expr",
     f"SELECT (UCASE(?e) AS ?u) {{ ?t <{M}> ?e }} ORDER BY ?e LIMIT 4",
     lambda o: {(e.upper(),) for e in _sorted_ents(o)[:4]}),
    ("group_count",
     f"SELECT ?e (COUNT(*) AS ?n) {{ ?t <{M}> ?e }} GROUP BY ?e",
     lambda o: {(e, n) for e, n in _ent_counts(o).items()}),
    ("group_min_max", f"SELECT ?e (MIN(?t) AS ?lo) (MAX(?t) AS ?hi) "
     f"{{ ?t <{M}> ?e }} GROUP BY ?e",
     lambda o: {(e, max(s for s, _, e2 in _mentions(o) if e2 == e),
                 min(s for s, _, e2 in _mentions(o) if e2 == e))
                for e in {e for _, _, e in _mentions(o)}}),
    ("group_having", f"SELECT ?e (COUNT(*) AS ?n) {{ ?t <{M}> ?e }} "
     f"GROUP BY ?e HAVING (COUNT(*) >= 3)",
     lambda o: {(e, n) for e, n in _ent_counts(o).items() if n >= 3}),
    ("group_two_having", f"SELECT ?e (COUNT(*) AS ?n) {{ ?t <{M}> ?e }} "
     f"GROUP BY ?e HAVING (COUNT(*) >= 2) HAVING (COUNT(*) <= 50)",
     lambda o: {(e, n) for e, n in _ent_counts(o).items()
                if 2 <= n <= 50}),
    # --- ASK / CONSTRUCT / DESCRIBE --------------------------------------
    ("ask_true", f"ASK {{ ?t <{M}> ?e }}", lambda o: {(True,)}),
    ("ask_false", "ASK { ?t <http://nope/p> ?e }", lambda o: {(False,)}),
    ("ask_filter", f'ASK {{ ?t <{M}> ?e FILTER (CONTAINS(?e, "nope-xyz")) }}',
     lambda o: {(False,)}),
    # NB: sweep rows are collected in column-name-sorted order (o, p, s)
    ("construct_basic", f"CONSTRUCT {{ ?e <{BASE}/p/seenIn> ?t }} "
     f"WHERE {{ ?t <{M}> ?e }}",
     lambda o: {(s, f"{BASE}/p/seenIn", oo) for s, _, oo in _mentions(o)}),
    ("construct_const_term",
     f"CONSTRUCT {{ ?e a <{BASE}/c/Mentioned> }} WHERE {{ ?t <{M}> ?e }}",
     lambda o: {(f"{BASE}/c/Mentioned", rules.P_TYPE, oo)
                for _, _, oo in _mentions(o)}),
    ("construct_two_templates",
     f"CONSTRUCT {{ ?e <{BASE}/p/of> ?t . ?t <{BASE}/p/has> ?e }} "
     f"WHERE {{ ?t <{M}> ?e . FILTER (CONTAINS(?e, \"spark\")) }}",
     lambda o: ({(t, f"{BASE}/p/of", e) for t, _, e in _mentions(o)
                 if "spark" in e}
                | {(e, f"{BASE}/p/has", t) for t, _, e in _mentions(o)
                   if "spark" in e})),
    ("construct_optional_null_drop",
     f"CONSTRUCT {{ ?t <{BASE}/p/usedTool> ?tool }} WHERE "
     f"{{ ?t <{ROLE}> ?r OPTIONAL {{ ?t <{TOOL}> ?tool }} }}",
     lambda o: {(oo, f"{BASE}/p/usedTool", s)
                for s, _, oo in o.pattern(None, TOOL, None)}),
    ("describe_one", f"DESCRIBE <{SPARK_E}>",
     lambda o: {(oo, p, s) for s, p, oo in o.spo_str()
                if SPARK_E in (s, oo)}),
    ("describe_two", f"DESCRIBE <{SPARK_E}> <{SQL_E}>",
     lambda o: {(oo, p, s) for s, p, oo in o.spo_str()
                if {s, oo} & {SPARK_E, SQL_E}}),
    ("describe_pname", f"PREFIX e: <{BASE}/e/> DESCRIBE e:apache-spark",
     lambda o: {(oo, p, s) for s, p, oo in o.spo_str()
                if SPARK_E in (s, oo)}),
    # --- property paths --------------------------------------------------
    ("path_seq", f"SELECT ?c ?e {{ ?c <{rules.P_HASTURN}>/<{M}> ?e }}",
     lambda o: {(c, e) for c, _, t in _hasturn(o)
                for t2, _, e in _mentions(o) if t2 == t}),
    ("path_alt", f"SELECT ?s ?o {{ ?s (<{M}>|<{T}>) ?o }}",
     lambda o: ({(oo, s) for s, _, oo in _mentions(o)}
                | {(oo, s) for s, _, oo in o.pattern(None, T, None)})),
    ("path_inverse", f"SELECT ?e ?t {{ ?e ^<{M}> ?t }}",
     lambda o: {(oo, s) for s, _, oo in _mentions(o)}),
    ("path_inv_seq", f"SELECT ?a ?b {{ ?a ^<{M}>/<{M}> ?b }}",
     lambda o: _coment_pairs(o)),
    ("path_plus", f"SELECT ?a ?b {{ ?a <{rules.P_PREV}>+ ?b }}",
     lambda o: _prev_pairs(o)),
    ("path_plus_seeded_ask",
     f"ASK {{ ?a <{rules.P_PREV}>+ <{BASE}/conv/nope/t/0> }}",
     lambda o: {(False,)}),
    ("path_paren_combo",
     f"SELECT ?c ?x {{ ?c <{rules.P_HASTURN}>/(<{ROLE}>|<{TOOL}>) ?x }}",
     lambda o: ({(c, {s: oo for s, _, oo in _roles(o)}[t])
                 for c, _, t in _hasturn(o)}
                | {(c, _tools(o)[t]) for c, _, t in _hasturn(o)
                   if t in _tools(o)})),
    # zero-or-more / zero-or-one (set semantics: closure/step ∪ reflexive
    # pairs over the node set, duplicate-free)
    ("path_star", f"SELECT ?a ?b {{ ?a <{rules.P_PREV}>* ?b }}",
     lambda o: _prev_pairs(o) | {(n, n) for n in _nodes(o)}),
    ("path_opt", f"SELECT ?a ?b {{ ?a <{rules.P_PREV}>? ?b }}",
     lambda o: ({(s, oo) for s, _, oo in o.pattern(None, rules.P_PREV, None)}
                | {(n, n) for n in _nodes(o)})),
    ("path_opt_inv", f"SELECT ?a ?b {{ ?a ^<{rules.P_PREV}>? ?b }}",
     lambda o: ({(oo, s) for s, _, oo in o.pattern(None, rules.P_PREV, None)}
                | {(n, n) for n in _nodes(o)})),
    ("path_star_nonnode_ask",
     f"ASK {{ <{BASE}/nope-node> <{rules.P_PREV}>* <{BASE}/nope-node> }}",
     lambda o: {(False,)}),
    ("path_star_reflexive_ask",
     f"ASK {{ <{SPARK_E}> <{rules.P_PREV}>* <{SPARK_E}> }}",
     lambda o: {(True,)}),
    ("path_star_paren", f"SELECT ?a ?b {{ ?a (<{rules.P_PREV}>)* ?b }}",
     lambda o: _prev_pairs(o) | {(n, n) for n in _nodes(o)}),
    # negated property sets: edges whose predicate is NOT in the set;
    # ^-entries apply to reversed edges; mixed sets union both arms
    ("path_negset_single", f"SELECT ?s ?o {{ ?s !<{T}> ?o }}",
     lambda o: {(oo, s) for s, p, oo in o.spo_str() if p != T}),
    ("path_negset_multi", f"SELECT ?s ?o {{ ?s !(<{T}>|<{M}>) ?o }}",
     lambda o: {(oo, s) for s, p, oo in o.spo_str() if p not in (T, M)}),
    ("path_negset_inv", f"SELECT ?a ?b {{ ?a !(^<{M}>) ?b }}",
     lambda o: {(oo, s) for s, p, oo in o.spo_str() if p != M}),
    ("path_negset_mixed", f"SELECT ?a ?b {{ ?a !(<{M}>|^<{M}>) ?b }}",
     lambda o: ({(s, oo) for s, p, oo in o.spo_str() if p != M}
                | {(oo, s) for s, p, oo in o.spo_str() if p != M})),
    ("path_negset_bound_s",
     f"SELECT ?x {{ <{TURN7}> !<{rules.P_TEXT}> ?x }}",
     _nonempty(lambda o: {(oo,) for s, p, oo in o.spo_str()
                          if s == TURN7 and p != rules.P_TEXT})),
    # closure over a composite inner: (prev/prev)+ = even-length chains
    ("path_composite_plus",
     f"SELECT ?a ?b {{ ?a (<{rules.P_PREV}>/<{rules.P_PREV}>)+ ?b }}",
     lambda o: _prev2_pairs(o)),
    ("path_composite_opt",
     f"SELECT ?a ?b {{ ?a (<{rules.P_PREV}>/<{rules.P_PREV}>)? ?b }}",
     lambda o: ({(a, b) for a, b in _prev2_step(o)}
                | {(n, n) for n in _nodes(o)})),
    # --- typed-literal numeric semantics (FILTER / ORDER BY by VALUE) -----
    ("f_numeric_gt",
     f"SELECT ?t ?n {{ ?t <{rules.P_INDEX}> ?n FILTER (?n > 3) }}",
     lambda o: {(lit, s) for s, lit, v in _idx(o) if v > 3}),
    ("f_numeric_reversed",
     f"SELECT ?t {{ ?t <{rules.P_INDEX}> ?n FILTER (3 < ?n) }}",
     lambda o: {(s,) for s, _, v in _idx(o) if v > 3}),
    ("f_numeric_typed_const",
     f'SELECT ?t {{ ?t <{rules.P_INDEX}> ?n '
     f'FILTER (?n = "2"^^<{rules.XSD_INTEGER}>) }}',
     lambda o: {(s,) for s, _, v in _idx(o) if v == 2}),
    ("f_numeric_decimal",
     f"SELECT ?t {{ ?t <{rules.P_INDEX}> ?n FILTER (?n <= 2.5) }}",
     lambda o: {(s,) for s, _, v in _idx(o) if v <= 2.5}),
    ("f_numeric_non_numeric_drops",
     f"SELECT ?t {{ ?t <{ROLE}> ?r FILTER (?r > 0) }}",
     lambda o: set()),
    ("order_numeric_desc",
     f"SELECT DISTINCT ?n {{ ?t <{rules.P_INDEX}> ?n }} "
     f"ORDER BY DESC(?n) LIMIT 3",
     lambda o: {(lit,) for lit, v in
                sorted({(lit, v) for _, lit, v in _idx(o)},
                       key=lambda x: -x[1])[:3]}),
    ("num_shorthand_object",
     f"SELECT ?t {{ ?t <{rules.P_INDEX}> 0 }}",
     lambda o: {(s,) for s, _, v in _idx(o) if v == 0}),
    # --- expression constants: IRIs / prefixed names (round 5) -----------
    ("f_eq_iri", f"SELECT ?t {{ ?t <{M}> ?e FILTER (?e = <{SPARK_E}>) }}",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("f_in_iris",
     f"SELECT ?e {{ ?t <{M}> ?e FILTER (?e IN (<{SPARK_E}>, <{SQL_E}>)) }}",
     lambda o: {(oo,) for _, _, oo in _mentions(o) if oo in (SPARK_E, SQL_E)}),
    ("f_not_in",
     f"SELECT ?e {{ ?t <{M}> ?e FILTER (?e NOT IN (<{SPARK_E}>)) }}",
     lambda o: {(oo,) for _, _, oo in _mentions(o) if oo != SPARK_E}),
    ("f_eq_pname", f"PREFIX e: <{BASE}/e/> "
     f"SELECT ?t {{ ?t <{M}> ?e FILTER (?e = e:apache-spark) }}",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    # --- term-inspection builtins (round 5) ------------------------------
    ("f_bound", f"SELECT ?t {{ ?t <{ROLE}> ?r . "
     f"OPTIONAL {{ ?t <{TOOL}> ?tool }} FILTER (BOUND(?tool)) }}",
     lambda o: {(s,) for s, _, _ in _roles(o) if s in _tools(o)}),
    ("f_not_bound", f"SELECT ?t {{ ?t <{ROLE}> ?r . "
     f"OPTIONAL {{ ?t <{TOOL}> ?tool }} FILTER (!BOUND(?tool)) }}",
     lambda o: {(s,) for s, _, _ in _roles(o) if s not in _tools(o)}),
    ("f_str_of_literal", f'SELECT ?t {{ ?t <{ROLE}> ?r '
     f'FILTER (STR(?r) = "user") }}',
     lambda o: {(s,) for s, _, r in _roles(o) if r == '"user"'}),
    ("f_str_of_iri", f'SELECT ?t {{ ?t <{M}> ?e '
     f'FILTER (STR(?e) = "{SPARK_E}") }}',
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("f_lang_empty", f'SELECT ?t {{ ?t <{ROLE}> ?r FILTER (LANG(?r) = "") }}',
     lambda o: {(s,) for s, _, _ in _roles(o)}),
    ("f_datatype_integer", f"SELECT ?n {{ ?t <{rules.P_INDEX}> ?n "
     f"FILTER (DATATYPE(?n) = <{rules.XSD_INTEGER}>) }}",
     lambda o: {(lit,) for _, lit, _ in _idx(o)}),
    ("f_datatype_plain_is_string",
     f"SELECT ?r {{ ?t <{ROLE}> ?r "
     f"FILTER (DATATYPE(?r) = <http://www.w3.org/2001/XMLSchema#string>) }}",
     lambda o: {(r,) for _, _, r in _roles(o)}),
    ("f_isliteral", f"SELECT ?o {{ <{TURN7}> ?p ?o "
     f"FILTER (isLiteral(?o)) }}",
     _nonempty(lambda o: {(oo,) for s, _, oo in o.spo_str()
                          if s == TURN7 and oo.startswith('"')})),
    ("f_isiri", f"SELECT ?o {{ <{TURN7}> ?p ?o "
     f"FILTER (isIRI(?o)) }}",
     _nonempty(lambda o: {(oo,) for s, _, oo in o.spo_str()
                          if s == TURN7
                          and not oo.startswith('"') and not oo.startswith("_:")})),
    ("f_isblank_ask", f"ASK {{ ?s ?p ?o FILTER (isBlank(?o)) }}",
     lambda o: {(any(oo.startswith("_:") for _, _, oo in o.spo_str()),)}),
    ("f_isnumeric", f"SELECT ?o {{ <{TURN7}> ?p ?o "
     f"FILTER (isNumeric(?o)) }}",
     _nonempty(lambda o: {(oo,) for s, _, oo in o.spo_str()
                          if s == TURN7
                          and oo.endswith(f"^^<{rules.XSD_INTEGER}>")})),
    ("f_sameterm", f"SELECT ?t {{ ?t <{M}> ?e "
     f"FILTER (sameTerm(?e, <{SPARK_E}>)) }}",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("f_langmatches_star",
     f'SELECT ?t {{ ?t <{ROLE}> ?r FILTER (langMatches(LANG(?r), "*")) }}',
     lambda o: set()),   # plain literals: lang "" matches no range
    # --- string builtins (round 5) ---------------------------------------
    ("bind_strafter", f'SELECT DISTINCT ?slug {{ ?t <{M}> ?e . '
     f'BIND(STRAFTER(STR(?e), "/e/") AS ?slug) }}',
     lambda o: {(e.split("/e/", 1)[1],) for _, _, e in _mentions(o)}),
    ("bind_strbefore", f'SELECT DISTINCT ?x {{ ?t <{ROLE}> ?r . '
     f'BIND(STRBEFORE(STR(?r), "ser") AS ?x) }}',
     lambda o: {((r[1:-1].split("ser")[0] if "ser" in r[1:-1] else ""),)
                for _, _, r in _roles(o)}),
    ("bind_replace", f'SELECT DISTINCT ?x {{ ?t <{M}> ?e . '
     f'BIND(REPLACE(STR(?e), "[aeiou]", "") AS ?x) }}',
     lambda o: {(__import__("re").sub("[aeiou]", "", e),)
                for _, _, e in _mentions(o)}),
    ("bind_if", f'SELECT DISTINCT ?e ?f {{ ?t <{M}> ?e . '
     f'BIND(IF(CONTAINS(?e, "spark"), "y", "n") AS ?f) }}',
     lambda o: {(e, "y" if "spark" in e else "n")
                for _, _, e in _mentions(o)}),
    ("proj_coalesce", f'SELECT ?t (COALESCE(?tool, "none") AS ?c) '
     f"{{ ?t <{ROLE}> ?r OPTIONAL {{ ?t <{TOOL}> ?tool }} }}",
     lambda o: {(_tools(o)[s] if s in _tools(o) else "none", s)
                for s, _, _ in _roles(o)}),
    # --- numeric / concat aggregates (round 5) ---------------------------
    ("agg_sum_per_conv", f"SELECT ?c (SUM(?n) AS ?s) {{ "
     f"?c <{rules.P_HASTURN}> ?t . ?t <{rules.P_INDEX}> ?n }} GROUP BY ?c",
     lambda o: {(c, float(sum(v for t, _, v in _idx(o)
                              if t in turns)))
                for c, turns in _conv_turns(o).items()}),
    ("agg_avg_all", f"SELECT (AVG(?n) AS ?a) {{ ?t <{rules.P_INDEX}> ?n }}",
     lambda o: {(sum(v for _, _, v in _idx(o)) / len(_idx(o)),)}),
    ("agg_group_concat", f"SELECT ?t (GROUP_CONCAT(?e; SEPARATOR=\",\") "
     f"AS ?es) {{ ?t <{M}> ?e }} GROUP BY ?t",
     lambda o: {(",".join(sorted(es)), t)
                for t, es in _turn_ents(o).items()}),
    ("agg_sample", f"SELECT ?t (SAMPLE(?e) AS ?one) {{ ?t <{M}> ?e }} "
     f"GROUP BY ?t",
     lambda o: {(min(es), t) for t, es in _turn_ents(o).items()}),
    # --- whitespace / syntax robustness ----------------------------------
    ("no_dots", f"SELECT ?t ?e {{ ?t <{M}> ?e }}",
     lambda o: {(e, t) for t, _, e in _mentions(o)}),
    ("trailing_dots", f"SELECT ?t {{ ?t <{M}> <{SPARK_E}> . }}",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    ("packed_whitespace", f"SELECT ?t{{?t <{M}> <{SPARK_E}>}}",
     lambda o: {(s,) for s, _, oo in _mentions(o) if oo == SPARK_E}),
    # LIMIT is sized to never bite so the row SET stays deterministic
    ("newlines", f"SELECT ?t\n{{\n  ?t <{M}> ?e .\n  FILTER (\n"
     f"    CONTAINS(?e, \"spark\")\n  )\n}}\nLIMIT 100000",
     lambda o: {(s,) for s, _, e in _mentions(o) if "spark" in e}),
    ("where_keyword", f"SELECT ?t WHERE {{ ?t <{M}> ?e }}",
     lambda o: {(s,) for s, _, _ in _mentions(o)}),
    ("reduced", f"SELECT REDUCED ?e {{ ?t <{M}> ?e }}",
     lambda o: {(e,) for _, _, e in _mentions(o)}),
    ("case_insensitive_kw",
     f"select ?t where {{ ?t <{M}> ?e }} order by ?t limit 2",
     lambda o: {(t,) for t in
                sorted(s for s, _, _ in _mentions(o))[:2]}),
]


@pytest.mark.parametrize(
    "query,expected", [(q, e) for _, q, e in SWEEP],
    ids=[name for name, _, _ in SWEEP])
def test_sweep(kg, golden_oracle, query, expected):
    df = sparql.query(kg, query)
    rows = df.select(*sorted(df.columns)).collect()
    if expected is None:
        assert rows is not None  # executed without parse/eval error
    else:
        got = {tuple(r) for r in rows}
        assert got == expected(golden_oracle), query
