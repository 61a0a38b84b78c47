"""SPARQL string entry point (reference src/sparql.rs:79-83).

The reference hands the query text to an external parser (spargebra) and
evaluator (spareval) and only provides quad-pattern lookup; the relational
work is delegated.  This module is the same shape Spark-first: a small
recursive-descent parser extracts the STRUCTURE (select list, BGPs, UNION,
ORDER BY / LIMIT / OFFSET, BASE/PREFIX), BGPs compile through the existing
``sparql.bgp`` join compiler, and PROJECTION EXPRESSIONS (e.g.
``(CONCAT(?y,'123') AS ?x)``) are delegated to Catalyst by rewriting
``?var`` -> column name and evaluating ``spark.sql`` over a temp view —
exactly the subset the reference's tests exercise (src/sparql.rs:114-120:
the three single-pattern selects, expression projection with ORDER BY /
LIMIT, and BASE + UNION).

Grammar (case-insensitive keywords)::

    query  := (BASE <iri> | PREFIX pfx: <iri>)*
              ( SELECT DISTINCT? proj | ASK )
              WHERE? { group } (GROUP BY ?var+)? (HAVING '(' expr ')')*
              (ORDER BY ord+)? (LIMIT n)? (OFFSET n)?
    proj   := '*' | ( ?var | '(' expr AS ?var ')' )+
    group  := (bgp | FILTER '(' expr ')' | OPTIONAL { bgp })*
            | { group } (UNION { group })*
    term   := <iri> | ?var | "lit"(@lang|^^<iri>)? | _:b | pfx:name | a

FILTER expressions are re-serialized to Spark SQL (?var -> `var`,
REGEX -> regexp_like, STRSTARTS/STRENDS/CONTAINS/UCASE/LCASE/STRLEN,
&&/||/! -> AND/OR/NOT) and evaluated by Catalyst per UNION arm.
Comparisons against a numeric constant (bare numeral or xsd-numeric typed
literal) apply XSD VALUE semantics via a try_cast of the lexical form
(_numeric_rewrite); all other comparisons operate on the canonical term
strings — the subset boundary the reference reaches by delegating to
spareval (src/sparql.rs:45-83).

Two further documented subset boundaries: (1) string builtins
(STRBEFORE/STRAFTER/CONTAINS/STRSTARTS/...) operate on the CANONICAL term
string of a literal argument unless it is wrapped in STR(...) — wrap
literal variables in STR() to act on the lexical form (spec semantics);
(2) SUM/AVG coerce to DOUBLE (_num_sql), so integer aggregates lose the
xsd:integer result type and exactness above 2^53 — a deliberate deviation
matched by the declared DuckDB oracles.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .query import KG

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_TOKEN = re.compile(
    r"""
    (?P<iri>  <[^>\s]*> )   # no whitespace inside: a bare '<' comparison
                            # in FILTER can never be swallowed as an IRI
  | (?P<lit>  "(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9\-]+|\^\^<[^>]*>)?
            | '(?:[^'\\]|\\.)*'(?:@[A-Za-z0-9\-]+|\^\^<[^>]*>)? )
  | (?P<var>  \?[A-Za-z_]\w* )
  | (?P<blank> _:\w+ )
  | (?P<lbrace> \{ ) | (?P<rbrace> \} )
  | (?P<lparen> \( ) | (?P<rparen> \) )
  | (?P<dot> \. )
  | (?P<word> [A-Za-z_][\w\-]*(:[\w\-]*)? )
  | (?P<num>  \d+\.\d+ | \d+ )
  | (?P<other> [^\s] )
    """,
    re.VERBOSE,
)


def _tokenize(q: str) -> list[tuple[str, str]]:
    out = []
    for m in _TOKEN.finditer(q):
        kind = m.lastgroup
        if kind == "word" and ":" in m.group():
            kind = "pname"
        out.append((kind, m.group()))
    return out


@dataclass(frozen=True)
class PlusPath:
    """One-or-more closure (property path ``p+``), kept symbolic in the
    pattern list.  A single (optionally inverted) IRI sets ``iri``; a
    COMPOSITE inner path (e.g. ``(a/b)+``) sets ``node`` (the path AST)
    instead.  Either way the evaluator states the edge relation on 8-byte
    ids (PSO per-role ids, or global node ids for a composite built
    through the ID-level BGP compiler) and closes it with ONE distributed
    semi-naive loop (``closure``): each step joins only the newest
    generation with the edges and runs exactly one Spark action, and the
    anti-join against the accumulated generations broadcasts them while
    their exact size fits Spark's broadcast threshold, so the step's only
    shuffle is the frontier's dedup.  Terms are translated once, at the
    end."""

    iri: str | None = None
    node: tuple | None = None


@dataclass(frozen=True)
class StarPath:
    """Zero-or-more (``p*``) — evaluated as the duplicate-free union of the
    zero-length arm (reflexive pairs over the graph's NODE set, which is
    exactly the dictionary's shared+subjects+objects sections — no triple
    scan) and the ``p+`` closure.  Kept symbolic, not desugared into UNION
    arms: SPARQL path semantics are SET-based (W3C ALP), so a cyclic graph
    must not yield duplicate (x, x) rows from both arms."""

    iri: str | None = None
    node: tuple | None = None


@dataclass(frozen=True)
class OptPath:
    """Zero-or-one (``p?``) — duplicate-free union of the zero-length arm
    and the single-step pattern (same set semantics as StarPath)."""

    iri: str | None = None
    node: tuple | None = None


@dataclass(frozen=True)
class NegSet:
    """Negated property set ``!(p1|^p2|...)`` — matches any edge whose
    predicate is NOT in the set; ``inv`` predicates apply to reversed
    edges (W3C NegatedPropertySet).  Evaluated as an ID-route scan with a
    residual ``p NOT IN`` filter (inherently an almost-full scan when both
    endpoints are free — the unbound-predicate shape)."""

    fwd: tuple = ()
    inv: tuple = ()


@dataclass
class Group:
    """One group graph pattern: a BGP plus its modifiers, in evaluation
    order patterns -> VALUES -> BIND -> OPTIONAL -> MINUS -> FILTER
    (FILTER scopes to the whole group per SPARQL; BIND applies after the
    group's own patterns so later OPTIONAL/MINUS/FILTER can reference it).
    ``optionals`` / ``minuses`` hold full sub-groups (lists of UNION arms),
    so OPTIONAL and MINUS bodies may nest FILTER/BIND/OPTIONAL/UNION."""

    patterns: list[tuple[str, str, str]] = field(default_factory=list)
    filters: list[str] = field(default_factory=list)          # Spark SQL
    binds: list[tuple[str, str]] = field(default_factory=list)  # (var, sql)
    # VALUES blocks: (var names, rows of canonical term strings; None=UNDEF)
    values: list[tuple[list[str], list[tuple]]] = field(default_factory=list)
    optionals: list[list["Group"]] = field(default_factory=list)
    minuses: list[list["Group"]] = field(default_factory=list)
    # FILTER (NOT) EXISTS bodies: (positive?, UNION arms)
    exists_filters: list[tuple[bool, list["Group"]]] = field(
        default_factory=list)
    # nested { SELECT ... } subqueries, joined in as solution relations
    subqueries: list["Query"] = field(default_factory=list)


@dataclass
class Query:
    select: list[tuple[str, str | None]]  # (var, sql_expr or None) ; [("*", None)] = all
    arms: list[Group]                     # UNION of group patterns
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (var, desc)
    limit: int | None = None
    offset: int | None = None
    distinct: bool = False
    group_by: list[str] = field(default_factory=list)   # var names
    having: list[str] = field(default_factory=list)     # Spark SQL strings
    form: str = "select"          # 'select' | 'ask' | 'construct' | 'describe'
    template: list[tuple[str, str, str]] | None = None  # CONSTRUCT triples
    describe: list[str] = field(default_factory=list)   # DESCRIBE resources
    # fresh join variables introduced by path desugaring — dropped from the
    # solution columns after group evaluation.  Tracked EXPLICITLY (ADVICE
    # r4): a user variable like ?_pathLen is legal SPARQL and must survive,
    # so hiding by name-prefix match would silently corrupt solutions.
    hidden_vars: frozenset = frozenset()

    # -- legacy views (round-3 AST shape), used by existing tests ----------
    @property
    def groups(self) -> list[list[tuple[str, str, str]]]:
        return [g.patterns for g in self.arms]

    @property
    def filters(self) -> list[list[str]]:
        return [g.filters for g in self.arms]

    @property
    def optionals(self) -> list[list[list[tuple[str, str, str]]]]:
        return [[o[0].patterns for o in g.optionals] for g in self.arms]


# SPARQL builtin -> Spark SQL function (the FILTER subset; expressions are
# delegated to Catalyst like projection expressions are)
_SPARQL_FN = {
    "REGEX": "regexp_like",
    "STRSTARTS": "startswith",
    "STRENDS": "endswith",
    "CONTAINS": "contains",
    "UCASE": "upper",
    "LCASE": "lower",
    "STRLEN": "length",
    # SPARQL REPLACE is regex-based (fn:replace), unlike SQL replace
    "REPLACE": "regexp_replace",
}
# SPARQL builtins that pass through UNCHANGED because the Spark SQL
# function of the same name has matching semantics: IF, COALESCE, CONCAT,
# SUBSTR (both 1-based), ABS, CEIL, FLOOR, ROUND, COUNT, MIN, MAX (term
# order == SPARQL codepoint order for our canonical strings), YEAR, MONTH,
# DAY.  No mapping entry needed — unknown words serialize verbatim.

# XSD numeric datatypes whose typed literals get VALUE comparison semantics
# in FILTER / ORDER BY (the XSD numeric promotion set)
_XSD_NUMERIC = {
    "integer", "decimal", "double", "float", "long", "int", "short", "byte",
    "nonNegativeInteger", "nonPositiveInteger", "negativeInteger",
    "positiveInteger", "unsignedLong", "unsignedInt", "unsignedShort",
    "unsignedByte",
}

_NUM_LIT_RE = re.compile(
    r'^["\'](.*)["\']\^\^<http://www\.w3\.org/2001/XMLSchema#([A-Za-z]+)>$')
_NUM_LEX_RE = re.compile(r"^[+-]?(\d+(\.\d+)?|\.\d+)([eE][+-]?\d+)?$")


def _numeric_lit_value(raw: str) -> str | None:
    """The plain numeric value of an xsd-numeric typed literal token,
    or None if the token isn't one (wrong datatype / malformed lexical)."""
    m = _NUM_LIT_RE.match(raw)
    if not m:
        return None
    lex, dtype = m.groups()
    if dtype in _XSD_NUMERIC and _NUM_LEX_RE.match(lex):
        return lex
    return None


def _num_sql(c: str) -> str:
    """Spark SQL: the numeric value of column/expr ``c`` as DOUBLE.

    Polymorphic over the two kinds of solution column: a canonical TERM
    string yields its typed-literal lexical value iff the datatype is
    xsd-numeric (NULL otherwise — IRIs and plain literals are not numbers);
    a COMPUTED column (BIND arithmetic, subquery COUNT/SUM — genuinely
    numeric or a bare numeral string) falls through to a direct try_cast.
    String ops only (no regex escaping pitfalls): the datatype suffix after
    the last '^^<' is matched against the closed numeric-type list and the
    lexical form is everything between the leading quote and the next."""
    types = ", ".join(f"'http://www.w3.org/2001/XMLSchema#{t}>'"
                      for t in sorted(_XSD_NUMERIC))
    s = f"cast({c} as string)"
    return (f"(CASE WHEN substr({s}, 1, 1) = '\"' "
            f"THEN (CASE WHEN substring_index({s}, '^^<', -1) IN ({types}) "
            f"THEN try_cast(substring_index(substr({s}, 2), '\"', 1)"
            f" AS DOUBLE) END) "
            f"ELSE try_cast({c} AS DOUBLE) END)")


def _sql_str(s: str) -> str:
    """A Spark SQL single-quoted string literal holding ``s`` verbatim."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# -- term-inspection builtins over CANONICAL term strings -------------------
# Canonical form (the dictionary's): IRIs bare, literals '"lex"' with an
# optional '@lang' or '^^<dt>' suffix, blanks '_:name'.  Each builtin is a
# pure Spark SQL rewrite over that encoding — JVM-side, no UDFs.  SPARQL
# type errors (e.g. LANG of an IRI) surface as NULL, which drops the row in
# FILTER — the spec's effective-boolean-value behavior.
# (?s): '.' must span newlines — literal lexical forms may be multi-line
# (the P_TEXT invariant stores raw turn text verbatim); term strings always
# end in '"', '@tag' or '>', so the greedy match still stops at the closing
# quote of the lexical form.
_LEX_RE = "'(?s)^\"(.*)\"'"                   # group 1 = literal lexical form
_LANG_RE = "'@([A-Za-z0-9-]+)$'"              # group 1 = language tag
_DT_RE = r"'\\^\\^<([^>]*)>$'"                # group 1 = datatype IRI
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def _is_lit(a: str) -> str:
    return f"substr({a}, 1, 1) = '\"'"


def _t_str(a: list[str]) -> str:
    return (f"(CASE WHEN {_is_lit(a[0])} "
            f"THEN regexp_extract({a[0]}, {_LEX_RE}, 1) ELSE {a[0]} END)")


def _t_lang(a: list[str]) -> str:
    return (f"(CASE WHEN {_is_lit(a[0])} "
            f"THEN regexp_extract({a[0]}, {_LANG_RE}, 1) END)")


def _t_datatype(a: list[str]) -> str:
    dt = f"regexp_extract({a[0]}, {_DT_RE}, 1)"
    lang = f"regexp_extract({a[0]}, {_LANG_RE}, 1)"
    return (f"(CASE WHEN {_is_lit(a[0])} THEN "
            f"(CASE WHEN {dt} != '' THEN {dt} "
            f"WHEN {lang} != '' THEN '{_RDF_LANGSTRING}' "
            f"ELSE '{_XSD_STRING}' END) END)")


def _t_lang_matches(a: list[str]) -> str:
    tag, rng = a[0], a[1]
    return (f"(CASE WHEN {rng} = '*' THEN {tag} != '' "
            f"ELSE lower({tag}) = lower({rng}) "
            f"OR startswith(lower({tag}), concat(lower({rng}), '-')) END)")


def _t_strbefore(a: list[str]) -> str:
    s, m = a[0], a[1]
    return (f"(CASE WHEN instr({s}, {m}) > 0 "
            f"THEN substr({s}, 1, instr({s}, {m}) - 1) ELSE '' END)")


def _t_strafter(a: list[str]) -> str:
    s, m = a[0], a[1]
    return (f"(CASE WHEN instr({s}, {m}) > 0 "
            f"THEN substr({s}, instr({s}, {m}) + length({m})) ELSE '' END)")


def _num_agg(fn: str):
    """SUM/AVG apply XSD numeric semantics to each term (non-numeric terms
    become NULL and are ignored by the aggregate, per SPARQL's
    error-skipping Aggregate definition)."""
    def t(a: list[str]) -> str:
        arg = a[0]
        distinct = ""
        if arg.upper().startswith("DISTINCT "):
            distinct, arg = "DISTINCT ", arg[len("DISTINCT "):]
        return f"{fn}({distinct}{_num_sql(arg)})"
    return t


# builtin -> (min_args, max_args, template) — expanded by _expand_templates
_TEMPLATE_FN: dict = {
    "STR": (1, 1, _t_str),
    "LANG": (1, 1, _t_lang),
    "DATATYPE": (1, 1, _t_datatype),
    "LANGMATCHES": (2, 2, _t_lang_matches),
    "BOUND": (1, 1, lambda a: f"({a[0]} IS NOT NULL)"),
    "SAMETERM": (2, 2, lambda a: f"({a[0]} = {a[1]})"),
    "ISLITERAL": (1, 1, lambda a: f"({_is_lit(a[0])})"),
    "ISBLANK": (1, 1, lambda a: f"(substr({a[0]}, 1, 2) = '_:')"),
    "ISIRI": (1, 1, lambda a: (
        f"(CASE WHEN {a[0]} IS NOT NULL THEN NOT {_is_lit(a[0])} "
        f"AND substr({a[0]}, 1, 2) != '_:' END)")),
    "ISNUMERIC": (1, 1, lambda a: f"({_num_sql(a[0])} IS NOT NULL)"),
    "STRBEFORE": (2, 2, _t_strbefore),
    "STRAFTER": (2, 2, _t_strafter),
    "SUM": (1, 1, _num_agg("sum")),
    "AVG": (1, 1, _num_agg("avg")),
    # deterministic witness: min is a valid SAMPLE and reproducible
    "SAMPLE": (1, 1, lambda a: f"min({a[0]})"),
}
_TEMPLATE_FN["ISURI"] = _TEMPLATE_FN["ISIRI"]


def _numeric_rewrite(parts: list[tuple]) -> list[tuple]:
    """var CMP numeric-constant (either side) -> XSD numeric comparison."""
    out = [sql for _, sql, _ in parts]
    for i, (k, _, _) in enumerate(parts):
        if k != "cmp" or not 0 < i < len(parts) - 1:
            continue
        (lk, lsql, _), (rk, _, ralt) = parts[i - 1], parts[i + 1]
        if lk == "var" and rk == "num":
            out[i - 1] = _num_sql(lsql)
            out[i + 1] = ralt
        elif lk == "num" and rk == "var":
            out[i - 1] = parts[i - 1][2]
            out[i + 1] = _num_sql(parts[i + 1][1])
    return [(k, o, alt) for (k, _, alt), o in zip(parts, out)]


def _split_args(inner: list[tuple]) -> list[list[tuple]]:
    """Split a template call's body at top-level commas (and GROUP_CONCAT's
    ';' — same separator level)."""
    args: list[list[tuple]] = []
    cur: list[tuple] = []
    depth = 0
    for p in inner:
        if p[1] == "(":
            depth += 1
        elif p[1] == ")":
            depth -= 1
        if depth == 0 and p[1] in (",", ";"):
            args.append(cur)
            cur = []
        else:
            cur.append(p)
    if cur or args:
        args.append(cur)
    return args


def _expand_templates(parts: list[tuple]) -> list[tuple]:
    """Expand _TEMPLATE_FN / GROUP_CONCAT calls into single SQL tokens.

    Args are recursively expanded and get their own numeric-comparison
    rewrite (so e.g. ``IF(?x > 5, ...)`` compares numerically inside the
    template too)."""
    out: list[tuple] = []
    i = 0
    while i < len(parts):
        k, sql, _ = parts[i]
        is_tfn = k == "tfn"
        if is_tfn and not (i + 1 < len(parts) and parts[i + 1][1] == "("):
            raise ValueError(f"builtin {sql} needs an argument list")
        if is_tfn:
            depth, j = 0, i + 1
            while True:
                if j >= len(parts):
                    raise ValueError(f"unbalanced ( after {sql}")
                if parts[j][1] == "(":
                    depth += 1
                elif parts[j][1] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            raw_args = _split_args(_expand_templates(parts[i + 2:j]))
            args = [" ".join(p[1] for p in _numeric_rewrite(a)).strip()
                    for a in raw_args]
            if sql == "GROUP_CONCAT":
                out.append(("tok", _group_concat_sql(args), None))
            else:
                lo, hi, tmpl = _TEMPLATE_FN[sql]
                if not lo <= len(args) <= hi:
                    raise ValueError(
                        f"{sql} takes {lo}-{hi} args, got {len(args)}")
                out.append(("tok", tmpl(args), None))
            i = j + 1
        else:
            out.append(parts[i])
            i += 1
    return out


def _group_concat_sql(args: list[str]) -> str:
    """GROUP_CONCAT(expr [; SEPARATOR = "s"]) — concatenation in SORTED
    term order: SPARQL leaves the order implementation-defined, and sorted
    is the deterministic choice a distributed engine can reproduce."""
    sep = "' '"
    if len(args) == 2:
        m = re.match(r"(?i)^SEPARATOR\s*=\s*(.+)$", args[1])
        if not m:
            raise ValueError(f"bad GROUP_CONCAT modifier: {args[1]!r}")
        sep = m.group(1).strip()
    elif len(args) != 1:
        raise ValueError("GROUP_CONCAT takes expr [; SEPARATOR = lit]")
    return f"array_join(sort_array(collect_list({args[0]})), {sep})"


class _Parser:
    def __init__(self, q: str):
        self.toks = _tokenize(q)
        self.i = 0
        self.base: str | None = None
        self.prefixes: dict[str, str] = {}
        self._fresh = 0      # fresh-variable counter for path desugaring
        # Fresh-variable prefix uniquified against the query's ACTUAL
        # variables (ADVICE r4: a user-written ?_path1 must neither collide
        # with a desugaring variable nor be silently dropped).
        user_vars = {v[1:] for k, v in self.toks if k == "var"}
        prefix = "_path"
        while any(u.startswith(prefix) for u in user_vars):
            prefix += "_"
        self._fresh_prefix = prefix
        self.fresh_vars: set[str] = set()

    # -- token helpers ------------------------------------------------------
    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect_word(self, word: str):
        k, v = self.next()
        if v.upper() != word:
            raise ValueError(f"expected {word}, got {v!r}")

    def _at_subquery(self, off: int) -> bool:
        """Is the token at lookahead ``off`` the SELECT of a sub-query?"""
        j = self.i + off
        return (j < len(self.toks) and self.toks[j][0] in ("word", "pname")
                and self.toks[j][1].upper() == "SELECT")

    def at_word(self, word: str) -> bool:
        k, v = self.peek()
        return k in ("word", "pname") and v.upper() == word

    # -- term mapping -------------------------------------------------------
    def _resolve_iri(self, raw: str) -> str:
        iri = raw[1:-1]
        if self.base and ":" not in iri.split("/")[0]:
            return self.base.rstrip("/") + "/" + iri.lstrip("/")
        return iri

    def term(self, kind: str, v: str) -> str:
        if kind == "iri":
            return self._resolve_iri(v)
        if kind == "lit":
            if v.startswith("'"):  # normalize to the canonical "-delimited form
                body_end = v.rfind("'")
                body = v[1:body_end].replace("\\'", "'").replace('"', '\\"')
                v = f'"{body}"' + v[body_end + 1:]
            return v
        if kind in ("var", "blank"):
            return v
        if kind == "pname":
            pfx, local = v.split(":", 1)
            if pfx not in self.prefixes:
                raise ValueError(f"unknown prefix {pfx!r}")
            return self.prefixes[pfx] + local
        if kind == "word" and v == "a":
            return RDF_TYPE
        if kind == "num":
            # SPARQL numeric-literal shorthand: 5 = "5"^^xsd:integer,
            # 5.5 = "5.5"^^xsd:decimal
            dt = "decimal" if "." in v else "integer"
            return f'"{v}"^^<http://www.w3.org/2001/XMLSchema#{dt}>'
        raise ValueError(f"unexpected term {v!r}")

    # -- grammar ------------------------------------------------------------
    def parse(self) -> Query:
        while True:
            if self.at_word("BASE"):
                self.next()
                k, v = self.next()
                assert k == "iri", "BASE needs an <iri>"
                self.base = v[1:-1]
            elif self.at_word("PREFIX"):
                self.next()
                k, v = self.next()
                assert k == "pname" and v.endswith(":"), "PREFIX needs pfx:"
                k2, v2 = self.next()
                assert k2 == "iri", "PREFIX needs an <iri>"
                self.prefixes[v[:-1]] = v2[1:-1]
            else:
                break
        form = "select"
        select = [("*", None)]
        template = None
        distinct = False
        if self.at_word("ASK"):
            self.next()
            form = "ask"
        elif self.at_word("CONSTRUCT"):
            self.next()
            template = self._pattern_block()
            if not template:
                raise ValueError("CONSTRUCT needs a non-empty template")
            form = "construct"
        elif self.at_word("DESCRIBE"):
            # DESCRIBE <r>+ — no WHERE form (the S??/??O union per resource)
            self.next()
            describe = []
            while self.peek()[0] in ("iri", "pname"):
                describe.append(self.term(*self.next()))
            if not describe:
                raise ValueError("DESCRIBE needs at least one <iri>")
            if self.peek()[0] != "eof":
                raise ValueError("DESCRIBE supports a plain resource list")
            return Query(select=select, arms=[], form="describe",
                         describe=describe)
        else:
            self.expect_word("SELECT")
            # REDUCED permits any duplicate multiplicity between none and
            # DISTINCT (W3C 18.2.5.2.2); evaluating it AS DISTINCT is a
            # conformant choice and the deterministic one.
            if self.at_word("DISTINCT") or self.at_word("REDUCED"):
                self.next()
                distinct = True
            select = self._select_list()
        if self.at_word("WHERE"):
            self.next()
        arms = self._group()
        q = Query(select=select, arms=arms, distinct=distinct, form=form,
                  template=template,
                  hidden_vars=frozenset(self.fresh_vars))
        self._modifiers(q)
        if self.peek()[0] != "eof":
            raise ValueError(f"unexpected trailing token {self.peek()[1]!r}")
        return q

    def _parse_select_body(self) -> Query:
        """A sub-SELECT (positioned AT the SELECT keyword), parsed through
        its own solution modifiers; the caller consumes the closing brace."""
        self.expect_word("SELECT")
        distinct = False
        if self.at_word("DISTINCT") or self.at_word("REDUCED"):
            self.next()
            distinct = True
        select = self._select_list()
        if self.at_word("WHERE"):
            self.next()
        arms = self._group()
        q = Query(select=select, arms=arms, distinct=distinct,
                  hidden_vars=frozenset(self.fresh_vars))
        self._modifiers(q)
        return q

    def _modifiers(self, q: Query) -> None:
        """GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET tail — shared by
        the top-level query and sub-SELECTs (which stop at their brace)."""
        while True:
            if self.at_word("GROUP"):
                self.next()
                self.expect_word("BY")
                while self.peek()[0] == "var":
                    q.group_by.append(self.next()[1][1:])
                if not q.group_by:
                    raise ValueError("GROUP BY needs at least one ?var")
            elif self.at_word("HAVING"):
                self.next()
                sql, _ = self._read_paren_sql()
                q.having.append(sql)
            elif self.at_word("ORDER"):
                self.next()
                self.expect_word("BY")
                while True:
                    k, v = self.peek()
                    if k == "var":
                        self.next()
                        q.order_by.append((v[1:], False))
                    elif k in ("word",) and v.upper() in ("ASC", "DESC"):
                        desc = v.upper() == "DESC"
                        self.next()
                        assert self.next()[0] == "lparen"
                        kv, vv = self.next()
                        assert kv == "var"
                        assert self.next()[0] == "rparen"
                        q.order_by.append((vv[1:], desc))
                    else:
                        break
            elif self.at_word("LIMIT"):
                self.next()
                q.limit = int(self.next()[1])
            elif self.at_word("OFFSET"):
                self.next()
                q.offset = int(self.next()[1])
            else:
                # top level: parse() raises unless at eof; subquery: the
                # caller validates the closing brace
                break

    def _select_list(self) -> list[tuple[str, str | None]]:
        out: list[tuple[str, str | None]] = []
        while True:
            k, v = self.peek()
            if k == "var":
                self.next()
                out.append((v[1:], None))
            elif k == "other" and v == "*":
                self.next()
                return [("*", None)]
            elif k == "lparen":
                out.append(self._expr_as())
            else:
                break
        if not out:
            raise ValueError("empty SELECT list")
        return out

    def _expr_as(self) -> tuple[str, str]:
        """( expr AS ?var ) — expr is re-serialized as Spark SQL with
        ?var -> var; Catalyst parses/evaluates it (CONCAT, arithmetic...)."""
        sql, var = self._read_paren_sql(allow_as=True)
        if var is None:
            raise ValueError("projection expression missing AS ?var")
        return (var, sql)

    def _read_paren_sql(self, allow_as: bool = False) -> tuple[str, str | None]:
        """Read a balanced '(...)' group and re-serialize it as Spark SQL:
        ?var -> `var`, SPARQL builtins mapped (_SPARQL_FN), &&/||/! ->
        AND/OR/NOT.  Shared by projection expressions, FILTER and BIND.

        Operator mapping happens PER TOKEN while serializing — multi-char
        operators ('&&', '!=', '<=', '>=') arrive as consecutive single-char
        'other' tokens and are merged by peeking the next token.  Literal
        token bodies are never rewritten, so a constant like
        ``"hello!"`` or ``"a && b"`` survives verbatim (string replacement
        over the joined SQL mangled exactly these).

        NUMERIC comparisons (VERDICT r4 next #3): a direct comparison of a
        ?var against a numeric constant — a bare number or an xsd numeric
        typed literal — applies XSD numeric semantics, not term-string
        order: the var side becomes ``try_cast`` of the typed literal's
        lexical form (NULL for non-numeric terms, so those rows drop out of
        FILTER, per SPARQL's type-error semantics) and the constant side its
        plain numeric value.  Everything else keeps canonical-term-string
        comparison (IRIs, plain literals — the reference delegates the full
        operator table to spareval the same way, src/sparql.rs:45-83).
        """
        assert self.next()[0] == "lparen"
        depth = 1
        # (kind, sql, alt): kind tags the rewrite pass; alt carries a
        # numeric typed literal's plain value
        parts: list[tuple[str, str, str | None]] = []
        var = None
        while depth > 0:
            k, v = self.next()
            if k == "eof":
                raise ValueError("unbalanced ( in expression")
            if k == "lparen":
                depth += 1
                parts.append(("tok", "(", None))
            elif k == "rparen":
                depth -= 1
                if depth > 0:
                    parts.append(("tok", ")", None))
            elif allow_as and k in ("word", "pname") and v.upper() == "AS" and depth == 1:
                kv, vv = self.next()
                assert kv == "var", "AS needs ?var"
                var = vv[1:]
            elif k == "var":
                parts.append(("var", f"`{v[1:]}`", None))
            elif k == "num":
                parts.append(("num", v, v))
            elif k == "lit":
                numval = _numeric_lit_value(v)
                if v.startswith('"'):  # Spark SQL string literals are '-quoted
                    body_end = v.rfind('"')
                    body = v[1:body_end].replace("'", "\\'")
                    v = f"'{body}'" + v[body_end + 1:]
                parts.append(("num" if numval is not None else "tok",
                              v, numval))
            elif k == "iri":
                # IRI constant in an expression -> the canonical term string
                # (bare IRI) as a SQL string literal, so FILTER(?x = <iri>)
                # compares against the solution column's encoding
                parts.append(("tok", _sql_str(self._resolve_iri(v)), None))
            elif k == "word" and v.upper() in _SPARQL_FN:
                parts.append(("tok", _SPARQL_FN[v.upper()], None))
            elif k == "word" and (v.upper() in _TEMPLATE_FN
                                  or v.upper() == "GROUP_CONCAT"):
                parts.append(("tfn", v.upper(), None))
            elif k == "pname":
                # prefixed name constant -> canonical IRI string literal
                parts.append(("tok", _sql_str(self.term("pname", v)), None))
            elif k == "dot":
                parts.append(("tok", ".", None))
            elif k == "other":
                nk, nv = self.peek()
                if v in ("&", "|") and (nk, nv) == ("other", v):
                    self.next()
                    parts.append(("tok", "AND" if v == "&" else "OR", None))
                elif v in ("!", "<", ">") and (nk, nv) == ("other", "="):
                    self.next()
                    parts.append(("cmp", v + "=", None))
                elif v == "!":
                    parts.append(("tok", "NOT", None))
                elif v in ("<", ">", "="):
                    parts.append(("cmp", v, None))
                else:
                    parts.append(("tok", v, None))
            else:
                parts.append(("tok", v, None))
        # rewrite passes: builtin templates, then var CMP numeric-constant
        parts = _numeric_rewrite(_expand_templates(parts))
        return " ".join(sql for _, sql, _ in parts), var

    def _group(self) -> list[Group]:
        """-> list of UNION arms, each a full (possibly nested) Group.

        Property-path alternatives (``p1|p2``) desugar into EXTRA arms (the
        group is copied per alternative combination), so the downstream
        evaluator only ever sees plain triple patterns plus symbolic
        ``PlusPath`` markers."""
        assert self.next()[0] == "lbrace", "expected {"
        if self.peek()[0] == "lbrace" and not self._at_subquery(1):
            # { group } UNION { group } ...
            arms = self._group()
            while self.at_word("UNION"):
                self.next()
                arms += self._group()
            assert self.next()[0] == "rbrace", "expected }"
            return arms
        g = Group()
        variants: list[list] = [[]]   # pattern-list alternatives
        while self.peek()[0] != "rbrace":
            if self.at_word("FILTER"):
                self.next()
                if self.at_word("EXISTS"):
                    self.next()
                    g.exists_filters.append((True, self._group()))
                elif self.at_word("NOT"):
                    self.next()
                    self.expect_word("EXISTS")
                    g.exists_filters.append((False, self._group()))
                else:
                    sql, _ = self._read_paren_sql()
                    g.filters.append(sql)
            elif self.peek()[0] == "lbrace":
                if not self._at_subquery(1):
                    raise ValueError(
                        "a nested { } inside a group must be a subquery "
                        "({ SELECT ... }); plain nested groups are "
                        "supported as UNION arms / OPTIONAL / MINUS bodies")
                self.next()
                g.subqueries.append(self._parse_select_body())
                assert self.next()[0] == "rbrace", "subquery needs }"
            elif self.at_word("OPTIONAL"):
                self.next()
                g.optionals.append(self._group())
            elif self.at_word("MINUS"):
                self.next()
                g.minuses.append(self._group())
            elif self.at_word("BIND"):
                self.next()
                sql, var = self._read_paren_sql(allow_as=True)
                if var is None:
                    raise ValueError("BIND needs (expr AS ?var)")
                g.binds.append((var, sql))
            elif self.at_word("VALUES"):
                self.next()
                g.values.append(self._values_block())
            else:
                s = self.term(*self.next())
                if self.peek()[0] == "var":
                    alts = [[(s, self.term(*self.next()),
                              self.term(*self.next()))]]
                else:
                    path = self._path_expr()
                    o = self.term(*self.next())
                    alts = self._desugar_path(s, path, o)
                variants = [v + alt for v in variants for alt in alts]
            if self.peek()[0] == "dot":
                self.next()
        self.next()  # rbrace
        g.patterns = variants[0]
        if len(variants) == 1:
            return [g]
        from dataclasses import replace
        return [g] + [replace(g, patterns=v) for v in variants[1:]]

    # -- property paths (SPARQL 1.1 subset: iri, ^, /, |, +) ----------------

    def _path_expr(self):
        left = self._path_seq()
        while self.peek() == ("other", "|"):
            self.next()
            left = ("alt", left, self._path_seq())
        return left

    def _path_seq(self):
        left = self._path_unary()
        while self.peek() == ("other", "/"):
            self.next()
            left = ("seq", left, self._path_unary())
        return left

    def _path_unary(self):
        k, v = self.peek()
        if (k, v) == ("other", "!"):
            self.next()
            node = self._negated_set()
        elif (k, v) == ("other", "^"):
            self.next()
            node = ("inv", self._path_unary())
        elif k == "lparen":
            self.next()
            node = self._path_expr()
            assert self.next()[0] == "rparen", "property path needs )"
        else:
            node = ("iri", self.term(*self.next()))
        while self.peek() in (("other", "+"), ("other", "*"), ("other", "?")):
            _, sym = self.next()
            node = ({"+": "plus", "*": "star", "?": "opt"}[sym], node)
        return node

    def _negated_set(self):
        """!iri | !^iri | !(iri|^iri|...) -> ("negset", fwd, inv)."""
        fwd, inv = [], []

        def one():
            if self.peek() == ("other", "^"):
                self.next()
                inv.append(self.term(*self.next()))
            else:
                fwd.append(self.term(*self.next()))

        if self.peek()[0] == "lparen":
            self.next()
            one()
            while self.peek() == ("other", "|"):
                self.next()
                one()
            assert self.next()[0] == "rparen", "negated set needs )"
        else:
            one()
        return ("negset", tuple(fwd), tuple(inv))

    def _desugar_path(self, s, node, o) -> list[list]:
        def fresh() -> str:
            self._fresh += 1
            v = f"?{self._fresh_prefix}{self._fresh}"
            self.fresh_vars.add(v[1:])
            return v

        return _desugar(node, s, o, fresh)

    def _pattern_block(self) -> list[tuple[str, str, str]]:
        """{ (term term term .?)* } — the CONSTRUCT template."""
        assert self.next()[0] == "lbrace", "expected {"
        out = []
        while self.peek()[0] != "rbrace":
            s = self.term(*self.next())
            p = self.term(*self.next())
            o = self.term(*self.next())
            out.append((s, p, o))
            if self.peek()[0] == "dot":
                self.next()
        self.next()
        return out

    def _values_block(self) -> tuple[list[str], list[tuple]]:
        """VALUES ?v { t... } | VALUES (?v1 ?v2) { (t1 t2) ... } with UNDEF.

        Rows are canonical term strings; ``None`` marks UNDEF (that row
        leaves the variable unconstrained)."""
        k, v = self.next()
        if k == "var":
            vars_ = [v[1:]]
            single = True
        elif k == "lparen":
            vars_ = []
            while self.peek()[0] == "var":
                vars_.append(self.next()[1][1:])
            assert self.next()[0] == "rparen", "VALUES var list needs )"
            single = False
        else:
            raise ValueError("VALUES needs ?var or (?var ...)")
        if not vars_:
            raise ValueError("VALUES needs at least one ?var")
        assert self.next()[0] == "lbrace", "VALUES needs { data }"
        rows: list[tuple] = []
        while self.peek()[0] != "rbrace":
            if single:
                rows.append((self._values_term(),))
            else:
                assert self.next()[0] == "lparen", "VALUES row needs ("
                row = []
                while self.peek()[0] != "rparen":
                    row.append(self._values_term())
                self.next()
                if len(row) != len(vars_):
                    raise ValueError("VALUES row arity mismatch")
                rows.append(tuple(row))
        self.next()
        return vars_, rows

    def _values_term(self) -> str | None:
        if self.at_word("UNDEF"):
            self.next()
            return None
        return self.term(*self.next())


def _desugar(node, s, o, fresh) -> list[list]:
    """(s, path-AST, o) -> pattern-list ALTERNATIVES: ``/`` introduces a
    fresh join variable (via ``fresh()``), ``^`` swaps subject/object,
    ``|`` multiplies alternatives, ``!(…)`` stays symbolic (NegSet);
    ``+``/``*``/``?`` stay symbolic (PlusPath/StarPath/OptPath) for the
    evaluator's distributed closure — over a single (optionally inverted)
    IRI by ``iri`` (ID-level iteration) or any composite inner by ``node``
    (string-pair iteration over a BGP-compiled edge relation).  Everything
    else rides the ID-level BGP compiler unchanged.  Shared by the parser
    and the composite-closure evaluator (_composite_pairs)."""
    kind = node[0]
    if kind == "iri":
        return [[(s, node[1], o)]]
    if kind == "negset":
        return [[(s, NegSet(node[1], node[2]), o)]]
    if kind == "inv":
        return _desugar(node[1], o, s, fresh)
    if kind == "alt":
        return _desugar(node[1], s, o, fresh) + _desugar(node[2], s, o, fresh)
    if kind == "seq":
        mid = fresh()
        return [l + r for l in _desugar(node[1], s, mid, fresh)
                for r in _desugar(node[2], mid, o, fresh)]
    if kind in ("plus", "star", "opt"):
        wrap = {"plus": PlusPath, "star": StarPath, "opt": OptPath}[kind]
        inner = node[1]
        if inner[0] == "iri":
            return [[(s, wrap(inner[1]), o)]]
        if inner[0] == "inv" and inner[1][0] == "iri":
            return [[(o, wrap(inner[1][1]), s)]]
        return [[(s, wrap(node=inner), o)]]
    raise ValueError(f"unsupported property path {node!r}")


def parse(q: str) -> Query:
    return _Parser(q).parse()


# Step cap for `p+`/`p*` closures: a cycle-safe upper bound on the graph's
# diameter (a chain of exactly CLOSURE_MAX_ITERS edges closes, one more edge
# raises).  Read at CALL time, not bound as a default, so a caller facing a
# deeper graph can raise it per query:
#     sparql_parser.CLOSURE_MAX_ITERS = 256
CLOSURE_MAX_ITERS = 64

# Bytes per accumulator column in the broadcast size estimate: every
# closure iterates on 8-byte ids.
_ID_BYTES = 8


def _closure_base_ids(kg: KG, pid: int) -> DataFrame:
    """Edge relation of predicate ``pid`` as ID pairs from the PSO
    projection: (a = subject-space id, b = object-space id).  The pruned
    p-filter scan is the same route as Q6 (?P?); no strings anywhere."""
    return kg.pso.filter(F.col("p") == pid).select(
        F.col("s").alias("a"), F.col("o").alias("b"))


def closure_step(frontier: DataFrame, base: DataFrame, acc: DataFrame,
                 acc_rows: int, n_shared: int | None = None) -> DataFrame:
    """One semi-naive step on 8-byte ids: walk one ``base`` edge from each
    frontier row's node ``b``, dedup, and drop what the accumulator ``acc``
    (``acc_rows`` rows) already holds.  The frontier is (a, b) origin/node
    pairs (full closure) or a bare node column ``b`` (seeded walk); the
    result has the frontier's columns.  The plan is locked in
    tests/test_plans.py.

    ``acc`` is a union of checkpointed generations, which carry no size
    statistics, so Spark would plan a sort-merge anti-join that re-shuffles
    the whole accumulator every step.  Its exact size is known here: while
    ``acc_rows`` x row width fits ``spark.sql.autoBroadcastJoinThreshold``
    the anti-join broadcasts it, and the frontier dedup is the step's only
    exchange.  Above the threshold (or at -1) Spark plans as it would.

    ``n_shared`` guards per-role ids: a walk continues from an object-space
    id through a subject-space id of equal value only in the shared section
    (ids collide numerically above ``n_shared``; a term occurring as both
    subject and object is shared, with one id).  Global node ids need no
    guard (None)."""
    f, e = frontier, base
    if n_shared is not None:
        f = f.filter(F.col("b") <= n_shared)
        e = e.filter(F.col("a") <= n_shared)
    carry = ["a"] if "a" in frontier.columns else []
    new = (f.select(*[F.col(c).alias("_fa") for c in carry],
                    F.col("b").alias("_n"))
           .join(e, F.col("_n") == F.col("a"))
           .select(*[F.col("_fa").alias(c) for c in carry], "b").distinct())
    threshold = (acc.sparkSession._jsparkSession.sessionState().conf()
                 .autoBroadcastJoinThreshold())
    if 0 <= acc_rows * _ID_BYTES * len(frontier.columns) <= threshold:
        acc = F.broadcast(acc)
    return new.join(acc, frontier.columns, "left_anti")


def closure(base: DataFrame, seed: int | None = None, backward: bool = False,
            n_shared: int | None = None) -> DataFrame:
    """The one-or-more transitive closure of the id edge relation ``base``
    (a, b) — the single semi-naive loop behind every ``p+``/``p*``/
    ``(path)+`` evaluation.

    Unseeded -> all (a, b) pairs.  Seeded -> the set of nodes reachable from
    ``seed`` as one column ``b`` (a BFS whose frontier stays result-sized);
    ``backward`` walks the edges in reverse, so ``b`` then holds the nodes
    that reach ``seed``.  ``n_shared``: see ``closure_step``.

    Generation 0 is the edge set (or the seed's out-edges); each step derives
    the next generation from the last one only (``closure_step``).  A step
    is exactly ONE Spark action: an eager ``localCheckpoint`` of the new
    generation, whose row count rides the same job through ``df.observe``.
    The accumulator is the union of the checkpointed generations; each is a
    plan leaf, so the plan grows linearly rather than doubling, and the
    observed counts size the accumulator for ``closure_step``'s broadcast
    rule.  Checkpointed blocks are reclaimed by the ContextCleaner once the
    returned DataFrame is garbage-collected (on a cluster a reliable
    checkpoint dir would replace localCheckpoint for executor-loss
    tolerance).  The loop ends when a generation is empty (cycle-safe: the
    anti-join never re-derives a known row) and raises, naming the step and
    the observed row counts, once generation ``CLOSURE_MAX_ITERS`` is still
    not."""
    from pyspark.sql import Observation

    max_iters = CLOSURE_MAX_ITERS
    if backward:
        base = base.select(F.col("b").alias("a"), F.col("a").alias("b"))
    new = (base if seed is None
           else base.filter(F.col("a") == seed).select("b")).distinct()
    gens: list[DataFrame] = []
    total = 0
    for step in range(max_iters + 1):
        obs = Observation()
        gen = new.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        n = obs.get["n"]
        if n == 0:
            break
        gens.append(gen)
        total += n
        if step == max_iters:
            raise ValueError(
                f"path closure still growing at step {step}: last frontier "
                f"{n} rows, {total} rows accumulated (raise "
                f"sparql_parser.CLOSURE_MAX_ITERS, now {max_iters})")
        new = closure_step(gen, base, _union(gens), total, n_shared)
    return _union(gens) if gens else gen


def _union(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionAll(df)
    return out


def _composite_pairs(kg: KG, node) -> DataFrame:
    """The edge relation of a composite path AST as STRING pairs (a, b).

    Each desugared alternative compiles through the ID-level BGP joiner
    (``bgp`` — pruned projection scans, result-only translation).  Used by
    the SINGLE-STEP composite arms (``(path)?``, both-bound probes), which
    are edge-relation-sized anyway; closures iterate on global node IDs
    instead (``_composite_pairs_ids``)."""
    from . import sparql as bgp_mod

    n = [0]

    def fresh() -> str:
        n[0] += 1
        return f"?__cp{n[0]}"

    parts = []
    for patterns in _desugar(node, "?__ca", "?__cb", fresh):
        if any(not isinstance(p[1], str) for p in patterns):
            raise ValueError(
                "nested closure/negated set inside a closed path is not "
                "supported")
        df = bgp_mod.bgp(kg, patterns)
        parts.append(df.select(F.col("__ca").alias("a"),
                               F.col("__cb").alias("b")))
    return _union(parts).distinct()


def _node_global_expr(col: str, space: str, n_shared: int, n_subj: int):
    """Map an s-/o-/shared-space id column to the GLOBAL node-ID space.

    Global ids: shared terms keep 1..n_shared, subject-only terms keep
    n_shared+1..n_shared+n_subj, object-only ids shift up by n_subj — a
    pure arithmetic bijection to term identity, so global-id equality ⇔
    term equality with NO dictionary join and no shared-section guard.
    """
    if space in ("s", "shared"):
        return F.col(col)
    assert space == "o", space
    return (F.when(F.col(col) <= n_shared, F.col(col))
            .otherwise(F.col(col) + n_subj))


def _composite_pairs_ids(kg: KG, node) -> DataFrame:
    """The edge relation of a composite path AST as GLOBAL-node-ID pairs
    (a, b) — 8-byte rows for the closure iteration (VERDICT r5 next #4:
    the r5 composite closure iterated on canonical term strings, paying
    ~10x-wider shuffles per step than the ids need).

    Each desugared alternative compiles through the ID-level BGP joiner
    (``bgp_ids`` — pruned projection scans, NO translation); its two
    endpoint columns are then mapped into the global node-ID space, which
    makes ids comparable across alternatives that bound the endpoints in
    different ID spaces (e.g. a forward arm ending o-space unioned with an
    inverse arm ending s-space).  Built ONCE per closure."""
    from . import sparql as bgp_mod

    spark = kg.spo.sparkSession
    n_shared, n_subj = kg.dict.n_shared, kg.dict.n_subjects
    n = [0]

    def fresh() -> str:
        n[0] += 1
        return f"?__cp{n[0]}"

    parts = []
    for patterns in _desugar(node, "?__ca", "?__cb", fresh):
        if any(not isinstance(p[1], str) for p in patterns):
            raise ValueError(
                "nested closure/negated set inside a closed path is not "
                "supported")
        compiled = bgp_mod.bgp_ids(kg, patterns)
        if compiled is None:      # unknown constant: provably empty arm
            continue
        ids_df, space = compiled
        parts.append(ids_df.select(
            _node_global_expr("__ca", space["__ca"], n_shared, n_subj)
            .alias("a"),
            _node_global_expr("__cb", space["__cb"], n_shared, n_subj)
            .alias("b")))
    if not parts:
        return spark.createDataFrame([], "a long, b long")
    return _union(parts).distinct()


def _node_global_dict(kg: KG) -> tuple[DataFrame, int]:
    """(term, id) over the global node-ID space, with its term count."""
    d = kg.dict
    shift = d.n_shared + d.n_subjects
    nd = d.subj_global.unionAll(
        d.objects.select("term", (F.col("id") + shift).alias("id")))
    return nd, shift + d.n_objects


def _translate_node_global(kg: KG, ids_df: DataFrame) -> DataFrame:
    """Translate every column of ``ids_df`` (global node ids) to term
    strings — broadcast under the cap, SHUFFLE_HASH above it (same policy
    as query.ids_to_strings)."""
    from .encode import BROADCAST_DICT_MAX_TERMS

    nd, n_terms = _node_global_dict(kg)
    out = ids_df
    for v in ids_df.columns:
        tbl = nd.select(F.col("id").alias(v), F.col("term").alias(f"_t_{v}"))
        tbl = (F.broadcast(tbl) if n_terms < BROADCAST_DICT_MAX_TERMS
               else tbl.hint("shuffle_hash"))
        out = out.join(tbl, v)
    return out.select(*[F.col(f"_t_{v}").alias(v) for v in ids_df.columns])


def _node_global_ids(kg: KG, *terms: str) -> list[int]:
    """Terms -> global node ids in ONE point-filter job; 0 if absent."""
    nd, _ = _node_global_dict(kg)
    found = {r["term"]: r["id"]
             for r in nd.filter(F.col("term").isin(list(terms))).collect()}
    return [found.get(t, 0) for t in terms]


def _nodes_df(kg: KG) -> DataFrame:
    """The graph's node set (terms in subject or object position) as a
    one-column ``term`` DataFrame — exactly the dictionary's shared +
    subjects + objects sections (disjoint by construction, so no distinct),
    never a triple scan.  This is the domain of zero-length path arms."""
    d = kg.dict
    return (d.shared.select("term")
            .unionAll(d.subjects.select("term"))
            .unionAll(d.objects.select("term")))


def _zero_rel(kg: KG, s: str, o: str) -> DataFrame:
    """Zero-length path arm: reflexive pairs over the node set (W3C
    ZeroLengthPath — variables range over the graph's nodes; a bound
    endpoint must be a node)."""
    from pyspark.sql import functions as F

    nodes = _nodes_df(kg)
    s_var, o_var = s.startswith("?"), o.startswith("?")
    if s_var and o_var:
        if s == o:
            return nodes.select(F.col("term").alias(s[1:]))
        return nodes.select(F.col("term").alias(s[1:]),
                            F.col("term").alias(o[1:]))
    if o_var:
        return nodes.filter(F.col("term") == s).select(
            F.col("term").alias(o[1:]))
    return nodes.filter(F.col("term") == o).select(
        F.col("term").alias(s[1:]))


def _empty_rel(kg: KG, s: str, o: str) -> DataFrame:
    """An empty relation over the pattern's var columns (string terms), in
    the (s, o) order a non-empty one has."""
    cols = list(dict.fromkeys(t[1:] for t in (s, o) if t.startswith("?")))
    return kg.spo.sparkSession.createDataFrame(
        [], ", ".join(f"`{v}` string" for v in cols))


def _plus_rel_composite(kg: KG, s: str, node, o: str) -> DataFrame:
    """``(composite)+`` closure relation with >=1 free endpoint.

    The edge relation is BGP-compiled to GLOBAL node-ID pairs
    (``_composite_pairs_ids``; global-id equality is term equality, so the
    loop needs no guard) and closed by ``closure``; translation to term
    strings happens ONCE on the result."""
    base = _composite_pairs_ids(kg, node)
    s_var, o_var = s.startswith("?"), o.startswith("?")
    if s_var and o_var:
        pairs = closure(base)
        if s == o:
            ids = (pairs.filter(F.col("a") == F.col("b"))
                   .select(F.col("a").alias(s[1:])))
            return _translate_node_global(kg, ids)
        return _translate_node_global(
            kg, pairs.select(F.col("a").alias(s[1:]),
                             F.col("b").alias(o[1:])))
    seed_term, out = (s, o) if o_var else (o, s)
    (seed,) = _node_global_ids(kg, seed_term)
    if not seed:
        return _empty_rel(kg, s, o)
    ids = closure(base, seed=seed, backward=not o_var)
    return _translate_node_global(kg, ids.select(F.col("b").alias(out[1:])))


def _plus_rel(kg: KG, s: str, iri: str, o: str) -> DataFrame:
    """The ``p+`` closure relation with >=1 free endpoint, as string-named
    var columns.  The predicate and the bound endpoint resolve in one
    lookup job; the closure runs on per-role ids from the PSO projection
    (``closure`` with the shared-section guard); var columns are translated
    to term strings ONCE here, result-sized, via the same broadcast
    dictionary joins as the BGP compiler."""
    from . import sparql as bgp_mod
    from .query import _lookup_ids

    s_var, o_var = s.startswith("?"), o.startswith("?")
    sid, pid, oid = _lookup_ids(kg, None if s_var else s, iri,
                                None if o_var else o)
    if not pid or not (s_var or sid) or not (o_var or oid):
        return _empty_rel(kg, s, o)
    base, n_shared = _closure_base_ids(kg, pid), kg.dict.n_shared
    if s_var and o_var:
        pairs = closure(base, n_shared=n_shared)
        if s == o:
            # same var both ends: a reflexive closure pair — ID equality is
            # term equality only in the shared section (disjoint spaces)
            ids = (pairs.filter((F.col("a") == F.col("b"))
                                & (F.col("a") <= n_shared))
                   .select(F.col("a").alias(s[1:])))
            return bgp_mod._translate_vars(kg, ids, {s[1:]: "shared"})
        ids = pairs.select(F.col("a").alias(s[1:]), F.col("b").alias(o[1:]))
        return bgp_mod._translate_vars(kg, ids, {s[1:]: "s", o[1:]: "o"})
    # one end bound: a BFS forward from a subject-space seed (reaching
    # object-space ids) or backward from an object-space seed
    seed, out, space = (sid, o, "o") if o_var else (oid, s, "s")
    ids = closure(base, seed=seed, backward=not o_var, n_shared=n_shared)
    return bgp_mod._translate_vars(
        kg, ids.select(F.col("b").alias(out[1:])), {out[1:]: space})


def _step_rel(kg: KG, s: str, iri: str, o: str) -> DataFrame:
    """Single-step relation (the ``p?`` one-arm) — the ordinary ID-routed
    pattern query projected to the pattern's var columns."""
    from .query import triples_with_pattern

    s_var, o_var = s.startswith("?"), o.startswith("?")
    tp = triples_with_pattern(kg, s=None if s_var else s, p=iri,
                              o=None if o_var else o)
    if s_var and o_var:
        if s == o:
            return (tp.filter(F.col("s") == F.col("o"))
                    .select(F.col("s").alias(s[1:])))
        return tp.select(F.col("s").alias(s[1:]), F.col("o").alias(o[1:]))
    if o_var:
        return tp.select(F.col("o").alias(o[1:]))
    return tp.select(F.col("s").alias(s[1:]))


def _step_rel_composite(kg: KG, s: str, node, o: str) -> DataFrame:
    """Single-step relation of a composite inner (the ``(path)?`` one-arm)."""
    base = _composite_pairs(kg, node)
    s_var, o_var = s.startswith("?"), o.startswith("?")
    if s_var and o_var:
        if s == o:
            return (base.filter(F.col("a") == F.col("b"))
                    .select(F.col("a").alias(s[1:])))
        return base.select(F.col("a").alias(s[1:]), F.col("b").alias(o[1:]))
    if o_var:
        return base.filter(F.col("a") == s).select(F.col("b").alias(o[1:]))
    return base.filter(F.col("b") == o).select(F.col("a").alias(s[1:]))


def _one_arm_rel(kg: KG, s: str, marker, o: str) -> DataFrame:
    """The non-zero arm of a symbolic path marker."""
    if isinstance(marker, PlusPath):
        return (_plus_rel(kg, s, marker.iri, o) if marker.iri is not None
                else _plus_rel_composite(kg, s, marker.node, o))
    if isinstance(marker, StarPath):
        return (_plus_rel(kg, s, marker.iri, o) if marker.iri is not None
                else _plus_rel_composite(kg, s, marker.node, o))
    assert isinstance(marker, OptPath), marker
    return (_step_rel(kg, s, marker.iri, o) if marker.iri is not None
            else _step_rel_composite(kg, s, marker.node, o))


def _path_rel(kg: KG, s: str, marker, o: str) -> DataFrame:
    rel = _one_arm_rel(kg, s, marker, o)
    if isinstance(marker, PlusPath):
        return rel
    # star/opt: set semantics (W3C ALP) — dedup across the two arms; a node
    # on a cycle is a reflexive pair in BOTH arms and must appear once
    return rel.unionByName(_zero_rel(kg, s, o)).distinct()


def _node_exists(kg: KG, term: str) -> bool:
    return _nodes_df(kg).filter(F.col("term") == term).limit(1).count() > 0


def _path_hit(kg: KG, s: str, marker, o: str) -> bool:
    """Both endpoints bound: existence test.  A closure resolves its
    predicate and both endpoints in one lookup job, then runs a BFS from
    ``s`` (``closure``) and probes its result for ``o``."""
    from .query import _lookup_ids, triples_with_pattern

    if isinstance(marker, (StarPath, OptPath)) and s == o:
        if _node_exists(kg, s):
            return True
    if isinstance(marker, OptPath):
        rel = (triples_with_pattern(kg, s=s, p=marker.iri, o=o)
               if marker.iri is not None
               else _composite_pairs(kg, marker.node)
               .filter((F.col("a") == s) & (F.col("b") == o)))
        return rel.limit(1).count() > 0
    if marker.iri is None:   # composite inner: global node ids, no guard
        sid, oid = _node_global_ids(kg, s, o)
        base, n_shared = _composite_pairs_ids(kg, marker.node), None
    else:
        sid, pid, oid = _lookup_ids(kg, s, marker.iri, o)
        if not pid:
            return False
        base, n_shared = _closure_base_ids(kg, pid), kg.dict.n_shared
    return bool(sid and oid) and (
        closure(base, seed=sid, n_shared=n_shared)
        .filter(F.col("b") == oid).limit(1).count()) > 0


def _negset_arm(kg: KG, s: str, excl: tuple, o: str) -> DataFrame | bool:
    """One arm of a negated property set: edges matching the (s, o)
    endpoint bindings whose predicate is NOT in ``excl``.  ID route — bound
    endpoints resolve to ids, the scan keeps its pruned projection routing,
    the exclusion is a residual ``p NOT IN`` filter over the (few) excluded
    predicate ids, and only result rows are translated.  Returns a bool for
    the both-bound existence case."""
    from . import sparql as bgp_mod
    from .query import _lookup_ids, triple_ids_with_id_pattern

    s_var, o_var = s.startswith("?"), o.startswith("?")
    empty = _empty_rel(kg, s, o) if s_var or o_var else False

    sid, _, oid = _lookup_ids(kg, None if s_var else s, None,
                              None if o_var else o)
    if (not s_var and not sid) or (not o_var and not oid):
        return empty     # bound endpoint not in the graph
    pids = [r["id"] for r in kg.dict.predicates
            .filter(F.col("term").isin(list(excl))).collect()] if excl else []
    ids = triple_ids_with_id_pattern(kg, sid, None, oid)
    if pids:
        ids = ids.filter(~F.col("p").isin(pids))
    if not s_var and not o_var:
        return ids.limit(1).count() > 0
    if s_var and o_var:
        if s == o:
            ids = ids.filter((F.col("s") == F.col("o"))
                             & (F.col("s") <= kg.dict.n_shared))
            return bgp_mod._translate_vars(
                kg, ids.select(F.col("s").alias(s[1:])), {s[1:]: "shared"})
        return bgp_mod._translate_vars(
            kg, ids.select(F.col("s").alias(s[1:]), F.col("o").alias(o[1:])),
            {s[1:]: "s", o[1:]: "o"})
    if o_var:
        return bgp_mod._translate_vars(
            kg, ids.select(F.col("o").alias(o[1:])), {o[1:]: "o"})
    return bgp_mod._translate_vars(
        kg, ids.select(F.col("s").alias(s[1:])), {s[1:]: "s"})


def _join_negset(kg: KG, df: DataFrame | None, s: str, ns: NegSet,
                 o: str) -> DataFrame:
    """Join one negated-property-set pattern into the solutions.  Forward
    IRIs exclude predicates of forward edges; inverted IRIs exclude
    predicates of REVERSED edges; a mixed set is the union of both arms
    (W3C NegatedPropertySet)."""
    arms = []
    if ns.fwd or not ns.inv:
        arms.append(_negset_arm(kg, s, ns.fwd, o))
    if ns.inv:
        arms.append(_negset_arm(kg, o, ns.inv, s))
    if isinstance(arms[0], bool):      # both endpoints bound: existence
        hit = any(arms)
        if df is None:
            one = kg.spo.sparkSession.range(1).drop("id")
            return one if hit else one.limit(0)
        return df if hit else df.limit(0)
    rel = arms[0]
    for other in arms[1:]:
        rel = rel.unionByName(other)
    if len(arms) > 1:
        rel = rel.distinct()
    if df is None:
        return rel
    common = [c for c in df.columns if c in rel.columns]
    return df.join(rel, on=common, how="inner") if common else df.crossJoin(rel)


def _join_path(kg: KG, df: DataFrame | None, s: str, marker,
               o: str) -> DataFrame:
    """Join one symbolic path pattern (``p+``/``p*``/``p?``) into the
    accumulated solutions."""
    if not s.startswith("?") and not o.startswith("?"):
        hit = _path_hit(kg, s, marker, o)
        if df is None:
            one = kg.spo.sparkSession.range(1).drop("id")
            return one if hit else one.limit(0)
        return df if hit else df.limit(0)
    rel = _path_rel(kg, s, marker, o)
    if df is None:
        return rel
    common = [c for c in df.columns if c in rel.columns]
    return df.join(rel, on=common, how="inner") if common else df.crossJoin(rel)


def _solutions_df(kg: KG, ast: "Query") -> DataFrame:
    """Evaluate a SELECT-form Query to its solutions DataFrame — the
    recursive entry used for sub-SELECTs."""
    return _apply_modifiers(_eval_arms(kg, ast.arms, ast.hidden_vars), ast)


def _eval_group(kg: KG, g: Group, hidden: frozenset = frozenset()) -> DataFrame:
    """Evaluate one group graph pattern to a solutions DataFrame.

    BGP -> ID-level join compiler; VALUES -> broadcast join of the literal
    rows (UNDEF = unconstrained via a null-tolerant condition); BIND ->
    Catalyst expression projection; OPTIONAL -> left outer join; MINUS ->
    left-anti join on the shared variables (no shared variables removes
    nothing, per SPARQL set-compatibility); FILTER last (group scope)."""
    from . import sparql as bgp_mod

    from pyspark.sql import functions as F

    spark = kg.spo.sparkSession
    _sym = (PlusPath, StarPath, OptPath)
    plain = [t for t in g.patterns if isinstance(t[1], str)]
    closures = [t for t in g.patterns if isinstance(t[1], _sym)]
    negsets = [t for t in g.patterns if isinstance(t[1], NegSet)]
    df = bgp_mod.bgp(kg, plain) if plain else None
    for s, pp, o in closures:
        df = _join_path(kg, df, s, pp, o)
    for s, ns, o in negsets:
        df = _join_negset(kg, df, s, ns, o)
    for subq in g.subqueries:
        # a subquery is just another solution relation: evaluate it
        # bottom-up (its own projection/aggregation/modifiers) and join on
        # the shared variables
        sdf = _solutions_df(kg, subq)
        if df is None:
            df = sdf
        else:
            common = [c for c in df.columns if c in sdf.columns]
            df = (df.join(sdf, on=common, how="inner") if common
                  else df.crossJoin(sdf))
    for vars_, rows in g.values:
        schema = ", ".join(f"`{v}` string" for v in vars_)
        vdf = spark.createDataFrame(rows, schema)
        if df is None:
            df = vdf
            continue
        common = [c for c in df.columns if c in vdf.columns]
        extra = [c for c in vdf.columns if c not in df.columns]
        if not common:
            df = df.crossJoin(F.broadcast(vdf))
            continue
        left, right = df.alias("_l"), vdf.alias("_r")
        cond = None
        for c in common:  # UNDEF (null) is compatible with anything
            e = (F.col(f"_r.{c}").isNull()
                 | (F.col(f"_r.{c}") == F.col(f"_l.{c}")))
            cond = e if cond is None else cond & e
        df = left.join(F.broadcast(right), cond, "inner").select(
            *[F.col(f"_l.{c}") for c in df.columns],
            *[F.col(f"_r.{c}").alias(c) for c in extra])
    if df is None:
        # a group of only BINDs evaluates over the single empty solution
        df = spark.range(1).drop("id")
    for var, sql in g.binds:
        if var in df.columns:
            raise ValueError(f"BIND would rebind ?{var}")
        df = df.withColumn(var, F.expr(sql))
    for arms in g.optionals:
        odf = _eval_arms(kg, arms, hidden)
        common = [c for c in df.columns if c in odf.columns]
        df = (df.join(odf, on=common, how="left") if common
              else df.join(odf, F.lit(True), "left"))
    for arms in g.minuses:
        mdf = _eval_arms(kg, arms, hidden)
        common = [c for c in df.columns if c in mdf.columns]
        if common:
            df = df.join(mdf.select(*common).distinct(), on=common,
                         how="left_anti")
    for fsql in g.filters:
        df = df.where(F.expr(fsql))
    for positive, arms in g.exists_filters:
        # EXISTS = left-semi, NOT EXISTS = left-anti on the shared vars.
        # Distinct from MINUS exactly when NO vars are shared: MINUS removes
        # nothing, (NOT) EXISTS degenerates to a global emptiness test.
        edf = _eval_arms(kg, arms, hidden)
        common = [c for c in df.columns if c in edf.columns]
        if common:
            df = df.join(edf.select(*common).distinct(), on=common,
                         how="left_semi" if positive else "left_anti")
        else:
            hit = not edf.isEmpty()
            if positive != hit:
                df = df.limit(0)
    # fresh join variables from path desugaring are internal: project away
    # exactly the tracked names (never user variables — ADVICE r4)
    drop = [c for c in df.columns if c in hidden]
    if drop:
        df = df.drop(*drop)
    return df


def _eval_arms(kg: KG, arms: list[Group],
               hidden: frozenset = frozenset()) -> DataFrame:
    df = _eval_group(kg, arms[0], hidden)
    for g in arms[1:]:
        df = df.unionByName(_eval_group(kg, g, hidden),
                            allowMissingColumns=True)
    return df


def _describe_df(kg: KG, resources: list[str]) -> DataFrame:
    """DESCRIBE <r>: all triples with r as subject or object (the S??/??O
    union; the reference gets DESCRIBE from spareval, src/sparql.rs:45-83)."""
    from .query import triples_with_pattern

    parts = []
    for r in resources:
        parts.append(triples_with_pattern(kg, s=r))
        parts.append(triples_with_pattern(kg, o=r))
    return _union(parts).distinct()


def _construct_df(kg: KG, solutions: DataFrame,
                  template: list[tuple[str, str, str]]) -> DataFrame:
    """Instantiate the CONSTRUCT template over the solution set: one
    projection per template triple, unioned, null-dropped (a triple with an
    unbound variable is omitted, per SPARQL), distinct (graphs are sets)."""
    from pyspark.sql import functions as F

    def col_or_lit(t: str) -> F.Column:
        if t.startswith("?"):
            v = t[1:]
            if v not in solutions.columns:
                raise ValueError(f"CONSTRUCT template var ?{v} not in WHERE")
            return F.col(v)
        return F.lit(t)

    parts = [
        solutions.select(col_or_lit(s).alias("s"), col_or_lit(p).alias("p"),
                         col_or_lit(o).alias("o"))
        for s, p, o in template
    ]
    return _union(parts).where(F.col("s").isNotNull() & F.col("p").isNotNull()
                    & F.col("o").isNotNull()).distinct()


def query_df(kg: KG, q: str) -> DataFrame:
    """Evaluate a SPARQL string over the KG.  SELECT/ASK return solutions
    (one column per projected variable — the reference's
    QueryResults::Solutions analog); CONSTRUCT/DESCRIBE return a triples
    DataFrame (s, p, o)."""
    from pyspark.sql import functions as F

    ast = parse(q)
    if ast.form == "describe":
        return _describe_df(kg, ast.describe)
    df = _eval_arms(kg, ast.arms, ast.hidden_vars)
    if ast.form == "construct":
        if ast.order_by:
            # the output graph is a SET; an ORDER BY + LIMIT slice of the
            # solution sequence is not representable here — fail loud
            # (ADVICE r4) rather than return an arbitrary slice
            raise ValueError("CONSTRUCT does not support ORDER BY")
        out = _construct_df(kg, df, ast.template)
        if ast.offset is not None:
            out = out.offset(ast.offset)
        if ast.limit is not None:
            out = out.limit(ast.limit)
        return out

    if ast.form == "ask":
        # boolean result as a 1-row DataFrame (true iff any solution)
        return df.limit(1).groupBy().agg(
            (F.count("*") > 0).alias("ask"))
    return _apply_modifiers(df, ast)


_view_seq = 0


def _apply_modifiers(df: DataFrame, ast: Query) -> DataFrame:
    """Projection / DISTINCT / GROUP BY / HAVING / ORDER BY / LIMIT /
    OFFSET over a solutions DataFrame, delegated to Catalyst through a
    temp view (unique per call — subqueries nest)."""
    global _view_seq

    spark = df.sparkSession
    _view_seq += 1
    view = f"hdt_sparql_tmp_{_view_seq}"
    df.createOrReplaceTempView(view)
    if ast.select == [("*", None)]:
        proj = "*"
    else:
        proj = ", ".join(
            f"{expr} AS `{var}`" if expr else f"`{var}`"
            for var, expr in ast.select)
    sql = f"SELECT {'DISTINCT ' if ast.distinct else ''}{proj} FROM {view}"
    if ast.group_by:
        sql += " GROUP BY " + ", ".join(f"`{v}`" for v in ast.group_by)
    if ast.having:
        # SPARQL HAVING = SQL HAVING (post-aggregation filter)
        sql += " HAVING " + " AND ".join(f"({h})" for h in ast.having)
    if ast.order_by:
        # xsd-numeric typed literals sort by VALUE; everything else falls
        # back to canonical-term-string order after them ("12"^^xsd:integer
        # no longer sorts before "5"^^xsd:integer).  DESC reverses the
        # whole key.  (Mixed-type columns use this numeric-first engine
        # order, not the full SPARQL total order over all term kinds.)
        def key(v: str, desc: bool) -> str:
            c, n = f"`{v}`", _num_sql(f"`{v}`")
            d = " DESC" if desc else ""
            return f"({n} IS NULL){d}, {n}{d}, {c}{d}"

        sql += " ORDER BY " + ", ".join(key(v, d) for v, d in ast.order_by)
    if ast.limit is not None:
        sql += f" LIMIT {ast.limit}"
    if ast.offset is not None:
        sql += f" OFFSET {ast.offset}"
    return spark.sql(sql)
