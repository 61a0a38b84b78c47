"""Seeded benchmark inputs and the bookkeeping the checks compare against.

Everything here is plain Python: the expected answers are computed from the
generators' own records, never by the Spark code under test.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from hdtspark import rules, synth

# --- transcript corpus ------------------------------------------------------


def write_parquet(rows: list[dict], path: str) -> None:
    """Write the rows with the schema ``synth.TRANSCRIPTS_SCHEMA`` names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])
    table = pa.Table.from_pylist(rows, schema=schema)
    os.makedirs(path, exist_ok=True)
    # several files, so the scan has one split per core
    step = -(-len(rows) // 4)
    for k in range(4):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k}.parquet"))


def turn_triples(row: dict) -> list[tuple[str, str, str]]:
    return rules.turn_triples(row["conv_id"], row["turn_idx"], row["role"],
                              row["text"], row["tool"], row["ts"])


@dataclass
class Sections:
    """Dictionary section sizes by set algebra over distinct triples."""

    shared: int
    subjects: int
    predicates: int
    objects: int

    @classmethod
    def of(cls, triples) -> "Sections":
        s = {t[0] for t in triples}
        p = {t[1] for t in triples}
        o = {t[2] for t in triples}
        return cls(len(s & o), len(s - o), len(p), len(o - s))

    def as_dict(self) -> dict:
        return {"shared": self.shared, "subjects": self.subjects,
                "predicates": self.predicates, "objects": self.objects}


@dataclass
class Corpus:
    rows: list[dict]
    raw: int                                   # triples before dedup
    distinct: set[tuple[str, str, str]]
    sections: Sections
    turns_per_conv: dict[str, int] = field(default_factory=dict)


def corpus(seed: int, n_conv: int, max_turns: int) -> Corpus:
    """The rows ``synth`` generates, keyed by (seed, conversation index),
    and their triples by ``rules.turn_triples``."""
    rows = [r for i in range(n_conv)
            for r in synth.generate_conversation(seed, i, max_turns=max_turns)]
    raw = 0
    distinct: set[tuple[str, str, str]] = set()
    turns: dict[str, int] = {}
    for r in rows:
        tt = turn_triples(r)
        raw += len(tt)
        distinct.update(tt)
        turns[r["conv_id"]] = turns.get(r["conv_id"], 0) + 1
    return Corpus(rows, raw, distinct, Sections.of(distinct), turns)


# --- wide N-Triples file ----------------------------------------------------

NS = "http://bench.example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
_LANGS = ["en", "de", "fr-CA", "zh-Hant", "ru"]
_WORDS = ["alpha", "beta", "gamma", "delta", "straße", "café", "中文",
          "хобби", "naïve", "😀", "x", "quote\"d", "back\\slash", "tab\tbed",
          "line\nbreak", "cr\rret"]


def nt_term(t: str) -> str:
    """Canonical term -> N-Triples token (the generator's own encoding)."""
    if t.startswith('"'):
        end = t.rindex('"')
        lex, suffix = t[1:end], t[end + 1:]
        lex = (lex.replace("\\", "\\\\").replace('"', '\\"')
               .replace("\n", "\\n").replace("\r", "\\r")
               .replace("\t", "\\t"))
        return f'"{lex}"{suffix}'
    if t.startswith("_:"):
        return t
    return f"<{t}>"


@dataclass
class WideNT:
    lines: int                                 # lines written, duplicates included
    distinct: set[tuple[str, str, str]]
    sections: Sections


def wide_nt(seed: int, n_res: int, path: str) -> WideNT:
    """Write a wide-vocabulary N-Triples file and return its bookkeeping.

    Resources are subjects and, through links, objects (a large shared
    section); 240 predicates; literals with language tags, datatypes,
    escapes and non-ASCII text; blank nodes on both sides; about one line
    in twenty repeated.
    """
    rng = random.Random(seed * 1_000_003 + 17)
    preds = [f"{NS}p/{k}" for k in range(240)]
    pw = [1.0 / (k + 1) ** 0.7 for k in range(240)]
    res = [f"{NS}r/{i}" for i in range(n_res)]
    n_blank = max(1, n_res // 20)
    triples: list[tuple[str, str, str]] = []
    for i, s in enumerate(res):
        for _ in range(2 + rng.randrange(7)):
            p = rng.choices(preds, pw)[0]
            k = rng.random()
            if k < 0.35:
                o = res[rng.randrange(n_res)]
            elif k < 0.45:
                o = f"{NS}x/{rng.randrange(n_res)}"
            elif k < 0.60:
                o = '"' + " ".join(rng.choices(_WORDS, k=3)) + f' {i}"'
            elif k < 0.70:
                o = (f'"{rng.choice(_WORDS)} {rng.randrange(n_res)}"'
                     f"@{rng.choice(_LANGS)}")
            elif k < 0.80:
                o = f'"{rng.randrange(10 ** 6)}"^^<{XSD}integer>'
            elif k < 0.88:
                o = (f'"2026-{1 + rng.randrange(12):02d}-'
                     f'{1 + rng.randrange(28):02d}T00:00:00Z"'
                     f"^^<{XSD}dateTime>")
            else:
                o = f"_:b{rng.randrange(n_blank)}"
            triples.append((s, p, o))
    for b in range(n_blank):
        triples.append((f"_:b{b}", preds[0], res[rng.randrange(n_res)]))
    dups = [triples[rng.randrange(len(triples))]
            for _ in range(len(triples) // 20)]
    allt = triples + dups
    rng.shuffle(allt)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        for s, p, o in allt:
            fh.write(f"{nt_term(s)} {nt_term(p)} {nt_term(o)} .\n")
    distinct = set(triples)
    return WideNT(len(allt), distinct, Sections.of(distinct))


def read_parts(directory: str) -> str:
    """The text of a Spark text output directory, part files in order."""
    out = []
    for name in sorted(os.listdir(directory)):
        if name.startswith("part-"):
            with open(os.path.join(directory, name), encoding="utf-8") as fh:
                out.append(fh.read())
    return "".join(out)


def parse_nt_text(text: str) -> list[tuple[str, str, str]]:
    """N-Triples text -> canonical triples, by a small parser of its own."""
    import re

    line_re = re.compile(r'^(<[^>]*>|_:\S+) (<[^>]*>) (.*) \.$')
    lit_re = re.compile(r'^"((?:[^"\\]|\\.)*)"(.*)$', re.S)
    esc = {"n": "\n", "r": "\r", "t": "\t", '"': '"', "\\": "\\"}

    def term(tok: str) -> str:
        if tok.startswith("<"):
            return tok[1:-1]
        if tok.startswith("_:"):
            return tok
        m = lit_re.match(tok)
        if m is None:
            raise ValueError(f"bad literal {tok!r}")
        lex = re.sub(r"\\(.)", lambda e: esc[e.group(1)], m.group(1))
        return f'"{lex}"{m.group(2)}'

    out = []
    for line in text.splitlines():
        if not line.strip():
            continue
        m = line_re.match(line)
        if m is None:
            raise ValueError(f"bad line {line!r}")
        out.append((term(m.group(1)), term(m.group(2)), term(m.group(3))))
    return out
