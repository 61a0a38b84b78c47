"""The workloads: set-up, whole rounds of timed operations, and the checks
that compare every output with the inputs' own bookkeeping.

Each workload returns ``Result``; ``run.py`` turns it into metrics.  A
round is a fixed list of operations, so the share of failed operations is
the same in every run however many rounds fit in ``--seconds``.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import inputs
import meter

# Input sizes.  Every durable build pays ~30 Spark jobs of fixed cost, so
# the sizes are set by the per-run time budget, not by the data volume the
# pipeline could take (see README.md).
BUILD_N_CONV, BUILD_MAX_TURNS = 600, 20
SERVE_N_CONV, SERVE_MAX_TURNS = 400, 8

PATTERNS_PER_SHAPE = 3
SHAPES = ("SPO", "SP?", "S?O", "S??", "?PO", "?P?", "??O")


@dataclass
class Result:
    setup_s: float = 0.0
    triples: int = 0                           # distinct triples in the KG
    attempted: int = 0
    failed: int = 0
    main_op: list[float] = field(default_factory=list)      # wall
    main_op_cpu: list[float] = field(default_factory=list)
    other_ops: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    shuffle: list[float] = field(default_factory=list)
    stored: list[float] = field(default_factory=list)
    notes: dict = field(default_factory=dict)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.setdefault("failures", []).append(what)


class Clock:
    """Wall and process-tree CPU of the timed operations of one round:
    ``cpu`` sums the round, ``last_cpu`` is the last operation's."""

    def __init__(self):
        self.cpu = 0.0
        self.last_cpu = 0.0

    def time(self, fn):
        c0, t0 = meter.tree_cpu_s(), time.monotonic()
        out = fn()
        dt = time.monotonic() - t0
        self.last_cpu = meter.tree_cpu_s() - c0
        self.cpu += self.last_cpu
        return out, dt


def rounds(seconds: float, fn) -> float:
    """Run whole rounds until ``seconds`` have been measured (at least one).
    Returns the share of the machine's CPU time stolen by the hypervisor
    meanwhile, a note for reading a slow run."""
    t0 = time.monotonic()
    st0, tot0 = meter.host_ticks()
    k = 0
    while True:
        fn(k)
        k += 1
        if time.monotonic() - t0 >= seconds:
            st1, tot1 = meter.host_ticks()
            return (st1 - st0) / max(1, tot1 - tot0)


# --- build --------------------------------------------------------------------

AFTER_SPO = ("ops", "pso", "adj", "metrics")
RESUMES_PER_ROUND = 1


def _check_spo(wh: str, sections: inputs.Sections, n: int) -> bool:
    """spo read back with pyarrow: strictly sorted (so unique), IDs dense
    and never 0, every ID inside its section-derived range."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(wh, "spo", "data", "part-*.parquet")))
    rows: list[tuple[int, int, int]] = []
    for f in files:
        t = pq.read_table(f, columns=["s", "p", "o"])
        rows.extend(zip(*(t.column(c).to_pylist() for c in ("s", "p", "o"))))
    n_s = sections.shared + sections.subjects
    n_o = sections.shared + sections.objects
    return (len(rows) == n
            and all(a < b for a, b in zip(rows, rows[1:]))
            and {r[0] for r in rows} == set(range(1, n_s + 1))
            and {r[1] for r in rows} == set(range(1, sections.predicates + 1))
            and {r[2] for r in rows} == set(range(1, n_o + 1)))


def _manifest(wh: str, stage: str) -> dict:
    import json

    with open(os.path.join(wh, stage, "_manifest.json")) as fh:
        return json.load(fh)


def _kill_after_spo(wh: str) -> None:
    """What a writer killed inside the ops stage leaves: the stages after
    spo are gone and a partial ``ops.tmp`` with no manifest remains."""
    for stage in AFTER_SPO:
        shutil.rmtree(os.path.join(wh, stage))
    os.makedirs(os.path.join(wh, "ops.tmp", "data"))
    with open(os.path.join(wh, "ops.tmp", "data", "part-00000.parquet"), "wb") as fh:
        fh.write(b"PAR1 truncated by the kill")


def build(spark, work: str, seed: int, seconds: float, t_start: float) -> Result:
    from hdtspark import checkpoint

    c = inputs.corpus(seed, BUILD_N_CONV, BUILD_MAX_TURNS)
    res = Result(triples=len(c.distinct))
    src = os.path.join(work, "corpus")
    inputs.write_parquet(c.rows, src)
    res.notes["input"] = {"turns": len(c.rows), "raw_triples": c.raw,
                          "distinct_triples": len(c.distinct),
                          "sections": c.sections.as_dict()}
    checkpoint.materialize_kg(spark, spark.read.parquet(src),
                              os.path.join(work, "wh-warmup"))
    shutil.rmtree(os.path.join(work, "wh-warmup"))
    counters = meter.SparkCounters(spark)
    res.setup_s = time.monotonic() - t_start

    def one(k: int) -> None:
        wh = os.path.join(work, f"wh-{k}")
        clock = Clock()
        lo = counters.last_job_id()
        (_, mat), dt = clock.time(lambda: checkpoint.materialize_kg(
            spark, spark.read.parquet(src), wh))
        res.main_op.append(dt)
        res.main_op_cpu.append(clock.last_cpu)
        m = {s: _manifest(wh, s) for s in ("triples_str", "dict", "spo")}
        ok = (m["triples_str"]["rows_out"] == c.raw
              and m["spo"]["rows_out"] == len(c.distinct)
              and all(m["dict"][f"n_{sec}"] == n
                      for sec, n in c.sections.as_dict().items())
              and not any(r.skipped for r in mat.results)
              and _check_spo(wh, c.sections, len(c.distinct)))
        res.op(ok, f"build {k}")
        res.stored.append(meter.dir_bytes(wh))

        before = {s: _manifest(wh, s)["content_fingerprint"] for s in AFTER_SPO}
        for _ in range(RESUMES_PER_ROUND):
            _kill_after_spo(wh)
            (_, mat), dt = clock.time(lambda: checkpoint.materialize_kg(
                spark, spark.read.parquet(src), wh))
            res.other_ops.append(dt)
            skipped = {r.name: r.skipped for r in mat.results}
            ok = (all(skipped[s] for s in ("triples_str", "dict", "spo"))
                  and not any(skipped[s] for s in AFTER_SPO)
                  and all(_manifest(wh, s)["content_fingerprint"] == fp
                          for s, fp in before.items())
                  and not glob.glob(os.path.join(wh, "*.tmp")))
            res.op(ok, f"resume {k}")
        res.shuffle.append(counters.window(lo)["shuffle_write_bytes"])
        res.cpu.append(clock.cpu)
        shutil.rmtree(wh)

    res.notes["host_steal_share"] = rounds(seconds, one)
    return res


# --- serve --------------------------------------------------------------------


@dataclass
class Index:
    """The distinct triples, indexed by position (plain dicts and sets)."""

    by_s: dict
    by_p: dict
    by_o: dict

    @classmethod
    def of(cls, triples) -> "Index":
        by_s: dict = {}
        by_p: dict = {}
        by_o: dict = {}
        for t in triples:
            by_s.setdefault(t[0], set()).add(t)
            by_p.setdefault(t[1], set()).add(t)
            by_o.setdefault(t[2], set()).add(t)
        return cls(by_s, by_p, by_o)

    def match(self, s, p, o) -> set:
        if s is not None:
            cand = self.by_s.get(s, set())
        elif o is not None:
            cand = self.by_o.get(o, set())
        elif p is not None:
            cand = self.by_p.get(p, set())
        else:
            raise ValueError("unbound pattern")
        return {t for t in cand if (p is None or t[1] == p)
                and (o is None or t[2] == o)}


ABSENT = "http://ex.org/conv/absent/t/0"


def serve_mix(seed: int, c: inputs.Corpus) -> dict:
    """The query mix, drawn from the seed out of the regenerated corpus,
    with each expected answer computed from the distinct raw triples.

    The seed picks which conversations and turns are asked about; the make
    of the mix (which constant goes where, closure depth, BGP shapes) is
    the same for every seed, so result sizes and latencies do not move
    with it.  Conversations are drawn from the longest ones.
    """
    from hdtspark import rules

    rng = random.Random(seed * 7919 + 3)
    idx = Index.of(c.distinct)
    top = max(c.turns_per_conv.values())
    longest = [cv for cv in sorted(c.turns_per_conv)
               if c.turns_per_conv[cv] == top]

    def pick(shape: str, slot: int):
        cv = rng.choice(longest)
        k = rng.randrange(1, top)
        t = rules.turn_iri(cv, k)
        own = sorted(idx.by_s[t])
        if shape == "SPO":
            return rng.choice(own)
        if shape == "SP?":
            return (t, rng.choice(own)[1], None)
        if shape == "S?O":
            return (t, None, rng.choice(own)[2])
        if shape == "S??":
            return (rules.conv_iri(cv) if slot == 2 else t, None, None)
        if shape == "?PO":
            return ((None, rules.P_HASTURN, t) if slot == 2
                    else (None, rules.P_PREV, rules.turn_iri(cv, k - 1)))
        if shape == "?P?":
            return (None, rules.P_TOOL if slot == 2 else rules.P_TYPE, None)
        return (None, None, rules.turn_iri(cv, k - 1))

    patterns = []
    for slot in range(PATTERNS_PER_SHAPE):
        for shape in SHAPES:
            s, p, o = pick(shape, slot)
            # one pattern in ten carries a constant absent from the
            # dictionary: the query must short-circuit to empty
            if len(patterns) % 10 == 9:
                if s is not None:
                    s = ABSENT
                elif o is not None:
                    o = ABSENT
                else:
                    p = ABSENT
            patterns.append((shape, (s, p, o), idx.match(s, p, o)))

    def hop(t, p):
        return {x[2] for x in idx.by_s.get(t, ()) if x[1] == p}

    bgps = []
    for n_pat in (2, 3):
        cv = rng.choice(longest)
        conv = rules.conv_iri(cv)
        if n_pat == 2:
            q = (f"SELECT ?t ?r WHERE {{ <{conv}> <{rules.P_HASTURN}> ?t . "
                 f"?t <{rules.P_ROLE}> ?r }}")
            want = {(t, r) for t in hop(conv, rules.P_HASTURN)
                    for r in hop(t, rules.P_ROLE)}
        else:
            q = (f"SELECT ?t ?e WHERE {{ <{conv}> <{rules.P_HASTURN}> ?t . "
                 f"?t <{rules.P_MENTIONS}> ?e . "
                 f"?e <{rules.P_TYPE}> <{rules.C_ENTITY}> }}")
            want = {(t, e) for t in hop(conv, rules.P_HASTURN)
                    for e in hop(t, rules.P_MENTIONS)
                    if rules.C_ENTITY in hop(e, rules.P_TYPE)}
        bgps.append((q, want))

    cv = rng.choice(longest)
    k = top - 1
    bound = (f"SELECT ?x WHERE {{ <{rules.turn_iri(cv, k)}> <{rules.P_PREV}>+ ?x }}",
             {(rules.turn_iri(cv, j),) for j in range(k)})
    unbound = (f"SELECT ?a ?b WHERE {{ ?a <{rules.P_PREV}>+ ?b }}",
               sum(n * (n - 1) // 2 for n in c.turns_per_conv.values()))
    return {"patterns": patterns, "bgps": bgps, "bound": bound,
            "unbound": unbound}


def serve(spark, work: str, seed: int, seconds: float, t_start: float) -> Result:
    from hdtspark import checkpoint, cli, query, sparql

    c = inputs.corpus(seed, SERVE_N_CONV, SERVE_MAX_TURNS)
    res = Result(triples=len(c.distinct))
    src = os.path.join(work, "corpus")
    inputs.write_parquet(c.rows, src)
    wh = os.path.join(work, "wh")
    t0 = time.monotonic()
    checkpoint.materialize_kg(spark, spark.read.parquet(src), wh)
    res.notes["setup_build_s"] = time.monotonic() - t0
    mat = checkpoint.Materializer(spark, wh)
    mix = serve_mix(seed, c)
    res.notes["input"] = {"turns": len(c.rows), "raw_triples": c.raw,
                          "distinct_triples": len(c.distinct),
                          "sections": c.sections.as_dict(),
                          "patterns_per_round": len(mix["patterns"])}
    counters = meter.SparkCounters(spark)

    def one(res: Result, warm: bool = False) -> None:
        """One round; the warm-up round runs every operation of the round
        but only the first pattern of each shape."""
        kg = cli._load_kg(mat)
        clock = Clock()
        lo = counters.last_job_id()
        other = 0.0
        patterns = mix["patterns"][:len(SHAPES)] if warm else mix["patterns"]
        for shape, (s, p, o), want in patterns:
            rows, dt = clock.time(
                lambda: query.triples_with_pattern(kg, s, p, o).collect())
            res.main_op.append(dt)
            res.main_op_cpu.append(clock.last_cpu)
            res.notes.setdefault("by_shape", {}).setdefault(shape, []).append(dt)
            res.op({tuple(r) for r in rows} == want and len(rows) == len(want),
                   f"pattern {shape} {(s, p, o)}")
        for q, want in mix["bgps"]:
            rows, dt = clock.time(lambda: sparql.query(kg, q).collect())
            other += dt
            res.op({tuple(r) for r in rows} == want and len(rows) == len(want),
                   f"bgp {q}")
        q, want = mix["bound"]
        rows, dt = clock.time(lambda: sparql.query(kg, q).collect())
        other += dt
        res.op({tuple(r) for r in rows} == want and len(rows) == len(want),
               "bound closure")
        q, want = mix["unbound"]
        n, dt = clock.time(lambda: sparql.query(kg, q).count())
        other += dt
        res.op(n == want, f"unbound closure {n} != {want}")
        n, dt = clock.time(lambda: kg.str_enum().count())
        other += dt
        res.op(n == len(c.distinct), "enumeration")
        kg.unpersist()
        res.other_ops.append(other)
        res.cpu.append(clock.cpu)
        res.shuffle.append(counters.window(lo)["shuffle_write_bytes"])

    t0 = time.monotonic()
    warm = Result()
    one(warm, warm=True)
    res.notes["setup_warmup_s"] = time.monotonic() - t0
    res.notes["warmup_samples"] = [warm.main_op, warm.other_ops]
    res.setup_s = time.monotonic() - t_start
    res.stored.append(meter.dir_bytes(wh))
    res.notes["host_steal_share"] = rounds(seconds, lambda k: one(res))
    return res


WORKLOADS = {"build": build, "serve": serve}
