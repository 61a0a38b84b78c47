"""Triple ID-encoding, dedup, and the three sorted projections.

Mirrors reference src/nt.rs:131-159 (re-encode to final dict IDs, sort,
dedup) — expressed as three dictionary joins + ``dropDuplicates`` +
``repartitionByRange().sortWithinPartitions()``.

Scale notes:
- Dictionary joins are string-key equi-joins; the dict side is unique per
  term, so skew sits on the fact side (hot terms like the entity-class
  object) — handled by AQE skew-join splitting; no broadcast is forced
  because at 100 TB the dictionary itself is huge (billions of terms).
- The SPO/OPS/PSO projections are range-partitioned + sorted, which is the
  Spark analog of the reference's succinct sorted layout: Parquet min/max
  stats give file/row-group pruning for bound-prefix patterns, replacing
  rank/select (reference src/triples.rs:105-118) and the OP index
  (src/triples.rs:163-209) and wavelet (?P?) with pruned scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dict_builder import FourSectDict


# ~60-80 MB of URI-length terms: comfortably broadcastable.  Above this the
# driver-serial HashedRelation build/ship dominates (measured: two ~5M-term
# broadcasts added ~100s of serial time at ANY parallelism, wrecking the
# N->4N scaling ratio), while a shuffle join scales with cores.
BROADCAST_DICT_MAX_TERMS = 1_000_000


def dict_side(df: DataFrame, n_terms: int) -> DataFrame:
    """The one join-side rule for every dictionary join (encode and every
    id -> term translation): broadcast a side of ``n_terms`` terms below
    ``BROADCAST_DICT_MAX_TERMS`` (read at call time), else hint it
    SHUFFLE_HASH.  Term counts are exact from the dict build, so the choice
    is deterministic.  The hash build side is one dict partition, unique per
    key and evenly sized; the hint removes the sort-merge join's two sorts
    of the fact or result side (measured at 13.7M triples, 2->8 cores: SMJ
    45.4s -> 34.8s vs SHJ 36.1s -> 24.6s; sorts are memory-bandwidth-bound,
    shared across cores).  AQE can still downgrade a shuffled join to a
    broadcast at runtime and split skewed partitions."""
    if n_terms < BROADCAST_DICT_MAX_TERMS:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def dict_bits(d: FourSectDict) -> tuple[int, int, int]:
    """(bits_s, bits_p, bits_o): exact ID bit widths from the section
    counts — deterministic, no data inspection."""
    return ((d.n_shared + d.n_subjects).bit_length(),
            d.n_predicates.bit_length(),
            (d.n_shared + d.n_objects).bit_length())


def hashes_injective(d: FourSectDict) -> bool:
    """True iff xxhash64 is collision-free over each of the dictionary's
    three join key-spaces (subject space = shared∪subjects, object space =
    shared∪objects, predicates).

    One aggregation job over the (cached) dictionary — O(#terms), never
    O(#triples).  Terms within a space are distinct by construction, so
    injectivity ⇔ countDistinct(hash) == count(*) per space.  For 10^7
    terms the collision odds are ~n²/2⁶⁵ ≈ 10⁻⁶; at 10⁹ terms ~3%, which
    is why the check exists rather than trusting the hash blindly.

    The dict's single (section, term, id) table is scanned ONCE: each term
    is hashed once and exploded into its section's space memberships.
    """
    spaces = d.ids.select(F.xxhash64("term").alias("_h"),
                          F.explode(d.section_spaces()).alias("_sp"))
    rows = (
        spaces.groupBy("_sp")
        .agg(F.countDistinct("_h").alias("dh"), F.count("*").alias("n"))
        .collect()
    )
    return all(r["dh"] == r["n"] for r in rows)


def encode_triples(triples_str: DataFrame, d: FourSectDict,
                   num_partitions: int | None = None,
                   deps_out: list[DataFrame] | None = None) -> DataFrame:
    """(s,p,o string) -> deduplicated (s,p,o long) sorted by (s,p,o).

    ``deps_out``: when given, the packed pre-exchange join output is
    persisted and appended to the list (caller releases it — KG.unpersist
    does).  Rationale (guide §2.4/§1): ``repartitionByRange`` runs a
    RangePartitioner *sampling job* that executes its whole child once
    before the exchange executes it again — without the persist the three
    dictionary joins (the expensive part of the encode stage) run TWICE
    per build.  Persisting the single packed 8-byte column makes the
    sampling pass materialize it once (~n_triples × 8 B, columnar
    compressed) and the exchange then re-reads the cache.

    PRECONDITION: every term of ``triples_str`` must be present in ``d``.
    The string-join path silently *drops* unknown terms (inner join); the
    hash-keyed path above the broadcast cap could mis-encode an unknown
    term on an xxhash64 collision, because ``hashes_injective`` certifies
    only the dictionary's own key space.  All current callers build ``d``
    from the same ``triples_str``; incremental/streaming callers must
    re-dictionary new terms before encoding.
    """
    n = num_partitions or int(
        triples_str.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    n_s = d.n_shared + d.n_subjects
    n_o = d.n_shared + d.n_objects
    # Above the broadcast cap the dict joins shuffle the FACT side — and a
    # fact row is three URI/literal strings (~100-150 B).  Joining on
    # xxhash64(term) instead carries 8-byte longs through both exchanges
    # (~5x thinner rows), and shuffle volume is pure memory bandwidth, the
    # contended resource that caps single-box N->4N scaling.  Exactness:
    # every fact term is in the dictionary (it was built from these same
    # triples), so if the hash is injective on the dict's key-space —
    # checked above, one O(#terms) job — hash equality ⇔ term equality.
    # On (astronomically rare) collision we fall back to string joins.
    use_hash = (max(n_s, d.n_predicates, n_o) >= BROADCAST_DICT_MAX_TERMS
                and hashes_injective(d))

    if use_hash:
        fact = triples_str.select(
            F.xxhash64("s").alias("_hs"), F.xxhash64("p").alias("_hp"),
            F.xxhash64("o").alias("_ho"))
        sd = d.subj_global.select(F.xxhash64("term").alias("_hs"),
                                  F.col("id").alias("sid"))
        pd_ = d.predicates.select(F.xxhash64("term").alias("_hp"),
                                  F.col("id").alias("pid"))
        od = d.obj_global.select(F.xxhash64("term").alias("_ho"),
                                 F.col("id").alias("oid"))
        keys = ("_hp", "_hs", "_ho")
    else:
        fact = triples_str.select("s", "p", "o")
        sd = d.subj_global.withColumnRenamed("term", "s").withColumnRenamed("id", "sid")
        pd_ = d.predicates.withColumnRenamed("term", "p").withColumnRenamed("id", "pid")
        od = d.obj_global.withColumnRenamed("term", "o").withColumnRenamed("id", "oid")
        keys = ("p", "s", "o")

    # Broadcast dict sides (``dict_side``): the fact side then never
    # shuffles for the joins — one exchange total (the range partition
    # below).  Above the cap the two SMJ sorts of the fact side were the
    # encode stage's scaling limiter on one box, hence SHUFFLE_HASH.
    #
    # JOIN ORDER: p first.  The predicate dict is tiny (always broadcast,
    # no shuffle), so putting it first lets Catalyst prune the predicate
    # key before the s-join's exchange — shuffle 1 then carries
    # (s, o, pid) instead of three terms, and shuffle 2 (by o)
    # carries (o, sid, pid).  In the string regime that keeps gigabytes of
    # predicate IRIs off the contended memory channels (the measured 2->8
    # scaling limiter), for free.
    encoded = (
        fact
        .join(dict_side(pd_, d.n_predicates), keys[0])
        .join(dict_side(sd, n_s), keys[1])
        .join(dict_side(od, n_o), keys[2])
        .select(F.col("sid").alias("s"), F.col("pid").alias("p"),
                F.col("oid").alias("o"))
    )
    # Range-partition FIRST: duplicates of (s,p,o) co-locate in the same
    # range partition, so the dropDuplicates aggregate is satisfied by the
    # existing distribution and Catalyst inserts no second exchange —
    # one shuffle total for dedup + global sort order.  When the three ID
    # widths fit one long, the exchange carries a single packed 8-byte
    # column instead of three (packed lexicographic order == (s,p,o)
    # order), halving shuffle row width; unpacking is a post-sort
    # projection that preserves partitioning and order.
    bits = dict_bits(d)
    if sum(bits) <= 62:
        return _packed_exchange(encoded, ["s", "p", "o"], bits, n,
                                deps_out=deps_out)
    if deps_out is not None:
        from pyspark import StorageLevel

        encoded = encoded.persist(StorageLevel.MEMORY_AND_DISK)
        deps_out.append(encoded)
    return (
        encoded.repartitionByRange(n, "s", "p", "o")
        .dropDuplicates(["s", "p", "o"])
        .sortWithinPartitions("s", "p", "o")
    )


def _packed_exchange(df: DataFrame, cols: list[str],
                     bits: tuple[int, int, int], n: int,
                     dedup: bool = True,
                     deps_out: list[DataFrame] | None = None) -> DataFrame:
    """Range-partition + dedup + sort ``df`` through ONE packed bigint
    column; returns the original 3-column layout, sorted by ``cols``.

    ``bits`` are the field widths in (s, p, o) POSITION order regardless of
    ``cols`` order.  Non-overlapping fields make '+' a bitwise-or; ids are
    >= 1 and widths exact, so packing is collision-free and order-preserving.

    ``deps_out``: persist the packed one-column input so the range
    exchange's sampling job and the exchange itself share one computation
    of ``df`` (see encode_triples) instead of executing it twice.
    """
    width = {"s": bits[0], "p": bits[1], "o": bits[2]}
    sh2 = width[cols[2]]
    sh1 = width[cols[1]] + sh2
    v = (F.shiftleft(F.col(cols[0]), sh1)
         + F.shiftleft(F.col(cols[1]), sh2) + F.col(cols[2]))
    packed = df.select(v.alias("_v"))
    if deps_out is not None:
        from pyspark import StorageLevel

        packed = packed.persist(StorageLevel.MEMORY_AND_DISK)
        deps_out.append(packed)
    sorted_packed = packed.repartitionByRange(n, "_v")
    if dedup:
        sorted_packed = sorted_packed.dropDuplicates(["_v"])
    sorted_packed = sorted_packed.sortWithinPartitions("_v")
    return sorted_packed.select(
        F.shiftright("_v", sh1).alias(cols[0]),
        (F.shiftright("_v", sh2) % F.lit(1 << width[cols[1]])).alias(cols[1]),
        (F.col("_v") % F.lit(1 << sh2)).alias(cols[2]),
    )


def ops_projection(spo: DataFrame, num_partitions: int | None = None,
                   bits: tuple[int, int, int] | None = None) -> DataFrame:
    """(o,p,s)-sorted projection — the OP-index analog (??O / ?PO paths).

    Range-partitioning on (o, p) — not o alone — keeps hot objects
    (e.g. the entity class) from pinning a whole partition (SURVEY §7.3).
    With ``bits`` (from dict_bits) that fit one long, the exchange carries
    a packed 8-byte column (see encode_triples).
    """
    n = num_partitions or int(spo.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if bits and sum(bits) <= 62:
        return _packed_exchange(spo.select("o", "p", "s"),
                                ["o", "p", "s"], bits, n, dedup=False)
    return (
        spo.select("o", "p", "s")
        .repartitionByRange(n, "o", "p", "s")
        .sortWithinPartitions("o", "p", "s")
    )


def pso_projection(spo: DataFrame, num_partitions: int | None = None,
                   bits: tuple[int, int, int] | None = None) -> DataFrame:
    """(p,s,o)-sorted projection — wavelet-tree analog for ?P? queries."""
    n = num_partitions or int(spo.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if bits and sum(bits) <= 62:
        return _packed_exchange(spo.select("p", "s", "o"),
                                ["p", "s", "o"], bits, n, dedup=False)
    return (
        spo.select("p", "s", "o")
        .repartitionByRange(n, "p", "s", "o")
        .sortWithinPartitions("p", "s", "o")
    )


def validate_spo(spo: DataFrame, d: FourSectDict) -> dict:
    """Invariants of reference src/triples.rs:228,235-249 as one agg pass."""
    row = spo.agg(
        F.count("*").alias("n"),
        F.min("s").alias("min_s"), F.max("s").alias("max_s"),
        F.countDistinct("s").alias("d_s"),
        F.min("p").alias("min_p"), F.max("p").alias("max_p"),
        F.min("o").alias("min_o"), F.max("o").alias("max_o"),
    ).first()
    return {
        "no_zero_ids": row["min_s"] >= 1 and row["min_p"] >= 1 and row["min_o"] >= 1,
        # every subject ID 1..max appears ("subjects must be correlative")
        "subjects_correlative": row["min_s"] == 1
        and row["d_s"] == row["max_s"]
        and row["max_s"] == d.n_shared + d.n_subjects,
        "ids_in_range": row["max_p"] <= d.n_predicates
        and row["max_o"] <= d.n_shared + d.n_objects,
        "num_triples": row["n"],
    }
