"""End-to-end KG construction: transcripts -> materialized KG.

The in-memory (cached-DataFrame) orchestration; durable materialization with
checkpoints/resume lives in checkpoint.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from . import bitmap_triples, encode, extract
from .dict_builder import FourSectDict, build_dict
from .query import KG


def build_kg(transcripts: DataFrame, cache: bool = True,
             with_adjacency: bool = True, cache_projections: bool = False) -> KG:
    """Run extract -> dict -> encode -> projections (+ adjacency)."""
    triples_str = extract.extract_triples(transcripts)
    return build_kg_from_triples(triples_str, cache=cache,
                                 with_adjacency=with_adjacency,
                                 cache_projections=cache_projections)


def build_kg_from_triples(triples_str: DataFrame, cache: bool = True,
                          with_adjacency: bool = True,
                          cache_projections: bool = False) -> KG:
    """dict -> encode -> projections over pre-extracted (s, p, o) strings.

    The entry point for non-transcript sources — e.g. an N-Triples file via
    sources.read_nt (the reference's Hdt::read_nt conversion path,
    src/nt.rs:28-43).
    """
    if cache:
        # Raw triples feed the dictionary term-agg and the encode joins;
        # DISK_ONLY persist lands on spark.local.dir (tmpfs in local mode,
        # executor NVMe on a cluster) — compact serialized blocks, no
        # columnar-compression build cost, re-reads are sub-second.
        from pyspark import StorageLevel

        triples_str = triples_str.persist(StorageLevel.DISK_ONLY)

    d = build_dict(triples_str)
    # Persist the packed pre-exchange join output iff the raw triples are
    # cached too (same lifecycle): the range exchange's sampling job and
    # the exchange then share ONE execution of the three dictionary joins
    # instead of two (encode.encode_triples docstring).
    deps: list[DataFrame] = []
    spo = encode.encode_triples(triples_str, d,
                                deps_out=deps if cache else None)
    if cache:
        spo = spo.cache()
    built = derived(spo, d)
    ops, pso = built["ops"](), built["pso"]()
    if cache_projections:
        # Opt-in for query-heavy sessions: uncached, every ??O/?PO/?P? query
        # re-shuffles spo.  Off by default — storing two full projections
        # adds real memory churn to build-only workloads.  (The durable
        # path materializes them as parquet instead — checkpoint.py.)
        ops, pso = ops.cache(), pso.cache()
    adj = built["adj"]() if with_adjacency else None

    return KG(dict=d, spo=spo, ops=ops, pso=pso, adj=adj,
              triples_str=triples_str, build_deps=tuple(deps))


def derived(spo: DataFrame, d: FourSectDict
            ) -> dict[str, Callable[[], DataFrame]]:
    """The structures derived from spo, as zero-argument builders: the OPS
    and PSO projections and the Bitmap-Triples adjacency.  Bit widths come
    from the dictionary's counts; the salt decision from the dict build's
    free degree bound — no sample-probe job, and deterministic across
    reruns."""
    bits = encode.dict_bits(d)
    salt = bitmap_triples.salt_buckets_for(d.max_raw_subj_degree)
    return {
        "ops": lambda: encode.ops_projection(spo, bits=bits),
        "pso": lambda: encode.pso_projection(spo, bits=bits),
        "adj": lambda: bitmap_triples.adjacency(spo, salt_buckets=salt,
                                                bits=bits),
    }


def materialize(kg: KG) -> int:
    """Force full computation; returns the triple count.

    spo first (everything hangs off it), then the three derived structures
    CONCURRENTLY — Spark's scheduler runs independent jobs in parallel, so
    the projections' exchanges overlap instead of paying three sequential
    stage latencies (on a cluster these are independent job DAGs too).
    """
    from concurrent.futures import ThreadPoolExecutor

    n = kg.spo.count()
    derived = [df for df in (kg.ops, kg.pso, kg.adj) if df is not None]
    with ThreadPoolExecutor(max_workers=len(derived) or 1) as ex:
        list(ex.map(lambda df: df.count(), derived))
    return n
