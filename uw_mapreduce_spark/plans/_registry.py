"""Query/oracle registry shared by the catalog modules.

``plans/catalog.py`` (reference operators + general analytics + SQL
front-end) and ``plans/catalog_llm.py`` (documents/embeddings LLM-data-
pipeline surface) both register here; ``plans/oracles.py`` holds the
bulk of the DuckDB oracle SQL keyed by query name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .oracles import ORACLE_SQL

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}
# Faces whose oracle is built from the reference tree's own files
# (`catalog._REFERENCE_DIR`), listed whether or not the tree is there:
# ORACLE holds only the oracles this host can build, while the docs'
# registry-counts block counts the oracles each face declares.
REFERENCE_ORACLES: set[str] = set()

# Faces whose query FUNCTION eagerly runs Spark jobs / filesystem side
# effects before returning the DataFrame (write→re-read round trips,
# persist→reload equality audits).  Calling any other catalog face has
# no side effect.  Most only build a plan; a face on the range pass
# (`operators/scale.py`) also collects its border histogram at call
# time, a read-only job, so explain tooling still runs it.  Plan-shape /
# explain-only tooling must skip the names listed here —
# `plans/explain.py` (the explain-sweep CLI) is the consumer that
# enforces this.
EAGER_FACES: frozenset[str] = frozenset(
    {
        "kvtext_roundtrip_audit",
        "ann_index_persistence_audit",
        "knn_graph_persistence_audit",
        "streaming_ivm_rollup_events",
        "streaming_debounce_replay_events",
        # Probe build-once artifact caches (kNN graph / cosine near-dup
        # pair list / lexical n-gram Jaccard pair list): eager (build +
        # write job) only on a cache miss; cache hits are a plain
        # parquet scan plus one fingerprint aggregate.
        "label_propagation_embeddings",
        "semantic_dedup_manifest",
        "curation_pipeline_v6",
        "curation_pipeline_v7",
        "dedup_provenance_documents",
        "dedup_clusters_documents",
        "dedup_manifest_documents",
        "curation_pipeline_v2",
        "curation_pipeline_v3",
        "dedup_token_savings",
    }
)


def query(name: str, oracle: str | None = None, *, reference: bool = False):
    """Register a catalog query.  The DuckDB oracle comes either inline
    (for SQL built from shared fragments) or, for most queries, from
    ``plans/oracles.py`` keyed by name; queries in neither place get the
    driver's rows-only check.  ``reference=True`` marks an oracle built
    from the reference tree's files: the name goes into
    ``REFERENCE_ORACLES`` even where the tree is absent and ``oracle``
    is None, so the face still counts as oracled in the docs."""

    def register(fn):
        if name in QUERIES:
            # A silent overwrite would drop a catalog entry (and its
            # driver row) without any test noticing — fail loudly.
            raise ValueError(f"duplicate catalog query name: {name!r}")
        QUERIES[name] = fn
        if reference:
            REFERENCE_ORACLES.add(name)
        sql = oracle if oracle is not None else ORACLE_SQL.get(name)
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return register
