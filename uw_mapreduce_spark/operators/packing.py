"""Sequence packing and deterministic corpus shuffling — the two order-
assignment steps between a curated corpus and a training run.

Packing follows the GPT-style token-stream convention: documents are
concatenated in a deterministic global order and the stream is sliced
into fixed ``budget``-token context windows, so a document may straddle
a window boundary (its ``first_pack``/``last_pack`` then differ).  That
convention is exactly a global prefix sum, which makes it expressible as
the engine's scalable two-pass rank/prefix machinery — no
single-partition stage, no per-document Python.

The reference has no analogue (it is a generic MR pipeline); these exist
for the LLM-pipeline north star.  Both are pure functions of the data:
reruns and partial recomputes give identical assignments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale import global_rank_scalable, prefix_scalable


def pack_documents(
    docs: DataFrame,
    token_col: str,
    budget: int,
    order_by: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each document its token-stream position and pack range.

    Adds ``start_offset`` (tokens before this document in ``order_by``
    order), ``first_pack`` / ``last_pack`` (the ``budget``-token windows
    the document's tokens land in), and ``n_packs_spanned``.  Documents
    with zero tokens occupy no window; their first/last pack is the
    window their offset points at.

    Scale: one range exchange + P-row offset collect
    (`scale.prefix_scalable`, the same range pass as the scalable
    rank/sliding family) — per-task memory O(n/P), shuffle carries each
    row once.
    """
    out = prefix_scalable(
        docs, order_by, token_col, out_col="_prefix", num_partitions=num_partitions
    )
    start = (F.col("_prefix") - F.col(token_col)).cast("long")
    end_incl = (F.col("_prefix") - F.lit(1)).cast("long")  # last token's offset
    budget = int(budget)
    return (
        out.withColumn("start_offset", start)
        .withColumn("_end_incl", end_incl)
        # Integer DIV, not floor(float /): offsets are non-negative longs, so
        # DIV == floor and stays exact past 2^53 total tokens.
        .withColumn("first_pack", F.expr(f"start_offset DIV {budget}"))
        .withColumn(
            "last_pack",
            F.when(F.col(token_col) > 0, F.expr(f"_end_incl DIV {budget}")).otherwise(
                F.col("first_pack")
            ),
        )
        .withColumn("n_packs_spanned", (F.col("last_pack") - F.col("first_pack") + F.lit(1)))
        .drop("_prefix", "_end_incl")
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the chunking step feeding embedding/retrieval indexes and
    long-document training.  Chunk i covers tokens [i·stride,
    i·stride + chunk_tokens) with stride = chunk_tokens − overlap; the
    last chunk may be short; a non-empty document yields at least one
    chunk; empty documents yield none.

    Pure per-row explode — no shuffle at all: each document's chunks
    are computed from its own token array, so the plan is a map-only
    stage that scales embarrassingly.  All index math is integer
    (`DIV`-style), exact on any engine.

    Output: (id, chunk_idx, token_start, chunk_len, chunk_md5) where
    chunk_md5 fingerprints the space-joined token slice.
    """
    from ..functions.text import tokens

    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != F.lit(""))
    out = docs.select(F.col(id_col), toks.alias("_toks")).where(
        F.size("_toks") >= 1
    )
    n = F.size("_toks")
    n_chunks = F.when(
        n > overlap, F.expr(f"(size(_toks) - {overlap} + {stride - 1}) DIV {stride}")
    ).otherwise(F.lit(1))
    out = out.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    ).withColumn("token_start", (F.col("chunk_idx") * stride).cast("long"))
    chunk = F.slice(F.col("_toks"), F.col("token_start") + 1, chunk_tokens)
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "token_start",
        F.size(chunk).cast("long").alias("chunk_len"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def deterministic_shuffle(
    df: DataFrame,
    key_cols: list[str],
    rank_col: str = "shuffle_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic pseudo-random global permutation for training-data
    ordering: rank rows by ``md5(key)`` (any engine reproduces it — no
    seed state, no RNG), ties broken by the key itself.  The rank comes
    from the scalable two-pass path, so the plan is a range exchange on
    the hash — no single-partition stage, and a rerun or partial
    recompute yields the identical permutation.
    """
    hashed = df.withColumn(
        "_h", F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols]))
    )
    out = global_rank_scalable(
        hashed, ["_h", *key_cols], rank_col=rank_col, num_partitions=num_partitions
    )
    return out.drop("_h")
