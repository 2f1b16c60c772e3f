"""Composable corpus-cleaning pipeline — the packaged form of the flow the
extension operators exist for (quality gate → exact dedup → near-dup
removal), ending in a DataFrame ready to fingerprint, embed, or serve as a
domain.

Every stage is the already-tested operator; this module only owns the
composition and the keep-policy (smallest id survives each duplicate
group). Stages toggle off with ``None``/``False`` so callers pay only for
what they use; the whole pipeline is lazy — one optimized plan. The
minhash and jaccard detectors pin their shingle index
(:func:`elephantdb_spark.pinning.pin`): call
:func:`elephantdb_spark.pinning.release_pins` after the action that
consumes the pipeline's output, never before. Callers who will
materialize the result several times should persist their own input
upstream, keeping the unpersist handle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elephantdb_spark.functions.text import token_count_col
from elephantdb_spark.operators.components import connected_components
from elephantdb_spark.operators.dedup import (
    exact_dedup,
    jaccard_shingle_pairs,
    minhash_lsh_pairs,
    simhash_neardup_pairs,
)


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int | None = 30,
    drop_exact_dups: bool = True,
    neardup: str | None = "minhash",
    neardup_threshold: float = 0.6,
    num_perm: int = 64,
    bands: int = 16,
    shingle_len: int = 3,
    max_hamming: int = 3,
    neardup_scope: str = "components",
    broadcast_losers: bool = True,
) -> DataFrame:
    """Quality-gate, dedup, and near-dup-clean a document corpus.

    Stages (each optional):

    1. quality gate — drop docs under ``min_tokens`` whitespace tokens
       (pure column expression, evaluated in the scan's plan);
    2. exact dedup — one survivor per identical ``text_col``, the smallest
       ``id_col`` (one hash-aggregate shuffle);
    3. near-dup removal — ``neardup`` picks the detector:
       ``"minhash"`` (MinHash-LSH + exact-Jaccard verify, the scale path),
       ``"jaccard"`` (exact shingle Jaccard, quadratic in bucket size),
       ``"simhash"`` (banded hamming). ``neardup_scope`` picks the keep
       policy over the detected pairs: ``"components"`` (default) runs
       connected components and keeps exactly ONE doc — the smallest id —
       per near-dup cluster; ``"pairs"`` drops the greater id of each
       pair, which keeps every LOCAL minimum (a cluster like {1,5} {3,5}
       keeps both 1 and 3 — cheaper, one fewer iterative stage, but a
       weaker guarantee).

    ``broadcast_losers`` broadcasts the near-dup loser set into the final
    anti-join (default: it is detector-bounded ≪ corpus); pass ``False``
    on a high-duplication corpus where the loser set could exceed the
    8 GB broadcast limit — the anti-join then shuffles on the id.

    Returns the surviving rows of ``docs`` (all original columns).
    """
    if neardup not in (None, "minhash", "jaccard", "simhash"):
        raise ValueError(f"unknown neardup detector {neardup!r}")
    if neardup_scope not in ("components", "pairs"):
        raise ValueError(f"unknown neardup_scope {neardup_scope!r}")
    out = docs
    if min_tokens is not None:
        out = out.filter(token_count_col(F.col(text_col)) >= min_tokens)
    if drop_exact_dups:
        survivors = exact_dedup(out, [text_col], id_col).select(
            F.col("keep_id").alias(id_col)
        )
        out = out.join(survivors, id_col)
    if neardup == "minhash":
        pairs = minhash_lsh_pairs(
            out, id_col, text_col,
            num_perm=num_perm, bands=bands,
            shingle_len=shingle_len, threshold=neardup_threshold,
        )
    elif neardup == "jaccard":
        pairs = jaccard_shingle_pairs(
            out, id_col, text_col,
            shingle_len=shingle_len, threshold=neardup_threshold,
        )
    elif neardup == "simhash":
        pairs = simhash_neardup_pairs(
            out, id_col, text_col,
            max_hamming=max_hamming, shingle_len=shingle_len,
        )
    else:
        pairs = None
    if pairs is not None:
        if neardup_scope == "components":
            comps = connected_components(pairs, "a", "b")
            losers = comps.filter(F.col("node") != F.col("cluster")).select(
                F.col("node").alias(id_col)
            )
        else:
            losers = pairs.select(F.greatest("a", "b").alias(id_col)).distinct()
        # losers are detector-bounded (≪ corpus): broadcast the anti-join
        # so the surviving corpus never shuffles
        if broadcast_losers:
            losers = F.broadcast(losers)
        out = out.join(losers, id_col, "left_anti")
    return out
