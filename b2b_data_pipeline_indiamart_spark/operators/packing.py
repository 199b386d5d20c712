"""Sequence packing: group documents into fixed-token-budget bins.

Training pipelines pack variable-length documents into fixed-size
token windows so no sequence slot is wasted. The distributed shape:

1. every doc gets a deterministic pack bucket (``xxhash64(id) %
   n_buckets``) — buckets are packed INDEPENDENTLY, so parallelism is
   ``n_buckets`` and per-task state is ``corpus / n_buckets`` docs. At
   100 TB you size ``n_buckets`` so a bucket's (id, token-count) pairs
   fit one task (the doc TEXT never ships — only ids and counts).
2. within a bucket, docs are packed greedily in ``doc_id`` order
   (first-fit on the current bin, open a new bin when the budget would
   overflow) inside one ``applyInPandas`` call — pure Python over two
   int columns, Arrow-batched.

The result is deterministic for any partitioning/retry: bucket id is a
pure hash and the in-bucket order is total (doc_id). Greedy-next-fit
wastes at most one doc's tokens per bin boundary vs. bin-packing
optimal; that is the standard trade for a single sequential pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PACK_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("pack_bucket", T.IntegerType()),
        T.StructField("bin_id", T.LongType()),
        T.StructField("bin_fill", T.LongType()),
    ]
)


def pack_sequences(
    docs: DataFrame,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    n_buckets: int = 8,
    bucket_mode: str = "hash",
) -> DataFrame:
    """(doc_id, n_tokens, pack_bucket, bin_id, bin_fill): greedy
    next-fit packing of docs into bins of at most ``budget`` tokens
    per (independent) bucket.

    ``bin_fill`` is the bin's running total after this doc — the last
    doc of a bin carries the bin's final fill. A single doc larger than
    ``budget`` gets a bin of its own (never split, never dropped).

    ``bucket_mode``: ``"hash"`` (xxhash64 — robust to any id pattern)
    or ``"mod"`` (``id % n_buckets`` — same balance for dense ids, and
    expressible in ANSI SQL, which is what lets the registered query
    carry a DuckDB recursive-CTE oracle for this applyInPandas path).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    did = F.col(id_col).cast("long")
    bucket = (
        F.pmod(F.xxhash64(did), F.lit(n_buckets))
        if bucket_mode == "hash"
        else F.pmod(did, F.lit(n_buckets))
    )
    src = docs.select(
        did.alias("doc_id"),
        F.coalesce(F.col(token_col).cast("long"), F.lit(0)).alias("n_tokens"),
        bucket.cast("int").alias("pack_bucket"),
    )

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bin_ids, fills = [], []
        bin_id, fill = 0, 0
        for tok in pdf["n_tokens"]:
            tok = int(tok)
            if fill > 0 and fill + tok > budget:
                bin_id += 1
                fill = 0
            fill += tok
            bin_ids.append(bin_id)
            fills.append(fill)
        pdf["bin_id"] = bin_ids
        pdf["bin_fill"] = fills
        return pdf[["doc_id", "n_tokens", "pack_bucket", "bin_id", "bin_fill"]]

    return src.groupBy("pack_bucket").applyInPandas(pack, schema=_PACK_OUT)


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    stride: int = 24,
    prepared: bool = False,
) -> DataFrame:
    """Fixed-window token chunking with overlap — the context-window
    splitter of RAG / pretraining pipelines: doc → chunks of ``size``
    whitespace tokens starting every ``stride`` tokens (``size -
    stride`` tokens of overlap), last chunk ragged. Docs that
    normalize to empty/null text produce no chunks.

    Pure Catalyst and map-only: tokenization, the chunk-start
    ``sequence()``, the per-chunk ``slice``/``array_join``, and the
    ``explode`` all run inside the projection — zero shuffle at any
    corpus size, output rows ∝ input tokens / stride.
    """
    from .dedup import word_tokens

    n_chunks = (
        F.ceil(F.greatest(F.size("__toks") - size, F.lit(0)) / float(stride)) + 1
    ).cast("int")
    chunk = lambda i: F.struct(  # noqa: E731
        i.alias("chunk_id"),
        F.least(F.lit(size), F.size("__toks") - i * stride).cast("long").alias("n_tokens"),
        F.array_join(F.slice(F.col("__toks"), i * stride + 1, size), " ").alias(
            "chunk_text"
        ),
    )
    toks_src = (
        docs.select(F.col(id_col), F.col("__toks"))
        if prepared  # __toks precomputed by the shared pipeline projection
        else docs.select(F.col(id_col), word_tokens(F.col(text_col)).alias("__toks"))
    )
    return (
        toks_src.filter(F.size("__toks") >= 1)
        .select(
            id_col,
            F.explode(F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk)).alias(
                "__c"
            ),
        )
        .select(
            id_col,
            F.col("__c.chunk_id").cast("int").alias("chunk_id"),
            F.col("__c.n_tokens").alias("n_tokens"),
            F.col("__c.chunk_text").alias("chunk_text"),
        )
    )
