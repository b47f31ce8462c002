"""Sequence packing: concat-and-chunk documents into fixed token windows.

LLM pretraining does not feed one document per example — it CONCATENATES
the corpus in a deterministic order and slices the stream into
context-length windows (GPT-2/3-style packing; T5 calls it "packing",
TPU pipelines "example packing").  A 100 TB packer has two hard
requirements the naive formulation misses:

- NO GLOBAL ORDER.  One ``orderBy`` over the corpus funnels everything
  through a single range exchange.  Real packers shard first (by file,
  bucket, or hash) and pack each shard independently — chunk boundaries
  never cross shards, so shards parallelize perfectly and a re-pack of
  one shard leaves every other chunk id stable.
- CLOSED-FORM chunk assignment.  Greedy "start a new bin when full" is
  a sequential scan; the concat-and-chunk rule is instead pure window
  arithmetic: with per-document token counts ``n`` and the running
  total ``end = sum(n) over (shard order by id)``, a document occupies
  stream positions ``[end - n, end)`` and therefore chunks
  ``floor(start / L) .. floor((end - 1) / L)`` — one cumulative-sum
  window plus an explode of the (usually length-1) chunk span.

Documents longer than L or straddling a boundary SPLIT — each emitted
row carries the slice geometry (``slice_start``/``slice_len`` within the
document, ``chunk_offset`` within the chunk), so a downstream tokenizer
can materialize exact windows without re-deriving the arithmetic.  Every
chunk is exactly L tokens except each shard's last.

Cost shape: one shuffle (by shard, for the window), output-sized explode,
zero Python.  The whole packer is Catalyst expressions, so it rides
whole-stage codegen and the DuckDB oracle can replay it bit-for-bit
(same window, same integer division).

Extension scope like mixture.py: the packer is the bridge from the
curated corpus (pipeline_curation) to trainer-shaped examples.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def concat_and_chunk(
    df: DataFrame,
    chunk_tokens: int,
    n_tokens_col: str = "n_tokens",
    id_col: str | Sequence[str] = "doc_id",
    shard_col: str | None = None,
    base_col: str | None = None,
) -> DataFrame:
    """(shard?, chunk_id, id, slice_start, slice_len, chunk_offset) rows.

    ``chunk_id`` is shard-local and dense from 0; a document appears once
    per chunk it overlaps.  ``slice_start`` is the first packed token's
    offset WITHIN the document, ``chunk_offset`` its position within the
    chunk; ``sum(slice_len) over chunk == chunk_tokens`` for every chunk
    but each shard's last.  Zero-token documents pack nowhere and are
    dropped (they contribute no training signal; keeping them would pin
    empty slices to arbitrary chunks).

    With ``shard_col=None`` the whole frame is one shard — correct, but
    the window runs on a single partition; at scale ALWAYS shard (the
    module docstring's first requirement).

    ``id_col`` only fixes the concat order — for RANDOMIZED training
    order, pre-project a hash key (operators/mixture.mix_uniform) and
    pass it here: the packing invariants hold for any total order.

    The order key must be UNIQUE per shard.  The cumsum window is pinned
    to a ROWS frame (the oracle's ``ROWS UNBOUNDED PRECEDING``) — with a
    RANGE frame, tied keys would share one ``__end`` and their slices
    would overlap; with ROWS, tied keys get a well-defined cumsum but the
    order WITHIN the tie (hence which doc owns which stream positions) is
    not deterministic across runs.  Post-mixture frames carry duplicate
    ``doc_id``s (copies differ only in ``copy_id``): pass a composite
    key, e.g. ``id_col=["doc_id", "copy_id"]``.

    ``base_col`` names a per-row bigint column holding the ABSOLUTE
    stream offset at which this frame's shard begins (constant within a
    shard), so batch-local cumsums land at corpus-absolute positions and
    ``chunk_id``s continue from it.  ``None`` (batch mode) packs from 0.
    It is the parity reference for ``assemble_chunks_fused(base_col=...)``
    — the streaming assembler's (``streaming/packing.py``) base offset —
    which tests/test_packing.py checks against this geometry joined
    through ``assemble_chunks``.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    shard = [shard_col] if shard_col else []
    w = (
        Window.partitionBy(*shard)
        .orderBy(*id_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.col(n_tokens_col).cast("bigint")
    base = (
        F.coalesce(F.col(base_col).cast("bigint"), F.lit(0))
        if base_col
        else F.lit(0).cast("bigint")
    )
    out = (
        df.filter(n > 0)
        .withColumn("__end", base + F.sum(n).over(w))
        .withColumn("__start", F.col("__end") - n)
        .withColumn(
            "chunk_id",
            F.explode(
                F.sequence(
                    F.floor(F.col("__start") / chunk_tokens),
                    F.floor((F.col("__end") - 1) / chunk_tokens),
                )
            ),
        )
    )
    chunk_lo = F.col("chunk_id") * chunk_tokens
    lo = F.greatest(F.col("__start"), chunk_lo)
    hi = F.least(F.col("__end"), chunk_lo + chunk_tokens)
    return out.select(
        *shard,
        "chunk_id",
        *id_cols,
        (lo - F.col("__start")).alias("slice_start"),
        (hi - lo).alias("slice_len"),
        (lo - chunk_lo).alias("chunk_offset"),
    )


def assemble_chunks_fused(
    df: DataFrame,
    chunk_tokens: int,
    id_col: str = "doc_id",
    shard_col: str = "shard",
    toks_col: str = "toks",
    base_col: str | None = None,
) -> DataFrame:
    """``concat_and_chunk`` + ``assemble_chunks`` in ONE pass over the
    token frame — the collocated form assemble_chunks' docstring
    prescribes for scale ("generate the geometry from the token frame
    itself so the join is collocated").

    The separate-geometry form evaluates its input twice (once for the
    count projection feeding the window, once for the token side of the
    join) and pays the join's exchanges; when the input is an unpersisted
    micro-batch whose token array is COMPUTED (the streaming assembler's
    tokenize projection), that is two tokenizer passes per batch.  Here
    the token arrays ride through the one shard-keyed window exchange,
    geometry is computed in place, and the (shard, chunk_id) aggregation
    reuses the window's hash partitioning (shard ⊂ grouping keys), so the
    whole assembly is: one evaluation of the input, one exchange.

    Output and arithmetic are IDENTICAL to
    ``assemble_chunks(concat_and_chunk(df, ...), df, ...)`` when every
    geometry row finds its token row — trivially true here because both
    come from the same rows (parity pytest-pinned).  Zero-token documents
    drop, same as concat_and_chunk.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.size(F.col(toks_col)).cast("bigint")
    base = (
        F.coalesce(F.col(base_col).cast("bigint"), F.lit(0))
        if base_col
        else F.lit(0).cast("bigint")
    )
    out = (
        df.filter(n > 0)
        .withColumn("__end", base + F.sum(n).over(w))
        .withColumn("__start", F.col("__end") - n)
        .withColumn(
            "chunk_id",
            F.explode(
                F.sequence(
                    F.floor(F.col("__start") / chunk_tokens),
                    F.floor((F.col("__end") - 1) / chunk_tokens),
                )
            ),
        )
    )
    chunk_lo = F.col("chunk_id") * chunk_tokens
    lo = F.greatest(F.col("__start"), chunk_lo)
    hi = F.least(F.col("__end"), chunk_lo + chunk_tokens)
    piece = F.slice(
        F.col(toks_col),
        (lo - F.col("__start") + 1).cast("int"),
        (hi - lo).cast("int"),
    )
    return (
        out.select(
            shard_col,
            "chunk_id",
            F.struct(
                (lo - chunk_lo).alias("chunk_offset"), piece.alias("piece")
            ).alias("p"),
        )
        .groupBy(shard_col, "chunk_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("p")), lambda s: s["piece"]
                )
            ).alias("toks")
        )
        .withColumn("n_tokens", F.size("toks").cast("bigint"))
    )


def assemble_chunks(
    packed: DataFrame,
    tokens_df: DataFrame,
    id_cols: str | Sequence[str] = "doc_id",
    shard_col: str | None = None,
    toks_col: str = "toks",
) -> DataFrame:
    """Materialize trainer-shaped examples from slice geometry: one row
    per (shard?, chunk_id) with the chunk's ordered token array.

    ``packed`` is ``concat_and_chunk`` output; ``tokens_df`` maps the same
    id columns to each document's token array (``toks_col``).  The chunk
    content is assembled with pure Catalyst expressions — ``slice`` each
    document's tokens by its slice geometry, ``sort_array`` the collected
    (chunk_offset, piece) structs, ``flatten`` — so the assembly is
    bit-deterministic and rides whole-stage codegen; zero Python.

    Invariant (pinned by tests): ``size(toks) == sum(slice_len) ==
    chunk_tokens`` for every chunk except each shard's last, and the
    concatenation of a shard's chunks in chunk_id order IS the shard's
    document stream in order-key order.

    Cost shape: one join (geometry rows x token arrays, on the id — at
    scale co-partition both sides on the id or generate the geometry
    from the token frame itself so the join is collocated) plus one
    aggregation exchange on (shard, chunk_id).  The heavy token arrays
    cross the shuffle exactly once, already cut down to the slice.
    """
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    keys = ([shard_col] if shard_col else []) + ["chunk_id"]
    piece = F.slice(
        F.col(toks_col),
        (F.col("slice_start") + 1).cast("int"),
        F.col("slice_len").cast("int"),
    )
    return (
        packed.join(tokens_df, ids)
        .select(
            *keys,
            F.struct(
                F.col("chunk_offset"), piece.alias("piece")
            ).alias("p"),
        )
        .groupBy(*keys)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("p")), lambda s: s["piece"]
                )
            ).alias("toks")
        )
        .withColumn("n_tokens", F.size("toks").cast("bigint"))
    )
