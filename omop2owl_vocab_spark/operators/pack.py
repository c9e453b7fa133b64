"""Pre-tokenization corpus mechanics: deterministic dataset splits and
sequence-packing bookkeeping — the two bits of arithmetic every training
pipeline runs between curation and shard writing.

Both are pure JVM expressions / window aggregates (no UDFs) and both use
engine-portable derivations (md5 buckets, per-shard windows) so the
DuckDB oracles replay them bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.text import RE2_WS


def train_val_test_split(
    df: DataFrame,
    val_pct: int = 5,
    test_pct: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Deterministic stratum per ``doc_id``: ``train`` / ``val`` / ``test``.

    Bucket = first byte of md5(f"{seed}:{doc_id}") → 0..255; granularity is
    1/256 ≈ 0.4% (documented — pass percentages accordingly).  Hashing
    (not modulo on the id) keeps the split independent of id assignment
    order, stable under corpus growth, and reproducible across engines
    and cluster sizes; changing ``seed`` re-deals every document.  One
    narrow projection — no shuffle, no state.
    """
    if val_pct + test_pct >= 100:
        raise ValueError("val_pct + test_pct must leave room for train")
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.lit(str(seed)), F.col("doc_id").cast("string"))
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("long")
    val_hi = 256 * val_pct // 100
    test_hi = val_hi + 256 * test_pct // 100
    split = (
        F.when(bucket < val_hi, "val")
        .when(bucket < test_hi, "test")
        .otherwise("train")
    )
    return df.select(
        "doc_id", bucket.alias("split_bucket"), split.alias("split")
    )


def pack_documents(
    df: DataFrame,
    ctx_len: int = 2048,
    n_shards: int = 8,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Concatenate-then-chunk packing bookkeeping: which context window
    (``pack_id``) and token range each document lands in when the corpus
    is concatenated shard-by-shard in id order and cut every ``ctx_len``
    tokens — the standard GPT-style packing layout.

    Documents are hash-assigned to ``n_shards`` independent shards
    (md5 bucket — same portable derivation as the split) and the running
    token count is a window SUM **per shard**: the window never sees more
    than one shard, so at 10⁹ docs this is n_shards independent linear
    scans, not one global sort — raise ``n_shards`` with the corpus (one
    shard ≈ one output file of ctx-sized rows).  Token counts default to
    whitespace tokens of ``text``; pass ``n_tokens_col`` naming a
    precomputed (tokenizer-exact) count column to budget in real tokens
    — the standard flow runs the tokenizer once upstream, persists the
    count, and packs against it.  Output: (doc_id, shard, n_tokens,
    tok_start, tok_end, pack_id) with ``tok_start`` the document's offset
    in its shard's concatenated token stream and ``pack_id`` = tok_start
    // ctx_len (documents straddling a boundary belong to the pack they
    start in; the writer splits them downstream).
    """
    if ctx_len <= 0 or n_shards <= 0:
        raise ValueError("ctx_len and n_shards must be positive")
    if n_tokens_col is not None:
        n_tok = F.col(n_tokens_col).cast("long")
    else:
        n_tok = F.size(
            F.filter(
                F.split(F.trim(F.col("text")), RE2_WS + "+"),
                lambda t: t != "",
            )
        ).cast("long")
    shard = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
        ).cast("long")
        % n_shards
    )
    base = df.select(
        "doc_id",
        shard.alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    out = base.select(
        "doc_id",
        "shard",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("tok_start"),
        cum.alias("tok_end"),
    )
    # `div` is exact integral division on longs — no double round-trip, so
    # pack_id stays correct past the 2^53 cumulative-token mark where
    # float division would go off by one window.  ctx_len rides along as
    # column metadata so pack_slices can verify it at plan time.
    return out.select(
        "*",
        F.expr(f"tok_start div {int(ctx_len)}").alias(
            "pack_id", metadata={"ctx_len": int(ctx_len)}
        ),
    )


def pack_slices(packed: DataFrame, ctx_len: int = 2048) -> DataFrame:
    """Writer-side splitter over ``pack_documents`` output: one row per
    (document, context window it overlaps), with exact token offsets on
    both axes — a shard writer cuts ctx_len windows directly from these
    rows, including documents that straddle pack boundaries (which
    ``pack_documents`` books to their START pack only).

    A document covering shard-stream tokens [tok_start, tok_end) overlaps
    packs ⌊tok_start/ctx⌋ .. ⌊(tok_end−1)/ctx⌋; ``sequence``+``explode``
    emits one slice per overlapped pack — a NARROW op (no shuffle: the
    only exchange in the composed plan stays the per-shard window
    upstream), and the explode fan-out per row is ≤ ⌈n_tokens/ctx⌉+1.
    Zero-token documents occupy no window and emit no slice.

    Output per slice: ``pack_id``, document-relative offsets
    [doc_tok_start, doc_tok_end), pack-relative offsets
    [pack_tok_start, pack_tok_end), and ``n_slice_tokens``.  Invariants
    (oracle-checked): slices of a doc tile [0, n_tokens) gaplessly, and
    per (shard, pack_id) the slice sum is exactly ctx_len except each
    shard's final pack.
    """
    if ctx_len <= 0:
        raise ValueError("ctx_len must be positive")
    # guard against a ctx_len that disagrees with the upstream
    # pack_documents call.  Primary check: pack_documents stamps ctx_len
    # as metadata on the pack_id field — a plan-time, zero-cost, exact
    # comparison that cannot be fooled by coincidentally-agreeing early
    # windows.  Fallback (frames built by hand, e.g. read back from a
    # store that drops metadata): per-row recompute of the first
    # overlapped window vs the pack_id column — raise_error per row (the
    # when-branch feeds sequence(), so Catalyst cannot prune the check
    # away) instead of silently cutting wrong windows.
    meta = packed.schema["pack_id"].metadata if "pack_id" in packed.columns else {}
    stamped = meta.get("ctx_len")
    if stamped is not None and int(stamped) != int(ctx_len):
        raise ValueError(
            f"pack_slices ctx_len={ctx_len} disagrees with the packed "
            f"frame's ctx_len={stamped} (stamped by pack_documents) — "
            "pass the same ctx_len to both"
        )
    recomputed_first = F.expr(f"tok_start div {int(ctx_len)}")
    first = F.when(recomputed_first == F.col("pack_id"), recomputed_first).otherwise(
        F.raise_error(
            F.lit(
                f"pack_slices ctx_len={ctx_len} disagrees with the "
                "pack_id column produced by pack_documents — pass the "
                "same ctx_len to both"
            )
        ).cast("long")
    )
    last = F.expr(f"(tok_end - 1) div {int(ctx_len)}")
    s = packed.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "shard",
        "tok_start",
        "tok_end",
        F.explode(F.sequence(first, last)).alias("pack_id"),
    )
    slice_start = F.greatest("tok_start", F.col("pack_id") * ctx_len)
    slice_end = F.least("tok_end", (F.col("pack_id") + 1) * ctx_len)
    return s.select(
        "doc_id",
        "shard",
        "pack_id",
        (slice_start - F.col("tok_start")).alias("doc_tok_start"),
        (slice_end - F.col("tok_start")).alias("doc_tok_end"),
        (slice_start - F.col("pack_id") * ctx_len).alias("pack_tok_start"),
        (slice_end - F.col("pack_id") * ctx_len).alias("pack_tok_end"),
        (slice_end - slice_start).alias("n_slice_tokens"),
    )
