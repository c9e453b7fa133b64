"""Subword tokenization counts — the tokenizer-exact feed for sequence
packing (``pack_documents(n_tokens_col=...)``).

The reference pipeline has no tokenizer (it emits OWL, not training
shards); this operator exists for the LLM-data-pipeline surface: packing
must budget in REAL tokenizer tokens, not whitespace words, and the
standard flow runs the tokenizer once, persists the count, and packs
against it.

The tokenizer is a greedy longest-prefix-match subword scheme
(WordPiece-style, no continuation marker): each whitespace word is
consumed left-to-right, at every position taking the LONGEST vocabulary
piece that prefixes the remainder, falling back to a single character.
That is the exact greedy semantic of published WordPiece inference
(`100 words = chars` worst case, merges shrink it), chosen because it is
replayable bit-identically by an engine-portable oracle (DuckDB recursive
CTE over distinct words).

Implementation is a pure JVM expression — NO UDF: ``transform`` over the
word array with an inner ``aggregate`` over character positions carrying
``(pos, cnt)`` struct state; the longest-match probe is a ``when`` chain
of per-length ``isin`` literal sets (codegen'd hash probes).  Cost is
O(len(word) x n_piece_lengths) per word, embarrassingly parallel, no
shuffle, no Python — the same posture at 10^9 documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.text import _tokens

#: Default subword pieces (lengths 2-4).  A fixed, plan-time literal
#: vocabulary: real pipelines would derive one from `token_vocab` /
#: learned BPE merges and pass it in — the operator takes any list whose
#: pieces are >=2 chars and whitespace-free (single chars are the
#: implicit fallback).
DEFAULT_SUBWORD_VOCAB: tuple[str, ...] = (
    # 2-char pieces
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "ed", "is", "it", "al", "ar", "st",
    "to", "nt", "ng", "se", "ha", "as", "ou", "io", "le", "ve",
    "co", "me", "de", "hi", "ri", "ro", "ic", "ne", "ea", "ra",
    # 3-char pieces
    "the", "ing", "and", "ion", "ent", "for", "ter", "ate", "row",
    "tab", "val", "sca", "ort", "umn", "dow",
    # 4-char pieces
    "tion", "ment", "with", "part", "hash", "join", "sort", "fast",
    "data", "park", "atch", "ndow", "lumn", "ream", "roup", "uery",
)


def _match_len(word: Column, pos: Column, by_len: dict[int, list[str]]) -> Column:
    """Length of the longest vocab piece prefixing ``word`` at 1-based
    ``pos`` (1 if none — single-char fallback).  ``substring`` returns a
    short string near the word end, which cannot equal a full-length
    piece, so end-of-word is handled for free."""
    expr = F.lit(1)
    for length in sorted(by_len):  # ascending: longest ends up outermost
        probe = F.substring(word, pos, length).isin(*by_len[length])
        expr = F.when(probe, F.lit(length)).otherwise(expr)
    return expr


def subword_token_counts(
    df: DataFrame,
    vocab: list[str] | tuple[str, ...] | None = None,
) -> DataFrame:
    """Per-document exact subword token count of ``text`` under greedy
    longest-prefix matching against ``vocab``: ``(doc_id, n_tokens)``.

    Words come from the same RE2 whitespace split the rest of the text
    surface uses; each word folds left-to-right over its character
    positions (``aggregate`` over ``sequence(1, len)``) advancing by the
    matched piece length and counting one token per piece.  Feed the
    output to :func:`~omop2owl_vocab_spark.operators.pack.pack_documents`
    via ``n_tokens_col="n_tokens"`` to pack in tokenizer-exact budget.
    """
    pieces = list(DEFAULT_SUBWORD_VOCAB if vocab is None else vocab)
    if not pieces:
        raise ValueError("vocab must be non-empty (or None for the default)")
    seen: set[str] = set()
    by_len: dict[int, list[str]] = {}
    for p in pieces:
        if len(p) < 2 or any(c.isspace() for c in p):
            raise ValueError(
                f"vocab pieces must be >=2 chars and whitespace-free: {p!r}"
            )
        if p in seen:
            continue
        seen.add(p)
        by_len.setdefault(len(p), []).append(p)

    # the shared corpus word-split (text.py:_tokens — the oracle design
    # depends on every operator using the identical RE2 split); NULL text
    # normalizes to zero tokens (F1 convention), matching the oracle's
    # LEFT JOIN + COALESCE(SUM, 0)
    words = _tokens(F.coalesce(F.col("text"), F.lit("")))

    def word_tokens(w: Column) -> Column:
        zero = F.struct(
            F.lit(1).cast("int").alias("pos"), F.lit(0).cast("long").alias("cnt")
        )

        def step(acc: Column, i: Column) -> Column:
            mlen = _match_len(w, acc["pos"], by_len)
            advanced = F.struct(
                (acc["pos"] + mlen).cast("int").alias("pos"),
                (acc["cnt"] + 1).cast("long").alias("cnt"),
            )
            # positions inside an already-matched piece pass through
            return F.when(i == acc["pos"], advanced).otherwise(acc)

        return F.aggregate(
            F.sequence(F.lit(1), F.length(w)), zero, step, lambda acc: acc["cnt"]
        )

    n_tok = F.aggregate(
        F.transform(words, word_tokens),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return df.select("doc_id", n_tok.alias("n_tokens"))


def subword_vocab_from_corpus(
    df: DataFrame,
    n_pieces: int = 64,
    min_len: int = 2,
    max_len: int = 4,
) -> DataFrame:
    """Derive the subword piece vocabulary FROM the corpus — the
    `token_vocab`-style merge table the tokenizer then matches against:
    the ``n_pieces`` most frequent character n-grams (lengths
    ``min_len``..``max_len``) across all word occurrences in ``text``,
    ranked by a TOTAL order (count desc, piece asc) so the cut at
    ``n_pieces`` is deterministic and engine-portable (the DuckDB oracle
    re-derives the identical set).

    Plan shape: explode words → explode per-position substrings (both
    narrow, O(len x n_lengths) per word) → one partial-combining hash
    aggregate on the piece → TakeOrderedAndProject for the top-k — the
    same no-global-sort shape as ``token_vocab`` (plan-pinned there).
    Output: ``(piece, n_occurrences)``.  Feed ``[r.piece for r in
    ...collect()]`` into :func:`subword_token_counts`.
    """
    if not (1 <= min_len <= max_len):
        raise ValueError("need 1 <= min_len <= max_len")
    if n_pieces <= 0:
        raise ValueError("n_pieces must be positive")
    words = F.explode(
        _tokens(F.coalesce(F.col("text"), F.lit("")))
    ).alias("w")
    w = F.col("w")
    pieces = F.explode(
        F.flatten(
            F.transform(
                F.sequence(F.lit(min_len), F.lit(max_len)),
                # guard: Spark's sequence(1, n) DESCENDS when n < 1, so a
                # word shorter than L must yield an empty array, not [1,0]
                lambda L: F.when(
                    F.length(w) >= L,
                    F.transform(
                        F.sequence(F.lit(1), F.length(w) - L + 1),
                        lambda p: F.substring(w, p, L),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        )
    ).alias("piece")
    return (
        df.select(words)
        .select(pieces)
        .groupBy("piece")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("piece"))
        .limit(n_pieces)
    )


def subword_vocab_sql_values(vocab: list[str] | tuple[str, ...] | None = None) -> str:
    """The vocabulary as a SQL ``VALUES`` list — oracle-side twin so a
    DuckDB recursive-CTE re-derivation tokenizes against the identical
    piece set."""
    pieces = list(DEFAULT_SUBWORD_VOCAB if vocab is None else vocab)
    uniq = list(dict.fromkeys(pieces))
    quoted = ", ".join("('" + p.replace("'", "''") + "')" for p in uniq)
    return quoted
