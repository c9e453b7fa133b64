"""Deduplication operators for training-data pipelines.

Scale posture (100 TB corpus, 10⁹+ docs):

- exact: one hash-aggregate shuffle on a 32-byte key — the cheapest
  possible global dedup; AQE handles the (rare) giant-duplicate-group skew.
- minhash LSH: shingle→minhash→band→bucket-join. Candidate generation is
  linear in corpus size (explode k band keys per doc, groupBy band key);
  only same-bucket pairs are verified, never the n² cross join.
- simhash: 64-bit signature per doc via one Arrow-vectorized pandas UDF
  (the bit-twiddling genuinely doesn't fit builtin exprs); near-dup pairs
  = same value on ≥1 of 4 16-bit bands (Hamming ≤ 3 guarantee).
- n-gram Jaccard: exact verification operator for candidate pairs (and a
  small-scale direct pair finder for tests/oracles).
- embedding cosine: see operators/similarity.py (near-dup = cos ≥ τ).

Every pair finder here — LSH and SimHash buckets, winnowed fingerprints,
Jaccard and containment verification — and the co-occurrence, node
similarity and link-prediction operators in `operators/graph.py` run on
one shared-key pair join, `_shared_key_pairs`: SparkER's blocking →
block purging → pair count (PAPERS.md), written once.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.fixpoint import materialize
from omop2owl_vocab_spark.operators.text import RE2_WS, _e4


def _purge_keys(rows: DataFrame, key: str | list[str], cap: int) -> DataFrame:
    """Block purging: drop the rows of every ``key`` (a column name or
    list of names) held by more than ``cap`` rows."""
    small = (
        rows.groupBy(key)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") <= cap)
        .drop("__n")
    )
    return rows.join(small, key, "left_semi")


def _shared_key_pairs(
    rows: DataFrame,
    key: str | list[str],
    *,
    id_col: str = "id",
    max_postings: int | None = None,
    within: DataFrame | None = None,
) -> DataFrame:
    """``(id_a, id_b, n)``: every pair of ids with ``id_a < id_b`` that
    shares ``n`` >= 1 keys — the candidate step of every set-similarity
    join in this module and in `operators/graph.py`, written once.

    ``rows`` has columns ``(id_col, *key)`` and MUST be distinct per
    ``(id_col, key)``: ``n`` counts joined rows, so a repeated row would
    count its key twice.  No defensive ``distinct`` (it would add a
    shuffle); ``word_shingles`` (``array_distinct``),
    ``winnow_fingerprints`` (``distinct``) and the graph operators'
    deduplicated edge and basket frames all meet it.

    Plan, in order: ``rows`` is materialized once (it feeds the purge
    count and both join sides); keys with more than ``max_postings``
    rows are purged (`_purge_keys`); with ``within`` (candidate pairs
    ``(id_a, id_b)``) both sides are semi-pruned to candidate ids before
    the self-join and the pair stream is semi-joined to ``within``
    before the count — the full co-key blowup never reaches the
    aggregate.  The self-join applies ``id_a < id_b`` at join time, so
    each unordered pair is emitted once per shared key.
    """
    keys = [key] if isinstance(key, str) else list(key)
    rows = materialize(rows)
    if max_postings is not None:
        rows = _purge_keys(rows, keys, max_postings)
    if within is not None:
        within = materialize(within)
        ids = (
            within.select(F.col("id_a").alias(id_col))
            .unionByName(within.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        rows = rows.join(ids, id_col, "left_semi")
    on = F.col(f"__a.{id_col}") < F.col(f"__b.{id_col}")
    for k in keys:
        on = on & (F.col(f"__a.{k}") == F.col(f"__b.{k}"))
    pairs = (
        rows.alias("__a")
        .join(rows.alias("__b"), on)
        .select(
            F.col(f"__a.{id_col}").alias("id_a"),
            F.col(f"__b.{id_col}").alias("id_b"),
        )
    )
    if within is not None:
        pairs = pairs.join(within, ["id_a", "id_b"], "left_semi")
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n"))


def _overlap(
    rows: DataFrame,
    key: str,
    *,
    id_col: str = "id",
    within: DataFrame | None = None,
) -> DataFrame:
    """``(id_a, id_b, inter, sz_a, sz_b)``: the `_shared_key_pairs`
    count plus each side's full row count (set size, taken before any
    ``within`` pruning) — the shared input of the Jaccard, containment
    and neighbor-Jaccard verifiers."""
    rows = materialize(rows)
    sizes = rows.groupBy(id_col).agg(F.count("*").alias("sz"))
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        _shared_key_pairs(rows, key, id_col=id_col, within=within)
        .join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select("id_a", "id_b", F.col("n").alias("inter"), "sz_a", "sz_b")
    )


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Groups of byte-identical docs: (canonical_id, dup_id) pairs,
    canonical = min id per md5 group.  NULL text is F1-normalized to ''
    (consistent with the rest of the engine), so null-content docs group
    with empty docs instead of forming a separate NULL-hash group."""
    hashed = df.select(
        F.col("doc_id").alias("dup_id"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"),
    )
    groups = (
        hashed.groupBy("h")
        .agg(F.min("dup_id").alias("canonical_id"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    return (
        hashed.join(groups, "h")
        .filter(F.col("dup_id") != F.col("canonical_id"))
        .select("canonical_id", "dup_id")
    )


def word_shingles(
    df: DataFrame, n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingle) long form — word n-grams over the whitespace tokens
    of ``text``.

    Shingles are built by FOLDING zip_with over n shifted slices of the
    token array — every slice evaluates the tokenize subtree once, total
    O(n·len).  (The obvious ``transform(sequence, i -> slice(toks, i+1,
    n))`` form re-evaluates the whole tokenize per output element — HOF
    lambdas are outside Catalyst CSE; measured near-quadratic, 8k tokens
    ≈ 12 s/doc — and this function feeds every minhash/jaccard/groups
    chain.)"""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), RE2_WS + "+"),
        lambda t: t != "",
    )
    m = F.size(toks) - n + 1  # shingle count when size >= n
    acc = F.slice(toks, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, k + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    # standard shingling: documents with fewer than n tokens produce NO
    # shingles (a truncated sub-n shingle would make two 2-word docs look
    # like jaccard-1.0 near-dups and diverge from the DuckDB oracle)
    shingles = F.when(F.size(toks) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(shingles)).alias("shingle")
    ).filter(F.col("shingle") != "")


def minhash_signatures(
    shingled: DataFrame, num_hashes: int = 32, hash_family: str = "xxhash64"
) -> DataFrame:
    """(id, sig: array) — k seeded min-hashes in one aggregate pass (no
    per-hash rescan).

    hash_family:
      - ``xxhash64`` (default, production path): seeded JVM xxhash64,
        whole-stage codegen, array<bigint> signature — fastest.
      - ``md5``: engine-portable signature — element i is a 16-hex-char
        (64-bit) slice of md5(f"{i//2}:{shingle}"): the digest's 128 bits
        yield TWO signature elements (halves the md5 calls, the dominant
        cost), and MIN is taken over the hex string (lexicographic order on
        fixed-width lowercase hex == numeric order on the unsigned value),
        so an external ANSI-SQL engine (the DuckDB correctness oracle)
        reproduces signatures bit-for-bit.
    """
    if hash_family == "xxhash64":
        hashes = F.array(
            *[F.xxhash64(F.col("shingle"), F.lit(i)) for i in range(num_hashes)]
        )
    elif hash_family == "md5":
        # one digest per PAIR of elements; Catalyst CSE collapses the two
        # references to the same md5() call inside codegen
        digests = [
            F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))
            for j in range((num_hashes + 1) // 2)
        ]
        hashes = F.array(
            *[
                F.substring(digests[i // 2], 1 + 16 * (i % 2), 16)
                for i in range(num_hashes)
            ]
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return (
        shingled.select("id", hashes.alias("hs"))
        .groupBy("id")
        .agg(
            F.array(
                *[F.min(F.element_at("hs", i + 1)) for i in range(num_hashes)]
            ).alias("sig")
        )
    )


def _banded_keys(
    signatures: DataFrame, bands: int, hash_family: str = "xxhash64"
) -> DataFrame:
    """(id, band, key) — one band key per signature slice.  Key hash
    matches the signature's hash family so the md5 path stays portable."""
    rows_per_band = (F.size("sig") / bands).cast("int")

    def band_key(b):
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
        )
        return F.md5(joined) if hash_family == "md5" else F.xxhash64(joined)

    return signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _bucket_bounded_pairs(
    banded: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Same-bucket pairs (id_a < id_b, distinct) with the within-bucket n²
    blowup bounded: buckets larger than ``max_bucket_size`` are DROPPED
    before the self-join (`_shared_key_pairs` over the (band, key)
    bucket).

    Rationale (100 TB posture): the (band, key) self-join is quadratic
    within a bucket; real corpora have degenerate buckets (boilerplate,
    near-empty docs) — at 10⁹ docs one hot bucket of 10⁶ ids is 10¹² pairs
    on a single key, which no AQE skew split fixes (it splits partitions,
    not the per-key pair count).  Dropping oversized buckets is the
    standard LSH practice; byte-identical members of a dropped bucket are
    still caught by ``exact_duplicates``.  Use ``lsh_bucket_stats`` to
    surface how many buckets/ids a given bound drops.
    """
    return _shared_key_pairs(
        banded, ["band", "key"], max_postings=max_bucket_size
    ).select("id_a", "id_b")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    num_hashes: int | None = None,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Band the signature, bucket-join: pairs agreeing on ≥1 band.
    Output (id_a, id_b) with id_a < id_b, distinct.

    ``num_hashes`` (when provided) is validated against ``bands`` — a
    signature length not divisible by ``bands`` would silently drop the
    trailing ``num_hashes % bands`` hashes from every band.
    ``max_bucket_size`` bounds the within-bucket pair blowup (see
    ``_bucket_bounded_pairs``); None disables the bound (small-scale only).
    """
    if num_hashes is not None and num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}: the "
            f"trailing {num_hashes % bands} hashes would be silently "
            "dropped from banding — pick bands | num_hashes"
        )
    banded = _banded_keys(signatures, bands, hash_family)
    return _bucket_bounded_pairs(banded, max_bucket_size)


def lsh_bucket_stats(
    signatures: DataFrame,
    bands: int = 8,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """One-row metrics DF for the chosen bound: (n_buckets,
    n_dropped_buckets, n_dropped_ids, max_bucket_n).  Pipelines log this
    next to candidate counts so a dropped hot bucket is visible, not
    silent."""
    sizes = _banded_keys(signatures, bands).groupBy(
        "band", "key"
    ).agg(F.count("*").alias("n"))
    dropped = (
        F.col("n") > max_bucket_size if max_bucket_size is not None else F.lit(False)
    )
    return sizes.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("long").alias("n_dropped_buckets"),
        F.sum(F.when(dropped, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_dropped_ids"),
        F.max("n").cast("long").alias("max_bucket_n"),
    )


def jaccard_pairs(
    shingled: DataFrame,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (or all co-shingle pairs
    when ``candidates`` is None — small-scale/oracle path only).

    Returns (id_a, id_b, jaccard_e4). Intersection via a self-join on
    shingle; union = |A|+|B|-∩. The no-candidates form is the textbook
    inverted-index join: only pairs sharing ≥1 shingle are ever materialized.

    ``shingled`` must be distinct per (id, shingle) — see
    `_shared_key_pairs`, which also owns the candidate semi-prunes.
    """
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        _overlap(shingled, "shingle", within=candidates)
        .filter(jac >= threshold)
        .select("id_a", "id_b", _e4(jac).alias("jaccard_e4"))
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    hash_family: str = "md5",
    chunk_chars: int = 4096,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS scheme): hash every character k-gram of the whitespace-normalized
    ``text`` of each ``doc_id``, slide a window of ``window`` consecutive
    k-gram hashes, keep each window's minimum.  Guarantees any shared
    substring of length ≥ k + window − 1 yields a shared fingerprint.

    Output: (id, fp) distinct rows.  Everything is one JVM projection —
    ``transform(sequence(...))`` array ops, no explode of per-character
    rows, no shuffle before the final distinct.  ``hash_family='md5'``
    (default) is the engine-portable variant the DuckDB oracle reproduces
    exactly; ``'xxhash64'`` is the faster production variant (bigint fps).
    Docs shorter than k + window − 1 produce no fingerprints (standard).
    """
    if hash_family == "md5":
        def _h(sub):
            return F.substring(F.md5(sub), 1, 16)
    elif hash_family == "xxhash64":
        def _h(sub):
            return F.xxhash64(sub)
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    norm = F.lower(
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), RE2_WS + "+", " "
        )
    )
    d = df.select(F.col("doc_id").alias("id"), norm.alias("s"))
    # Bound per-row memory: a 1 MB doc would otherwise materialize a
    # ~10⁶-element hash array in one row.  Chunk with an overlap of
    # k + window − 2 chars — every window of `window` consecutive k-grams
    # (char span k + window − 1) then lies fully inside some chunk, each
    # window's minimum is computed on identical hashes, and the union of
    # per-chunk selections is EXACTLY the unchunked fingerprint set
    # (equivalence pinned in tests).
    overlap = k + window - 2
    n_chunks_minus1 = F.floor(
        F.greatest(F.length("s") - 1, F.lit(0)) / chunk_chars
    ).cast("int")
    d = d.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks_minus1),
                lambda j: F.col("s").substr(
                    j * chunk_chars + 1, F.lit(chunk_chars + overlap)
                ),
            )
        ).alias("s"),
    )
    m = F.length(F.col("s")) - k + 1  # k-gram count per chunk
    hs = F.transform(
        F.sequence(F.lit(0), m - 1),
        lambda i: _h(F.col("s").substr(i + 1, F.lit(k))),
    )
    empty_t = "array<string>" if hash_family == "md5" else "array<bigint>"
    d = d.select("id", F.when(m >= window, hs).otherwise(
        F.array().cast(empty_t)
    ).alias("hs"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("hs") - window),
            lambda j: F.array_min(F.slice(F.col("hs"), j + 1, window)),
        )
    )
    return (
        d.filter(F.size("hs") >= window)
        .select("id", F.explode(fps).alias("fp"))
        .distinct()
    )


def winnow_near_duplicates(
    fingerprints: DataFrame,
    min_shared: int = 2,
    max_postings: int | None = 1000,
) -> DataFrame:
    """Pairs sharing ≥ ``min_shared`` winnowed fingerprints — the standard
    inverted-index join (linear in corpus + shared-fp mass, never n²).
    Output (id_a, id_b, shared).

    ``max_postings`` drops fingerprints present in more than that many
    docs before the join — MOSS's own "ignore fingerprints in too many
    documents" rule.  Same scale rationale as the LSH bucket cap: one
    boilerplate fingerprint shared by 10⁶ docs is 10¹² pairs on a single
    key; a fingerprint that common carries no near-dup signal anyway.
    ``fingerprints`` must be distinct per (id, fp) — see
    `_shared_key_pairs`; ``winnow_fingerprints`` output is.
    """
    return (
        _shared_key_pairs(fingerprints, "fp", max_postings=max_postings)
        .select("id_a", "id_b", F.col("n").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def near_duplicate_groups(
    df: DataFrame,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """The complete dedup decision, composed end-to-end: word 3-gram
    shingles → 32 minhashes → LSH candidates over 8 bands (bucket-capped)
    → exact-Jaccard verify → connected components over verified pairs →
    one canonical doc per near-dup group.

    Output (doc_id, group_id): ``group_id`` is the numerically smallest
    doc_id in the group; docs with no verified near-dup are their own
    group.  This is the table a training-data pipeline joins against to
    keep one representative per group.

    Every stage is the linear-scale shape (no n² anywhere): candidates are
    banded buckets, verification touches candidate pairs only, and CC is
    the pointer-doubled min-label loop.  Ids travel through CC zero-padded
    to 19 digits (full non-negative int64 range) so the string min equals
    the numeric min — doc ids must be NON-NEGATIVE, enforced JVM-side via
    ``assert_true`` (a negative id would pad unsortably and cast back to
    NULL).  The shingles and CC's rounds are cut under the policy in
    force: open `fixpoint.checkpointing` around the call and the collect
    for cluster-safe reliable checkpoints.
    """
    from omop2owl_vocab_spark.operators.link import connected_components

    def _pad(col):
        return F.lpad(col.cast("string"), 19, "0")

    # the shingled corpus feeds BOTH the minhash signature chain and the
    # exact-Jaccard verification subtrees — materialize it once
    sh = materialize(word_shingles(df, 3))
    cand = lsh_candidate_pairs(
        minhash_signatures(sh, 32, hash_family=hash_family),
        bands=8,
        hash_family=hash_family,
        max_bucket_size=max_bucket_size,
    )
    verified = jaccard_pairs(sh, threshold=threshold, candidates=cand)
    labels, _ = connected_components(
        verified.select(
            _pad(F.col("id_a")).alias("src"), _pad(F.col("id_b")).alias("dst")
        )
    )
    ids = df.select(
        "doc_id",
        F.when(
            F.assert_true(
                F.col("doc_id") >= 0,
                "near_duplicate_groups requires non-negative doc ids "
                "(zero-padded string ordering)",
            ).isNull(),
            _pad(F.col("doc_id")),
        ).alias("node"),
    )
    return (
        ids.join(labels, "node", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("node"))
            .cast("long")
            .alias("group_id"),
        )
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash of each doc's ``text``, keyed ``id`` = ``doc_id`` —
    Arrow-vectorized pandas UDF (weighted bit-vote over token hashes;
    genuinely awkward as builtin exprs).

    Deterministic AND engine-portable: token hash bits are defined over the
    md5 *hexdigest* — bit i (0-based) = bit (i mod 4) of hex digit (i div 4)
    of md5(token) — so an ANSI-SQL engine (the DuckDB oracle) reproduces the
    full signature with substr(md5(tok), i//4+1, 1) nibble arithmetic."""
    from pyspark.sql.functions import pandas_udf

    # NB: annotation must resolve from module globals (PEP 563 strings) —
    # hence the module-level pandas import.
    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib
        import re
        from collections import Counter

        import numpy as np

        # tokenize EXACTLY like the SQL oracle's string_split_regex(\s+):
        # RE2's \s is the ASCII class [\t\n\f\r ] — python str.split()
        # would also split on Unicode whitespace (U+00A0 etc.) and silently
        # diverge on non-ASCII corpora
        ws = re.compile(r"[ \t\n\f\r]+")

        # per-batch token→±1-bit-vector cache: corpora repeat tokens heavily,
        # so hashing each distinct token once dominates the constant factor
        cache: dict[str, np.ndarray] = {}

        def tok_bits(tok: str) -> np.ndarray:
            v = cache.get(tok)
            if v is None:
                hv = hashlib.md5(tok.encode()).digest()[:8]
                digits = np.empty(16, dtype=np.int64)
                by = np.frombuffer(hv, dtype=np.uint8)
                digits[0::2] = by >> 4  # hexdigest char 2j = high nibble
                digits[1::2] = by & 15  # hexdigest char 2j+1 = low nibble
                # bit i = (digit[i//4] >> (i%4)) & 1  — nibble-indexed so the
                # SQL oracle's strpos('0123456789abcdef', ...) math matches
                bits = ((digits[:, None] >> np.arange(4)) & 1).reshape(-1)
                v = bits.astype(np.int64) * 2 - 1  # ±1 votes
                cache[tok] = v
            return v

        powers = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            votes = np.zeros(64, dtype=np.int64)
            toks = (x for x in ws.split((t or "").lower()) if x)
            for tok, cnt in Counter(toks).items():
                votes += cnt * tok_bits(tok)
            sig = int((powers[votes > 0]).sum(dtype=np.uint64))
            out[i] = sig - (1 << 64) if sig >= (1 << 63) else sig
        return pd.Series(out)

    return df.select(
        F.col("doc_id").alias("id"), _simhash(F.col("text")).alias("simhash")
    )


def simhash_near_duplicates(
    signatures: DataFrame, max_bucket_size: int | None = 10_000
) -> DataFrame:
    """Candidate near-dups: equal on ≥1 of 4 16-bit bands (catches all
    pairs with Hamming distance ≤ 3). Same bucket-join shape as LSH,
    including the bucket-size bound (an all-empty-docs corpus puts every
    doc in band key 0 — exactly the degenerate bucket the bound exists
    for; byte-identical members still dedup via ``exact_duplicates``)."""
    bands = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")
    return _bucket_bounded_pairs(bands, max_bucket_size)


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Benchmark decontamination: every (corpus doc, benchmark doc) pair
    sharing ≥ ``min_hits`` distinct word n-grams — the standard check
    that eval/test material has not leaked into training data.

    Both sides shingle through :func:`word_shingles` (lowercased,
    distinct per document, sub-``n`` documents produce none), then an
    equi-join on the shingle string counts distinct shared n-grams per
    pair.  Benchmark suites are small by construction, so the shingled
    benchmark side broadcasts and the corpus streams through map-side:
    one shuffle for the per-pair aggregate, no corpus self-join anywhere.
    Raise ``n`` (8–13 in published pipelines) to trade recall for
    precision.

    Output schema: ``(doc_id, bench_id_col, n_hits)`` — the benchmark id
    keeps the caller's column name, which must therefore not be
    ``doc_id``."""
    if n <= 0 or min_hits <= 0:
        raise ValueError("n and min_hits must be positive")
    if bench_id_col == "doc_id":
        raise ValueError(
            "doc_id and bench_id_col must differ — the output carries both"
        )
    c = word_shingles(corpus, n=n)
    b = F.broadcast(
        word_shingles(benchmark, n=n, id_col=bench_id_col)
        .withColumnRenamed("id", "__bench_id")
    )
    # word_shingles emits each shingle once per document on BOTH sides,
    # so count(*) per pair IS the distinct-shared-shingle count
    return (
        c.join(b, "shingle")
        .groupBy("id", "__bench_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
        .select(
            F.col("id").alias("doc_id"),
            F.col("__bench_id").alias(bench_id_col),
            "n_hits",
        )
    )


def containment_pairs(
    shingled: DataFrame,
    threshold_pct: int = 80,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT over co-shingle pairs:
    ``(id_a, id_b, inter, sz_a, sz_b, cont_a_e4, cont_b_e4)`` where
    ``cont_a_e4 = |A∩B|·10^4 div |A|`` — the subset-duplicate detector
    Jaccard misses (a paragraph quoted inside a 100× larger document
    has tiny Jaccard but containment ≈ 1; Broder's containment
    measure).  Kept pairs have max(cont_a, cont_b) ≥ ``threshold_pct``.

    Same inverted-index join discipline as `jaccard_pairs` (only pairs
    sharing ≥1 shingle materialize), same integer cross-multiplied
    filter (``inter·100 ≥ pct·sz`` — no float threshold), integer
    fixed-point outputs — hash-exact against the SQL re-derivation.
    ``shingled`` must be distinct per (id, shingle) — see
    `_shared_key_pairs`.
    """
    if not (1 <= int(threshold_pct) <= 100):
        raise ValueError("threshold_pct must be in 1..100")
    t = int(threshold_pct)
    return (
        _overlap(shingled, "shingle")
        .filter(
            (F.col("inter") * 100 >= F.lit(t) * F.col("sz_a"))
            | (F.col("inter") * 100 >= F.lit(t) * F.col("sz_b"))
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            "sz_a",
            "sz_b",
            F.expr("(inter * 10000) div sz_a").alias("cont_a_e4"),
            F.expr("(inter * 10000) div sz_b").alias("cont_b_e4"),
        )
    )


def prefix_filter_pairs(
    shingled: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard-threshold pairs via PREFIX FILTERING (PPJoin family,
    Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07) — the third scale
    path to the same answer as ``jaccard_pairs`` (inverted index) and
    ``lsh_candidate_pairs``+verify (probabilistic): deterministic,
    recall-1.0 candidate generation that only indexes each document's
    RAREST ``|d| - ceil(t*|d|) + 1`` shingles.

    Under ANY common total order, two sets with Jaccard >= t must share
    a token inside those prefixes (a disjoint-prefix pair has overlap
    < ceil(t*|d|) on one side, forcing J < t); ordering by ascending
    global frequency makes the indexed lists the coldest posting lists,
    so the candidate join touches a small fraction of the full inverted
    index — typically 10-100x fewer candidates at t >= 0.5 — while
    staying exact end-to-end (survivors are verified with the full
    intersection count).

    Plan: one shuffle to count shingle frequency, one shuffle joining
    freq back (both on `shingle`, the second reuses the first's
    partitioning), one window by id ranking (freq, shingle) rows, the
    prefix self-join, then ``jaccard_pairs`` verification on the
    candidates only.  No global rank table and no global sort — the
    frequency order is evaluated per-document.

    Returns (id_a, id_b, jaccard_e4), identical to
    ``jaccard_pairs(shingled, threshold)`` under the same precondition:
    ``shingled`` distinct per (id, shingle) (see `_shared_key_pairs`) —
    sizes count rows while the verification intersects distinct codes.

    Not built on `_shared_key_pairs`: the candidate join keeps one row
    per prefix match so the positional filter can read both ranks, and
    dedups the survivors instead of counting them.
    """
    from pyspark.sql import Window

    shingled = materialize(shingled)
    freq = shingled.groupBy("shingle").agg(F.count("*").alias("__freq"))
    # Dictionary-encode each distinct shingle to a long code (bijective
    # within the run — monotonically_increasing_id over the materialized
    # distinct-shingle frame).  Everything downstream of the one
    # freq-attach join (which the plan needed anyway) then moves 8-byte
    # codes instead of shingle strings: the candidate self-join keys, the
    # pair-dedup shuffle, and the verification arrays (guide §2.3:
    # narrower types, shuffle keys not payloads).  The prefix order
    # becomes (__freq, __code) — still one total order shared by every
    # document, which is the only property prefix filtering needs.
    lex = materialize(
        freq.withColumn("__code", F.monotonically_increasing_id())
    )
    coded = materialize(
        shingled.join(lex, "shingle").select("id", "__freq", "__code")
    )
    w = Window.partitionBy("id").orderBy("__freq", "__code")
    szw = Window.partitionBy("id")
    ranked = coded.select(
        "id",
        "__code",
        F.row_number().over(w).alias("__rnk"),
        F.count("*").over(szw).alias("__sz"),
    )
    p_len = F.col("__sz") - F.ceil(F.col("__sz") * F.lit(threshold)) + 1
    prefix = materialize(
        ranked.filter(F.col("__rnk") <= p_len).select(
            "id", "__code", "__rnk", "__sz"
        )
    )
    # PPJoin join-time filters (Xiao et al., WWW'08), both evaluated on
    # the prefix rows before any pair materializes; each is a NECESSARY
    # condition for J >= t, relaxed by 1e-6 so no representable
    # floating-point wobble can ever drop a true pair (false candidates
    # are killed by the exact verification below, so the filters only
    # trade candidate count, never recall):
    # - length filter: J >= t  ⟹  min(|A|,|B|) >= t·max(|A|,|B|)
    # - positional filter: with both prefixes ordered by the same global
    #   (freq, shingle) order, a pair's EARLIEST common prefix token at
    #   ranks (i, j) still allows at most 1 + min(|A|-i, |B|-j) common
    #   tokens, which must reach the overlap bound
    #   ceil(t/(1+t)·(|A|+|B|)); the earliest-match row always passes
    #   for a true pair, and one surviving row is enough.
    tau = threshold / (1.0 + threshold)
    sz_a, sz_b = F.col("pa.__sz"), F.col("pb.__sz")
    upper = 1 + F.least(
        sz_a - F.col("pa.__rnk"), sz_b - F.col("pb.__rnk")
    )
    cands = (
        prefix.alias("pa")
        .join(prefix.alias("pb"), F.col("pa.__code") == F.col("pb.__code"))
        .filter(
            (F.col("pa.id") < F.col("pb.id"))
            & (
                F.least(sz_a, sz_b)
                >= F.lit(threshold) * F.greatest(sz_a, sz_b) - F.lit(1e-6)
            )
            & (upper >= F.lit(tau) * (sz_a + sz_b) - F.lit(1e-6))
        )
        .select(
            F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b")
        )
        # the verify below is compute-dense on few candidate bytes, which
        # AQE would coalesce into one task; an explicit-count hash
        # partitioning on the dedup keys is not coalesced and leaves the
        # distinct nothing to re-shuffle
        .repartition(
            shingled.sparkSession.sparkContext.defaultParallelism,
            "id_a",
            "id_b",
        )
        .distinct()
    )
    # PPJoin verification: intersect the two records' (distinct) shingle
    # code sets per surviving candidate — |A∩B| = size(array_intersect)
    # on the bijective codes, the same integer the inverted-index count
    # produces, so jaccard_e4 is identical.  This replaces the
    # candidate-restricted co-shingle self-join + pair semi-join + count
    # aggregate (three shuffles over the co-occurrence stream, ~20M rows
    # at sf0.1) with two key joins that attach each side's code array to
    # the candidate row (guide §2.3: shuffle candidate keys, not the
    # pair-occurrence stream).
    doc_sets = materialize(
        coded.groupBy("id").agg(
            F.collect_list("__code").alias("toks"),
            F.count("*").cast("long").alias("sz"),
        )
    )
    da = doc_sets.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("ta"),
        F.col("sz").alias("sza"),
    )
    db = doc_sets.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("tb"),
        F.col("sz").alias("szb"),
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("long")
    jac = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        cands.join(da, "id_a")
        .join(db, "id_b")
        .select("id_a", "id_b", "sza", "szb", inter.alias("inter"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", _e4(jac).alias("jaccard_e4"))
    )
