"""Text-analysis operators for large-scale training-data pipelines.
Documents are frames with a ``doc_id`` and a ``text`` column.

All hot-path logic is built-in ``pyspark.sql.functions`` (JVM, whole-stage
codegen).  Float-valued scores are returned as ``floor(x*10⁴ + 0.5)``
integers (``*_e4``) so cross-engine comparison (DuckDB oracle) is exact —
double rounding modes differ between engines, integer arithmetic doesn't.

Designed for 100 TB corpora: operators are narrow projections (no
shuffle) except ``repetition_flags``, whose bigram mode goes through an
explode + hash-aggregate (the linear, shuffle-based form — a within-row
fold is an optimizer trap, see the function); token/shingle explosion
otherwise happens only inside dedup/similarity operators that need it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic; deliberately small so the same logic is expressible in SQL
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "la", "et"],
    "es": ["el", "de", "que"],
}


# The engine's whitespace class, spelled explicitly as RE2's \s
# ([\t\n\f\r ]) rather than Java's \s (which also matches \x0B):
# every oracle runs in DuckDB/RE2, and tokenization must agree on ALL
# inputs, not just the \x0B-free testdata.
RE2_WS = "[ \\t\\n\\f\\r]"


def _e4(x: Column) -> Column:
    """Deterministic 4-decimal fixed-point: identical in Spark and DuckDB."""
    return F.floor(x * 10000 + F.lit(0.5)).cast("long")


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.trim(text), RE2_WS + "+"), lambda t: t != "")


def token_stats(df: DataFrame) -> DataFrame:
    """Whitespace token count, BPE-ish subword count (4-chars-per-token
    heuristic over non-space chars), char count."""
    text = F.col("text")
    nonspace = F.length(F.regexp_replace(text, RE2_WS, ""))
    # GPT-style pre-tokenizer shape: word runs and single punctuation marks
    pieces = F.regexp_extract_all(text, F.lit(r"\w+|[^\w \t\n\f\r]"), 0)
    return df.select(
        "doc_id",
        F.size(_tokens(text)).cast("long").alias("n_tokens"),
        F.ceil(nonspace / 4).cast("long").alias("n_subwords"),
        F.size(pieces).cast("long").alias("n_pieces"),
        F.length(text).cast("long").alias("n_chars"),
    )


def token_vocab(df: DataFrame, top_k: int = 1000) -> DataFrame:
    """Corpus-global token vocabulary: the ``top_k`` most frequent
    whitespace tokens with occurrence and document frequencies — the
    tokenizer-training / stopword-analysis primitive.

    Plan shape for 100 TB: explode → hash-aggregate (map-side partial
    combine collapses each task's token stream before the single
    shuffle) → ``orderBy().limit()``, which Spark executes as
    TakeOrderedAndProject (per-partition top-k heaps, no global sort).
    Tie-break is total (count desc, token asc) so the selected set is
    deterministic.  ``n_docs`` is an exact distinct count per token —
    the doc_id travels through the explode; swap in approx_count_distinct
    when exactness isn't required at extreme cardinality."""
    if top_k <= 0:
        raise ValueError("top_k must be positive")
    return (
        df.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(top_k)
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-token-length
    quality signals (the usual pre-training filters)."""
    text = F.col("text")
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w \t\n\f\r]", ""))
    toks = _tokens(text)
    n_tokens = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*LANG_MARKERS["en"]))
    )
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    return df.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        _e4(n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio_e4"),
        _e4(n_stop / safe_tokens).alias("stopword_ratio_e4"),
        _e4(
            F.length(F.regexp_replace(text, RE2_WS, "")) / safe_tokens
        ).alias("mean_token_len_e4"),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Marker-lexicon language guess: the language with the most marker-word
    hits wins; ties broken by language code order; 'und' if no hits.

    Implemented as a greatest-of-structs expression — one projection, no
    shuffle, no UDF.
    """
    toks = F.transform(_tokens(F.col("text")), lambda t: F.lower(t))
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(*words))).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]
    scored = df.select("doc_id", *scores)
    # pick argmax deterministically: greatest (score, reverse-alphabetic lang)
    best = F.greatest(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("s"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_MARKERS, reverse=True)
        ]
    )
    return scored.select(
        "doc_id",
        F.when(best["s"] > 0, best["lang"]).otherwise("und").alias("lang_guess"),
        best["s"].cast("long").alias("marker_hits"),
    )


# the Gopher/MassiveText repetition-free quality rules (Rae et al. 2021,
# table A1 — public): the de-facto baseline filter set for web-scale
# pre-training corpora
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher rule flags, one boolean per rule plus the combined ``keep``:

    - 50 ≤ word count ≤ 100,000
    - 3 ≤ mean word length ≤ 10
    - symbol-to-word ratio (# and …) ≤ 0.1
    - ≤ 90% of lines start with a bullet; ≤ 30% end with an ellipsis
    - ≥ 80% of words contain an alphabetic character
    - ≥ 2 distinct Gopher stop words present

    Every ratio comparison is integer cross-multiplication — no float
    division anywhere, so the DuckDB oracle matches bit-for-bit.  One
    narrow projection, no shuffle, no UDF.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = _tokens(text)
    n_words = F.size(toks)
    word_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_sym = F.length(text) - F.length(F.translate(text, "#…", ""))
    lines = F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.substring(F.trim(ln), 1, 1).isin("-", "*", "•"),
        )
    )
    n_ellipsis = F.size(
        F.filter(
            lines,
            lambda ln: F.trim(ln).endswith("...") | F.trim(ln).endswith("…"),
        )
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    # distinct stopwords present, in ONE pass: array_intersect dedupes —
    # filtering the stopword array with array_contains(lowered, w) would
    # re-evaluate the full tokenize+lower per stopword (HOF lambdas are
    # outside Catalyst subexpression elimination)
    n_stop = F.size(
        F.array_intersect(
            F.transform(toks, lambda t: F.lower(t)),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        # 3 ≤ word_chars/n_words ≤ 10  (integer cross-multiplied)
        "mean_word_len_ok": (word_chars >= 3 * n_words)
        & (word_chars <= 10 * n_words)
        & (n_words > 0),
        "symbol_ratio_ok": n_sym * 10 <= n_words,
        "bullet_ratio_ok": n_bullet * 10 <= n_lines * 9,
        "ellipsis_ratio_ok": n_ellipsis * 10 <= n_lines * 3,
        "alpha_ratio_ok": n_alpha * 10 >= n_words * 8,
        "stopword_ok": n_stop >= 2,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return df.select(
        F.col(id_col),
        *[v.alias(k) for k, v in flags.items()],
        keep.alias("keep"),
    )


def repetition_flags(df: DataFrame) -> DataFrame:
    """Gopher's within-document repetition signals (Rae et al. 2021 —
    repetitious documents are the strongest low-quality predictor):

    - ``dup_line_ratio_e4``: fraction of non-empty lines that are repeats
      of an earlier identical line (rule: ≤ 0.30);
    - ``top_bigram_ratio_e4``: fraction of word-bigram occurrences taken
      by the single most frequent bigram (rule: ≤ 0.20).

    Line stats are a narrow within-row projection; the bigram mode goes
    through explode → two hash aggregates on (id, gram)/(id) — linear and
    the same shuffle shape the dedup operators scale with.  Fixed-point
    e4 export keeps the DuckDB oracle exact.

    Precondition: ``doc_id`` must be UNIQUE (like every id-keyed operator
    here — duplicate ids would merge bigram counts across rows).  NULL
    ids are handled (null-safe join), but only one NULL-id row is
    meaningful for the same reason.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    lines = F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != "")
    toks = F.transform(_tokens(text), lambda t: F.lower(t))
    # bigrams via zip_with over two slices: both array arguments evaluate
    # ONCE and zip element-wise.  (element_at(toks, i) inside a
    # per-element lambda re-evaluates the whole tokenize subtree per
    # element — measured O(n²), 6400 tokens ≈ 40 s/doc.)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Line stats are a narrow projection; the bigram MODE goes through
    # explode → two hash aggregates keyed on (id, gram) / id — the
    # natural linear form.  (A within-row fold over the sorted bigram
    # array was tried first and is an optimizer trap: CollapseProject
    # re-inlines the tokenize→bigram→sort subtree into the fold lambda,
    # re-evaluating it per element — measured O(n³), 400 tokens ≈ 99 s.
    # Per-doc aggregation state here is one (gram,count) group at a time,
    # and the shuffle is the same shape the dedup operators already
    # scale with.)
    stats = df.select(
        "doc_id",
        F.size(lines).alias("_n_lines"),
        (F.size(lines) - F.size(F.array_distinct(lines))).alias("_n_dup"),
        # count = size(toks)-1, never building the bigram strings a
        # second time in this narrow branch
        F.greatest(F.size(toks) - 1, F.lit(0)).alias("_n_bigrams"),
    )
    top = (
        df.select("doc_id", F.explode(bigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("_top_bg"))
        .withColumnRenamed("doc_id", "_tid")
    )
    m = stats.join(
        top, stats["doc_id"].eqNullSafe(top["_tid"]), "left"
    ).withColumn("_top_bg", F.coalesce(F.col("_top_bg"), F.lit(0)))
    n_lines = F.col("_n_lines")
    n_dup_lines = F.col("_n_dup")
    n_bigrams = F.col("_n_bigrams")
    top_bigram = F.col("_top_bg")
    return m.select(
        "doc_id",
        _e4(n_dup_lines / F.greatest(n_lines, F.lit(1))).alias("dup_line_ratio_e4"),
        _e4(top_bigram / F.greatest(n_bigrams, F.lit(1))).alias(
            "top_bigram_ratio_e4"
        ),
        # the Gopher pass/fail verdicts, integer cross-multiplied
        (n_dup_lines * 10 <= n_lines * 3).alias("dup_line_ok"),
        (top_bigram * 5 <= n_bigrams).alias("top_bigram_ok"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized text (md5 is
    bit-identical across engines, unlike xxhash64 vs DuckDB hash()), plus a
    16-bucket shard key from the first hex nibble."""
    norm = F.regexp_replace(F.trim(F.col("text")), RE2_WS + "+", " ")
    fp = F.md5(norm)
    return df.select(
        "doc_id",
        fp.alias("fp_md5"),
        F.conv(F.substring(fp, 1, 1), 16, 10).cast("long").alias("fp_bucket"),
    )


# PII patterns chosen for cross-dialect parity: Java regex (Spark) and
# RE2 (DuckDB) agree on these constructs — character classes, bounded
# quantifiers, ASCII \b word boundaries, no backrefs/lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = (
    r"\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\b"
)


def pii_flags(df: DataFrame) -> DataFrame:
    """Per-document PII counts (emails, IPv4 addresses) + a has_pii flag —
    the detection half of the standard pre-tokenization scrub.  Pure JVM
    regex extraction (codegen, no UDF); patterns are RE2-compatible so the
    DuckDB oracle re-derives counts with the identical expressions."""
    t = F.col("text")
    n_email = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), 0))
    n_ipv4 = F.size(F.regexp_extract_all(t, F.lit(PII_IPV4_RE), 0))
    return df.select(
        "doc_id",
        n_email.cast("long").alias("n_emails"),
        n_ipv4.cast("long").alias("n_ipv4"),
        ((n_email > 0) | (n_ipv4 > 0)).alias("has_pii"),
    )


def redact_pii(df: DataFrame) -> DataFrame:
    """The scrub half: emails → ``[EMAIL]``, IPv4s → ``[IP]``.  Emails are
    replaced FIRST so an address whose domain label parses like a dotted
    quad can't be half-redacted by the IP pass.  Returns (id, redacted
    text) — downstream tokenization joins on id."""
    t = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "[EMAIL]"), PII_IPV4_RE, "[IP]"
    )
    return df.select("doc_id", scrubbed.alias("redacted"))


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fused detect + redact: counts, the ``has_pii`` flag, AND the
    scrubbed text from ONE projection — the production form when both
    halves are wanted.  ``pii_flags`` → ``redact_pii`` as separate calls
    joined on id evaluates every pattern twice and pays a join;  this is
    a single scan with one ``regexp_extract_all`` (counts) and one
    ``regexp_replace`` (scrub) per pattern and no shuffle.  Same
    email-before-IP replacement order as ``redact_pii``.

    ``has_pii`` is derived in a SECOND projection from the aliased count
    columns: inlining it would re-expand each extract expression, and
    CollapseProject keeps the split because the non-cheap regex aliases
    are referenced twice — so the optimized plan carries exactly one
    evaluation per pattern per purpose (plan-pinned)."""
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), 0))
    n_ipv4 = F.size(F.regexp_extract_all(t, F.lit(PII_IPV4_RE), 0))
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "[EMAIL]"), PII_IPV4_RE, "[IP]"
    )
    return df.select(
        F.col(id_col),
        n_email.cast("long").alias("n_emails"),
        n_ipv4.cast("long").alias("n_ipv4"),
        scrubbed.alias("redacted"),
    ).select(
        id_col,
        "n_emails",
        "n_ipv4",
        ((F.col("n_emails") > 0) | (F.col("n_ipv4") > 0)).alias("has_pii"),
        "redacted",
    )


URL_RE = r"https?://([A-Za-z0-9.-]+)"


def domain_flags(
    df: DataFrame,
    blocklist: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-domain curation: per-document URL count, blocklisted-domain
    count, and the drop verdict — the standard source-quality filter a
    corpus pipeline applies before content-level scoring.

    Domains come from one ``regexp_extract_all`` (group 1 of ``URL_RE`` —
    Java/RE2-common pattern, JVM codegen).  The blocklist is a plan-time
    literal set probed with ``isin`` — no join, no shuffle; for lists
    above Spark's InSet threshold (10 values) the probe compiles to one
    hash-set membership test per extracted domain, below it a short
    ``In`` chain (equally shuffle-free).  For million-domain blocklists
    use a broadcast semi-join on an exploded domain column instead.

    Multiplicity: ``n_blocked_domains`` counts OCCURRENCES — a document
    linking the same blocklisted domain three times counts 3, mirroring
    ``n_urls`` (``array_intersect`` would silently deduplicate)."""
    t = F.col(text_col)
    domains = F.regexp_extract_all(t, F.lit(URL_RE), 1)
    uniq = sorted(set(blocklist))
    blocked_hits = F.filter(domains, lambda d: d.isin(*uniq))
    return df.select(
        F.col(id_col),
        F.size(domains).cast("long").alias("n_urls"),
        F.size(blocked_hits).cast("long").alias("n_blocked_domains"),
        (F.size(blocked_hits) > 0).alias("blocked"),
        F.concat_ws(",", F.array_sort(F.array_distinct(domains))).alias(
            "domains_csv"
        ),
    )


def line_dedup(df: DataFrame, min_count: int = 2) -> DataFrame:
    """Corpus-wide duplicated-line removal (the CCNet/C4 boilerplate
    pass): drop every line whose normalized form (``lower(trim(line))``)
    occurs at least ``min_count`` times across the WHOLE corpus —
    navigation chrome, cookie banners, "all rights reserved" footers.
    Whitespace-only lines are never counted or removed.

    Plan shape: posexplode lines → hash-aggregate occurrence counts on
    the 32-hex md5 line key (map-side partial combine) → join the counts
    back → re-assemble each document with
    ``array_sort(collect_list(struct(pos, line)))``.  Three shuffles
    total (count agg, count join, doc re-agg), each linear in line
    count.  At 100 TB the over-threshold key set is the interesting
    knob: boilerplate is a vanishing fraction of DISTINCT lines, so
    filter counts to ``>= min_count`` first and broadcast-join that
    small "dup set" instead of shuffling the full counts table — a
    strict optimization that cannot change the result (below-threshold
    keys need no join at all).  This function keeps the general shuffle
    join so the contract holds for any threshold/corpus; AQE converts it
    to a broadcast join at runtime whenever the filtered side measures
    small.

    Output: ``(id, n_lines, n_removed, text_dedup)`` — every input doc
    appears exactly once, ``text_dedup = ''`` when everything was
    boilerplate.  Reference analog: none (mandated LLM-pipeline surface).
    """
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    lines = df.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn(
        "line_key",
        F.when(
            F.trim(F.col("line")) != "",
            F.md5(F.lower(F.trim(F.col("line")))),
        ),
    )
    counts = (
        lines.filter(F.col("line_key").isNotNull())
        .groupBy("line_key")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_count)
    )
    flagged = lines.join(counts, "line_key", "left").withColumn(
        "__dup", F.col("__n").isNotNull()
    )
    kept = F.when(
        ~F.col("__dup"), F.struct(F.col("pos"), F.col("line"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("__dup").cast("long")).cast("long").alias("n_removed"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda s: s["line"]
            ),
        ).alias("text_dedup"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    idf_mode: str = "log",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the keyword-extraction /
    corpus-drift primitive.  ``tf`` = raw occurrence count in the doc,
    ``df`` = number of docs containing the term, ``n_docs`` = corpus size.

    ``idf_mode``:

    * ``"log"`` (default): score = tf · ln(n_docs / df) — the classic
      form.  ln is transcendental and NOT bit-identical across engines
      (measured: Spark's JVM ``Math.log`` and DuckDB's libm disagree in
      the last ulp on ~8% of inputs), so this mode is verified in-suite
      with integer-exact tf/df and tolerance-checked scores.
    * ``"ratio"``: score = tf · (n_docs+1) / (df+1) — an idf surrogate
      built ONLY from exact integer arithmetic plus one IEEE division
      (correctly rounded by spec), therefore bit-identical in any
      IEEE-754 engine.  This is the mode the hash-exact DuckDB driver
      oracle runs; it induces the same "rarer ⇒ larger" ordering as any
      monotone idf.

    Plan shape: explode → hash-agg on (doc, term) → document frequency
    as ``count(*) over (partition by term)`` on that SAME frame (tf has
    exactly one row per (doc, term), so the window count IS df) —
    deliberately a window, not a ``tf ⋈ tf.groupBy(term)`` self-join:
    the join form provably re-scans and re-aggregates the whole corpus
    a second time (Catalyst's ReuseExchange does not fire across the
    self-join branches), while the window reads the (doc, term)
    exchange once.  Then a broadcast 1-row corpus count (its own
    distinct-id side branch — id column only, column-pruned) and the
    per-doc row_number window.  One source scan for the token path,
    three linear token-path exchanges: (doc, term), term, doc.  Ties
    rank by
    (score desc, term asc): score equality is exact-rational equality
    in ratio mode, so the selected set is engine-independent.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if idf_mode not in ("log", "ratio"):
        raise ValueError("idf_mode must be 'log' or 'ratio'")
    from pyspark.sql import Window

    tf = (
        df.select(
            F.col("doc_id"), F.explode(_tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    n = df.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    j = tf.withColumn(
        "df",
        F.count("*").over(Window.partitionBy("term")).cast("long"),
    ).crossJoin(F.broadcast(n))
    if idf_mode == "log":
        score = F.col("tf") * F.log(
            F.col("n_docs").cast("double") / F.col("df").cast("double")
        )
    else:
        score = (F.col("tf") * (F.col("n_docs") + 1)).cast("double") / (
            F.col("df") + 1
        ).cast("double")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        j.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id", "term", "tf", "df", "rank", _e4(F.col("score")).alias("score_e4")
        )
    )


def bigram_pmi(
    df: DataFrame,
    min_count: int = 5,
    top_m: int = 100,
) -> DataFrame:
    """Corpus-level collocation extraction: the ``top_m`` word bigrams
    by pointwise mutual information — the classic phrase-mining /
    tokenizer-merge-candidate primitive ("new york", "machine
    learning").  PMI = ln( p(xy) / (p(x)·p(y)) ) with all probabilities
    over token OCCURRENCES (N = total tokens, the Church & Hanks '90
    convention; bigram windows = N - n_docs is deliberately NOT used as
    the denominator so every count shares one scale).

    Scoring is the PMI RATIO ``c_xy·N / (c_x·c_y)`` in 4-decimal fixed
    point computed ENTIRELY in integer arithmetic (one long multiply
    chain + one integer division — bit-identical in any engine, no
    transcendental): ln is monotone, so ranking by the ratio IS ranking
    by PMI, and the DuckDB oracle matches hash-exact.  Overflow bound:
    ``c_xy·N·10^4 < 2^63`` holds whenever N < ~9.6e8 for the worst case
    c_xy = N; in practice c_xy ≪ N — at the 10^13-token scale compute
    the same ratio in double (monotonicity unaffected) or pre-scale
    counts.

    Plan shape: ONE tokenize of the corpus → bigrams via the zip_with
    two-slice idiom (see `repetition_flags` — per-element element_at is
    O(n²)) → hash-agg bigram counts on (w1, w2) → unigram counts from a
    second explode of the same projection → two hash joins of the
    bigram frame against the unigram table (on w1, then w2).  The
    unigram side is the corpus VOCABULARY — Heaps-law sublinear, ~1e6
    rows at web scale — so AQE turns both joins into broadcasts; with
    ``min_count`` pruning the bigram side first, every stage is linear.
    Final top-m is orderBy+limit → TakeOrderedAndProject (heap per
    partition + merge, no global sort).  Ties rank (ratio desc, w1 asc,
    w2 asc) — exact-integer equality, engine-independent.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if top_m <= 0:
        raise ValueError("top_m must be positive")
    toks = df.select(
        F.transform(_tokens(F.col("text")), lambda t: F.lower(t)).alias(
            "__t"
        )
    )
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c_w"))
    )
    n = uni.agg(F.sum("c_w").alias("n_tokens"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.zip_with(
                    F.slice("__t", 1, F.size("__t") - 1),
                    F.slice("__t", 2, F.size("__t") - 1),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    c_xy = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    scored = (
        c_xy.join(uni.select(F.col("w").alias("w1"),
                             F.col("c_w").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("c_w").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "pmi_ratio_e4",
            F.expr("(c_xy * n_tokens * 10000) div (c_x * c_y)"),
        )
    )
    return (
        scored.select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "pmi_ratio_e4",
        )
        .orderBy(
            F.col("pmi_ratio_e4").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(top_m)
    )


def skipgram_cooccurrence(
    df: DataFrame,
    window: int = 3,
    min_count: int = 5,
    top_m: int = 100,
) -> DataFrame:
    """Windowed skip-gram co-occurrence: the ``top_m`` ordered token
    pairs (w1 before w2, forward distance ≤ ``window``) by occurrence
    count — the embedding-training / co-occurrence-matrix primitive
    (word2vec's positive-pair generator, GloVe's X_ij builder),
    generalizing `bigram_pmi`'s distance-1 pairs.

    Plan shape: ONE tokenize projection builds ALL window offsets at
    once — for each d in 1..window the two-slice ``zip_with`` idiom
    (see `repetition_flags`; per-element ``element_at`` is O(n²))
    yields the distance-d pairs, ``flatten`` concatenates them, and a
    single ``explode`` feeds one hash-aggregate: tokens are scanned
    once, not ``window`` times, and the pair stream is length
    ``Σ_d (len-d)`` ≈ window·len — linear with a plan-time constant.
    Top-m via orderBy+limit → TakeOrderedAndProject; ties broken
    (count desc, w1, w2) — exact integers, engine-independent.
    Counting is per OCCURRENCE (multiset, the GloVe convention),
    unweighted; compose distance weighting downstream by emitting d
    — deliberately omitted here to keep the aggregate one long per
    pair.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if min_count < 1 or top_m <= 0:
        raise ValueError("min_count and top_m must be positive")
    toks = df.select(
        F.transform(_tokens(F.col("text")), lambda t: F.lower(t)).alias(
            "__t"
        )
    )
    n = F.size("__t")

    def pairs_at(d: int):
        return F.when(
            n >= d + 1,
            F.zip_with(
                F.slice("__t", 1, n - d),
                F.slice("__t", d + 1, n - d),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    all_pairs = toks.select(
        F.explode(
            F.flatten(F.array(*[pairs_at(d) for d in range(1, window + 1)]))
        ).alias("p")
    ).select("p.w1", "p.w2")
    return (
        all_pairs.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
        .orderBy(F.col("c_xy").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_m)
    )


def chunk_documents(
    df: DataFrame,
    chunk_len: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Overlapping character chunking — the RAG/indexing splitter:
    ``(id, chunk_idx, char_start, chunk)`` windows of ``chunk_len``
    characters stepping by ``chunk_len − overlap``, so consecutive
    chunks share ``overlap`` characters and no span falls between
    retrieval units.  Empty/NULL documents produce no rows.

    Chunk COUNT is exact integer arithmetic with a positivity clamp
    BEFORE the division (``(greatest(len − overlap, 1) + step − 1)
    div step``): without it a doc shorter than ``overlap`` yields a
    non-positive numerator → 0 chunks → the doc silently vanishes from
    the output, and negative integer division is exactly where engine
    semantics historically differ (truncate vs floor) — the clamp
    keeps the closed form in the positive range where every engine
    agrees.  Character (not byte) offsets in both engines.

    Plan shape: one narrow projection — ``sequence`` + ``explode``
    generates offsets engine-side, ``substring`` slices — no shuffle,
    no UDF; output is ~len/step × input rows, the same narrow fan-out
    posture as `pack_slices`.  Token-budget chunking composes via
    `tokenize.subword_token_counts` on the chunks afterwards.
    """
    if chunk_len < 1:
        raise ValueError("chunk_len must be >= 1")
    if not (0 <= overlap < chunk_len):
        raise ValueError("overlap must be in [0, chunk_len)")
    step = chunk_len - overlap
    n_chunks = F.expr(
        f"(greatest(length(text) - {overlap}, 1) + {step} - 1)"
        f" div {step}"
    )
    return (
        df.filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        )
        .select(
            "doc_id",
            F.col("text").alias("__t"),
            F.explode(
                F.sequence(F.lit(0).cast("long"), n_chunks - 1)
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * step).alias("char_start"),
            F.expr(
                f"substring(__t, chunk_idx * {step} + 1, {chunk_len})"
            ).alias("chunk"),
        )
    )


def inverted_index(
    df: DataFrame,
    max_postings: int = 20,
    min_df: int = 1,
) -> DataFrame:
    """Corpus inverted index: one row per lowercased whitespace term —
    ``(term, df, tf_sum, postings)`` where ``df`` counts documents
    containing the term, ``tf_sum`` totals its occurrences, and
    ``postings`` is the first ``max_postings`` doc ids in ascending
    order, pipe-joined (the truncated posting-list preview; full lists
    belong in a partitioned sink, not a driver row).

    Plan: explode → per-(term, doc) count (the map-side-combinable
    inner agg) → per-term agg with ``slice(sort_array(collect_set))``
    for the capped postings.  collect_set is bounded per term by df —
    the one skew hazard (stopword terms collect huge sets before the
    slice); cap it upstream with a stopword/min-length filter when df
    is unbounded, exactly like the LSH bucket caps.
    """
    toks = _tokens(F.lower(F.col("text")))
    term_doc = (
        df.select(F.col("doc_id").alias("doc"), F.explode(toks).alias("term"))
        .groupBy("term", "doc")
        .agg(F.count("*").alias("tf"))
    )
    return (
        term_doc.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("tf_sum"),
            F.concat_ws(
                "|",
                F.slice(
                    F.sort_array(F.collect_set("doc")), 1, max_postings
                ),
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def trigram_lm(df: DataFrame, min_count: int = 1) -> DataFrame:
    """Conditional trigram counts — the classic count-based LM table
    ``(w1, w2, w3, n, prob_e4)`` with ``prob_e4`` the maximum-likelihood
    next-token probability P(w3 | w1 w2) in 4-decimal fixed point.  The
    KenLM-style corpus statistic behind perplexity-based quality
    filtering and contamination probes; case-folded, within-document
    only (trigrams never span doc boundaries).

    ``prob_e4`` is computed with exact integer division
    ``(n * 10000) div c_ctx`` against the FULL context total (the sum
    over all continuations of the context, taken before ``min_count``
    pruning), so probabilities per context describe the true corpus
    distribution and sum to ≤ 10000 regardless of pruning — and the
    DuckDB oracle matches hash-exact with no float in sight.

    Plan shape: one tokenize → trigram explosion via the zip_with
    three-slice idiom (per-element ``element_at`` is the O(n²) trap —
    see `repetition_flags`) → hash-agg on (w1, w2, w3) — map-side
    partial absorbs the Zipf head — → a context-total window
    (partitionBy (w1, w2), no ordering = single-pass whole-partition
    sum) over the AGGREGATED type table, which is vocabulary-sized
    (Heaps-sublinear), not occurrence-sized.  Two key-partitioned
    shuffles total, both linear; no join, no global sort.
    """
    from pyspark.sql import Window

    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = df.select(
        F.transform(_tokens(F.col("text")), lambda t: F.lower(t)).alias(
            "__t"
        )
    )
    tri = toks.select(
        F.explode(
            F.when(
                F.size("__t") >= 3,
                F.zip_with(
                    F.slice("__t", 1, F.size("__t") - 2),
                    F.zip_with(
                        F.slice("__t", 2, F.size("__t") - 2),
                        F.slice("__t", 3, F.size("__t") - 2),
                        lambda b, c: F.struct(
                            b.alias("w2"), c.alias("w3")
                        ),
                    ),
                    lambda a, bc: F.struct(
                        a.alias("w1"),
                        bc["w2"].alias("w2"),
                        bc["w3"].alias("w3"),
                    ),
                ),
            ).otherwise(
                F.array().cast(
                    "array<struct<w1:string,w2:string,w3:string>>"
                )
            )
        ).alias("tg")
    ).select("tg.w1", "tg.w2", "tg.w3")
    counts = tri.groupBy("w1", "w2", "w3").agg(
        F.count("*").cast("long").alias("n")
    )
    ctx = Window.partitionBy("w1", "w2")
    return (
        counts.withColumn("__c_ctx", F.sum("n").over(ctx))
        .withColumn("prob_e4", F.expr("(n * 10000) div __c_ctx"))
        .filter(F.col("n") >= min_count)
        .select("w1", "w2", "w3", "n", "prob_e4")
    )


FULL_URL_RE = r"https?://[^\s]+"
_TRACKING_RE = r"^(utm_[^=]*|fbclid|gclid|ref)="


def url_dedup(df: DataFrame) -> DataFrame:
    """Canonical-URL deduplication — the crawl-frontier / CCNet-style
    URL key: extract every ``https?://`` URL, normalize each to its
    canonical form, and aggregate to ``(url, n_urls, n_docs,
    first_doc)`` per canonical URL (occurrences, distinct documents,
    min doc id as the deterministic canonical owner).

    Canonicalization (all pure JVM string/regex/array expressions —
    no UDF, each rule mirrored 1:1 in the DuckDB oracle):
      host lowercased · fragment stripped · default port dropped
      (``:80`` for http, ``:443`` for https) · trailing path slashes
      stripped · tracking params removed (``utm_*``, ``fbclid``,
      ``gclid``, ``ref``) · remaining query params sorted
      byte-lexicographically and rejoined.  Scheme is taken from the
      extractor (lowercase by construction); path/query VALUE case is
      preserved (case-significant on real servers).

    Plan shape: one ``regexp_extract_all`` + explode → a chain of
    per-row projections (single codegen stage, linear in extracted
    URLs) → one hash-agg on the canonical key with map-side combine.
    The Zipf head (one URL quoted everywhere) lands on the aggregate,
    which partial-aggregates before the shuffle — no join anywhere.
    """
    urls = df.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")), F.lit(FULL_URL_RE), 0
            )
        ).alias("u"),
    )
    staged = (
        urls.withColumn(
            "scheme", F.regexp_extract("u", r"^(https?)://", 1)
        )
        .withColumn("rest", F.regexp_replace("u", r"^https?://", ""))
        .withColumn("hostport", F.regexp_extract("rest", r"^([^/?#]+)", 1))
        .withColumn(
            "tail",
            F.expr("substring(rest, length(hostport) + 1)"),
        )
        .withColumn("pq", F.regexp_replace("tail", r"#.*$", ""))
        .withColumn(
            "host",
            F.when(
                F.col("scheme") == "http",
                F.regexp_replace(F.lower("hostport"), r":80$", ""),
            ).otherwise(
                F.regexp_replace(F.lower("hostport"), r":443$", "")
            ),
        )
        .withColumn(
            "path",
            F.regexp_replace(
                F.regexp_extract("pq", r"^([^?]*)", 1), r"/+$", ""
            ),
        )
        .withColumn(
            "qraw",
            F.when(
                F.instr("pq", "?") > 0,
                F.expr("substring(pq, instr(pq, '?') + 1)"),
            ).otherwise(F.lit("")),
        )
        .withColumn(
            "qcanon",
            F.array_join(
                F.array_sort(
                    F.filter(
                        F.split("qraw", "&"),
                        lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
                    )
                ),
                "&",
            ),
        )
    )
    canon = staged.select(
        "doc_id",
        F.concat(
            F.col("scheme"),
            F.lit("://"),
            F.col("host"),
            F.col("path"),
            F.when(
                F.col("qcanon") != "", F.concat(F.lit("?"), F.col("qcanon"))
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    return canon.groupBy("url").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


def postings_delta(
    df: DataFrame,
    min_df: int = 2,
    max_postings: int = 64,
) -> DataFrame:
    """Gap-encoded posting lists — the index-CONSTRUCTION step after
    `inverted_index`: per lowercased term, the ascending doc-id list
    (capped at ``max_postings``) re-expressed as deltas
    ``(term, df, gaps, max_gap)`` with ``gaps`` comma-joined (first
    element = first doc id, then successive differences) and
    ``max_gap`` the largest delta — the numbers a varint/Golomb coder
    actually stores, and the compressibility diagnostic (max_gap bounds
    the code length).  ``df`` counts ALL matching documents (before the
    cap), so the cap truncates the preview, not the statistic.

    Plan: explode → distinct (term, doc) hash-agg →
    per-term ``slice(array_sort(collect_set))`` and a zip_with
    self-shift for the deltas — the gap arithmetic is a pure array
    projection AFTER the aggregate, touching ≤ ``max_postings``
    elements per term.  Stopword-term skew: same collect-before-slice
    hazard and upstream-filter escape hatch as `inverted_index`.
    """
    if min_df < 1:
        raise ValueError("min_df must be >= 1")
    if max_postings < 1:
        raise ValueError("max_postings must be >= 1")
    term_doc = (
        df.select(
            F.col("doc_id").alias("doc"),
            F.explode(_tokens(F.lower(F.col("text")))).alias("term"),
        )
        .distinct()
    )
    agg = term_doc.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.slice(
            F.array_sort(F.collect_set("doc")), 1, max_postings
        ).alias("__docs"),
    )
    shifted = F.concat(
        F.array(F.lit(0).cast("long")),
        F.slice(F.col("__docs"), 1, F.size("__docs") - 1),
    )
    gaps = F.zip_with(F.col("__docs"), shifted, lambda a, b: a - b)
    return (
        agg.filter(F.col("df") >= min_df)
        .select(
            "term",
            "df",
            F.array_join(gaps.cast("array<string>"), ",").alias("gaps"),
            F.array_max(gaps).cast("long").alias("max_gap"),
        )
    )


def sentence_stats(df: DataFrame) -> DataFrame:
    """Per-document sentence segmentation stats: split on terminal
    punctuation runs (``[.!?]+``), drop empty segments, and report
    ``(doc_id, n_sentences, sum_words, max_words, avg_words_e2)`` —
    the readability / well-formedness signal next to `gopher_flags`
    (machine-generated text shows degenerate sentence-length
    distributions; headers and boilerplate show 1-word "sentences").
    ``avg_words_e2`` is exact integer ``(sum_words·100) div
    n_sentences`` (0 for sentence-free docs).

    Deliberately lookbehind-free (plain ``[.!?]+`` split): RE2-family
    engines — DuckDB's regex, Go, Hyperscan — reject lookbehind, so
    this exact rule runs verbatim in the oracle and in any sibling
    system.  Abbreviation handling ("Dr.") is out of scope at this
    layer, as in every corpus-scale segmenter's fast path.

    Plan: one projection — split → trim/filter → per-element word
    counts via nested array ops → three array folds; zero shuffle,
    zero UDF, whole-stage codegen end to end.
    """
    sents = F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"[.!?]+"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    words = F.transform(
        sents,
        lambda s: F.size(F.filter(F.split(s, r"\s+"), lambda w: w != "")),
    )
    staged = df.select(
        "doc_id", words.alias("__w")
    )
    n = F.size("__w")
    total = F.aggregate(
        "__w", F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return staged.select(
        "doc_id",
        n.cast("long").alias("n_sentences"),
        total.alias("sum_words"),
        F.coalesce(F.array_max("__w"), F.lit(0))
        .cast("long")
        .alias("max_words"),
    ).select(
        "doc_id",
        "n_sentences",
        "sum_words",
        "max_words",
        # derived from the ALREADY-computed sum column — never a second
        # fold over __w that could drift from the first
        F.when(
            F.col("n_sentences") > 0,
            F.expr("(sum_words * 100) div n_sentences"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("avg_words_e2"),
    )
