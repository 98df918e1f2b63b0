"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

All JVM-side built-in expressions (whole-stage codegen, no Python in the
hot path) so they run at 100 TB without Arrow transfer. Each has an exact
ANSI-SQL twin in __spark_entry__.oracle_sql for the DuckDB gate.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _spread

# fixed marker vocabularies for the n-gram/keyword language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "und", "die", "nicht", "ist"),
    "fr": ("le", "et", "les", "des", "est"),
    "es": ("el", "los", "que", "es", "una"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")

TOKEN_REGEX = "[a-z0-9]+"  # BPE-ish lowercase word/number pieces


def tokens(text_col: str | Column) -> Column:
    """Whitespace tokenization as an array column."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def token_count(text_col: str | Column) -> Column:
    return F.size(tokens(text_col))


def regex_token_count(text_col: str | Column, pattern: str = TOKEN_REGEX) -> Column:
    """Token count under a regex tokenizer (JVM regexp, codegen'd)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(F.lower(c), F.lit(pattern))


def stopword_ratio(text_col: str | Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(text_col)
    in_list = ", ".join(f"'{w}'" for w in stopwords)
    col_sql = text_col if isinstance(text_col, str) else None
    assert col_sql is not None, "stopword_ratio needs a column name for the lambda expr"
    return F.expr(
        f"size(filter(split({col_sql}, ' '), x -> x IN ({in_list}))) / size(split({col_sql}, ' '))"
    )


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: token count, mean token length,
    stopword ratio, alpha ratio. Rounds are applied by callers who need
    hash-stable output."""
    n_tok = token_count(text_col).alias("n_tokens")
    # mean token length = (chars - separators) / tokens
    mean_len = (
        (F.length(text_col) - (token_count(text_col) - F.lit(1))) / token_count(text_col)
    ).alias("mean_token_len")
    alpha_ratio = (
        F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", "")) / F.length(text_col)
    ).alias("alpha_ratio")
    return df.select(
        "*",
        n_tok,
        mean_len,
        stopword_ratio(text_col).alias("stopword_ratio"),
        alpha_ratio,
    )


def lang_scores(text_col: str) -> dict[str, Column]:
    """Marker-word vote count per language (deterministic)."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        in_list = ", ".join(f"'{w}'" for w in markers)
        out[lang] = F.expr(
            f"size(filter(split(lower({text_col}), ' '), x -> x IN ({in_list})))"
        )
    return out


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_guess") -> DataFrame:
    """Heuristic language ID: argmax of marker-word votes, ties broken by
    fixed language order (en < de < fr < es), 'und' when no votes."""
    scores = lang_scores(text_col)
    langs = list(LANG_MARKERS)
    df2 = df
    for lang in langs:
        df2 = df2.withColumn(f"_score_{lang}", scores[lang])
    # strict-argmax, first-listed language wins ties (strict > comparison)
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in langs:
        cond = F.col(f"_score_{lang}") > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, F.col(f"_score_{lang}")).otherwise(best_score)
    out = df2.withColumn(out_col, best)
    return out.drop(*[f"_score_{lang}" for lang in langs])


def normalized_fingerprint(text_col: str | Column) -> Column:
    """Content fingerprint: md5 of (lowercase, punctuation-stripped,
    whitespace-collapsed, trimmed) text. Identical formula is expressible
    in DuckDB, so this is oracle-checkable byte-for-byte."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""), " +", " ")
    )
    return F.md5(norm)


# ---------------------------------------------------------------------------
# Repetition / redundancy quality signals (Gopher-style, Rae et al. 2021
# arXiv:2112.11446 §A1.1 "repetition removal"): high duplicate-n-gram
# fraction marks boilerplate and spam pages. Implemented as explode +
# two-level hash aggregation — partial (map-side) combine on
# (doc_id, gram) then per-doc rollup, so the shape is shuffle-light and
# skew-free at 100 TB (a doc's grams all hash to spread partitions in
# stage 1; stage 2 keys on doc_id). No Python, no windows.
# ---------------------------------------------------------------------------


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition metrics over whitespace tokens:

      n_tokens            total tokens
      distinct_token_frac distinct / total (low → word-level repetition)
      top_token_frac      most-frequent token's share of all tokens
      n_bigrams           total adjacent pairs (n_tokens - 1)
      dup_bigram_frac     1 - distinct bigrams / total (Gopher's
                          duplicate-n-gram fraction for n=2)
      top_bigram_frac     most-frequent bigram's share

    Single-token docs get n_bigrams = 0 and null bigram fractions.
    Fully SQL-expressible → DuckDB-oracled driver entry
    (doc_repetition_stats)."""
    toks = f"split({text_col}, ' ')"
    uni = df.select(
        F.col(id_col), F.explode(F.expr(toks)).alias("tok")
    )
    uni_doc = (
        uni.groupBy(id_col, "tok")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct_tokens"),
            F.max("c").alias("top_token_c"),
        )
    )
    # adjacent pairs via a JVM transform over the token array (indexes
    # are 0-based in Spark's transform lambda). The array is bound once
    # per row as a lambda variable — element_at({toks}, ...) inline
    # would re-split the document for EVERY bigram (the O(tokens²)
    # shingles() trap, same fix)
    bi = df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(array({toks}), a -> "
                f"transform(slice(a, 1, size(a) - 1),"
                f" (x, i) -> concat(x, ' ', element_at(a, i + 2))))[0]"
            )
        ).alias("gram"),
    )
    bi_doc = (
        bi.groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("n_distinct_bigrams"),
            F.max("c").alias("top_bigram_c"),
        )
    )
    return (
        uni_doc.join(bi_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            (F.col("n_distinct_tokens") / F.col("n_tokens")).alias(
                "distinct_token_frac"
            ),
            (F.col("top_token_c") / F.col("n_tokens")).alias("top_token_frac"),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            (F.lit(1.0) - F.col("n_distinct_bigrams") / F.col("n_bigrams")).alias(
                "dup_bigram_frac"
            ),
            (F.col("top_bigram_c") / F.col("n_bigrams")).alias("top_bigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction — training-data hygiene: deterministic regex scrubbing of
# emails and phone-like numbers. Pure JVM regexp_replace/regexp_count
# (codegen'd, byte-deterministic), patterns chosen to parse identically
# under Java regex and DuckDB's RE2-style engine so the redacted TEXT
# itself is oracle-checked byte-for-byte.
# ---------------------------------------------------------------------------

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"


def redact_pii(
    df: DataFrame,
    text_col: str,
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
    out_col: str = "redacted",
) -> DataFrame:
    """Append ``out_col`` (text with emails/phones replaced by tokens)
    plus per-row ``n_emails`` / ``n_phones`` counts. Order matters:
    emails first so a phone-ish local part never double-redacts — and
    ``n_phones`` is counted on the email-redacted INTERMEDIATE, not the
    raw text, so the count always equals the number of phone replacements
    actually performed (round-4 advice: counting on raw text tallied
    phone-shaped digits inside an email address that the phone pass then
    never saw)."""
    c = F.col(text_col)
    emails_gone = F.regexp_replace(c, EMAIL_RE, email_token)
    return df.withColumns(
        {
            "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)),
            "n_phones": F.regexp_count(emails_gone, F.lit(PHONE_RE)),
            out_col: F.regexp_replace(emails_gone, PHONE_RE, phone_token),
        }
    )


# ---------------------------------------------------------------------------
# Corpus-level vocabulary statistics — the one explode-heavy shape in
# the text layer: token frequency over the WHOLE corpus (vocab building,
# tokenizer-training input, Zipf diagnostics).
# ---------------------------------------------------------------------------


def token_frequencies(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pattern: str = TOKEN_REGEX,
    min_tf: int = 1,
) -> DataFrame:
    """Corpus vocabulary: one row per distinct token with

      tf  total occurrences across the corpus
      df  number of distinct documents containing the token

    Tokens come from the regex tokenizer over lowercased text (the same
    stream ``regex_token_count`` counts). ``min_tf`` prunes the hapax
    tail AFTER aggregation — a pre-agg prune is impossible (a token's
    global count is unknowable map-side), so the filter cuts the result,
    not the shuffle.

    Scale shape (100 TB): explode is narrow; then TWO hash aggregations,
    both with map-side partial combine. Stage 1 keys on (token, doc) —
    within a task a document's occurrences collapse to one pre-summed
    row per distinct in-doc token, so shuffle volume is per-doc-distinct
    pairs (the exact-df lower bound), not raw occurrences. Stage 2 keys
    on token: tf = sum of per-doc counts, df = row count — exact
    document frequency with NO count(distinct) Expand node, and the
    "the"-skew arrives pre-combined (≤ one row per upstream partition).
    """
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)")
    per_doc = (
        df.select(F.col(id_col).alias("__doc"), F.explode(toks).alias("token"))
        .groupBy("token", "__doc")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    out = per_doc.groupBy("token").agg(
        F.sum("__c").alias("tf"), F.count(F.lit(1)).alias("df")
    )
    if min_tf > 1:
        out = out.filter(F.col("tf") >= min_tf)
    return out


_CONTROL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"  # C0 minus \t\n\r, plus DEL
_WS_CLASS = "[ \\t\\n\\r]+"


def nfc_normalize(text_col: str | Column) -> Column:
    """Unicode NFC normalization — the one text-canonicalization step
    Spark has no built-in for, so it runs as an Arrow-batched pandas UDF
    (defined lazily per plan; the UDF does ONLY normalization so the
    Python stage stays minimal — everything else in :func:`clean_text`
    is a JVM regex). DuckDB's ``nfc_normalize`` is the byte-exact oracle
    twin (both implement the Unicode standard's composition)."""
    import pandas as pd  # noqa: F401 (typing of the UDF signature)
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _nfc(c)


def clean_text(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Standard web-text canonicalization: Unicode NFC (combining marks
    composed, fullwidth/compat sequences left alone — NFC, not NFKC, so
    legitimate distinctions survive), C0/DEL control characters stripped
    (tab/newline/CR kept — they are whitespace, handled next), runs of
    whitespace collapsed to single spaces, ends trimmed. Idempotent.
    Everything after the NFC UDF is whole-stage-codegen JVM regex."""
    out_col = out_col or text_col
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(nfc_normalize(text_col), _CONTROL_CLASS, ""),
            _WS_CLASS,
            " ",
        )
    )
    return df.withColumn(out_col, cleaned)


def _bounded_micro_lut(
    vocab: DataFrame,
    top_k: int | None,
    name: str,
    out_col: str,
    scale: float = 1.0,
) -> tuple[DataFrame, DataFrame, int, int]:
    """The shared vocabulary-model block of the three LM scorers
    (:func:`unigram_logprob`, :func:`bigram_logprob`,
    :func:`importance_logweight`) — ONE implementation so a change to
    the bounding or the micro-unit rounding convention (e.g. the
    half-boundary fix) lands everywhere in lockstep:

    bound the (token, tf) frame to ``top_k`` by (tf DESC, token ASC —
    TakeOrdered heap, deterministic ties, never a full sort), persist
    the bounded frame (it feeds the totals action AND the scoring join;
    the CALLER must ``_pin`` the returned pinned frame on its output —
    and unpersist it if a later step raises), compute the corpus total,
    and build the integer micro-unit lut ``round(ln(scale·tf/total)·1e6)``.

    With ``top_k=None`` the helper does NOT create a bounded frame of
    its own, so it must not persist: the input may be the caller's own
    amortized (token, tf) cache, and persisting it here would make the
    documented ``release()`` contract on our output evict the CALLER's
    cache (Spark's CacheManager matches plans by sameResult, so even a
    trivially re-projected copy aliases the same entry). ``pinned`` is
    ``None`` in that case — callers skip the pin; a caller that wants
    exact-mode reuse should persist its vocab itself.

    Returns ``(lut, pinned, total, oov_micro)`` where ``oov_micro``
    is the half-occurrence penalty ``round(ln(scale·0.5/total)·1e6)``."""
    pinned = None
    if top_k is not None:
        vocab = vocab.orderBy(F.desc("tf"), "token").limit(top_k)
        pinned = vocab.persist()
    total = int(vocab.agg(F.sum("tf")).collect()[0][0] or 0)
    if total <= 0:
        if pinned is not None:
            pinned.unpersist()
        raise ValueError(f"empty {name} vocabulary: nothing to score against")
    micro = F.round(
        F.log(F.lit(scale) * F.col("tf").cast("double") / F.lit(float(total))) * 1e6, 0
    ).cast("long")
    oov_micro = int(round(math.log(scale * 0.5 / total) * 1e6))
    return vocab.select("token", micro.alias(out_col)), pinned, total, oov_micro


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame | None = None,
    top_k: int | None = 1 << 20,
    pattern: str = TOKEN_REGEX,
) -> DataFrame:
    """Unigram language-model scoring — the classic perplexity-proxy
    quality signal (gibberish and boilerplate-mangled docs score low
    because their tokens are rare in the corpus): per doc,
    ``avg_logprob`` = mean over tokens of ln(tf_token / total_tokens),
    out-of-vocabulary tokens smoothed at half an occurrence
    (ln(0.5 / total)).

    ``vocab`` defaults to :func:`token_frequencies` over ``df`` itself
    (self-scoring); pass a precomputed (token, tf) frame to score new
    batches against a reference corpus — the CDC admission shape.
    ``top_k`` keeps only the most frequent tokens in-vocabulary (rarer
    ones take the OOV penalty), which is also what keeps the broadcast
    small at 100 TB — BOUNDED BY DEFAULT at 2^20 tokens (round-4
    verdict: an unbounded default broadcast the full corpus vocabulary,
    fine at bench scale, unbounded at 100 TB; a ~1M-token LM vocabulary
    loses nothing, since everything rarer scores ≈ the OOV penalty
    anyway). Pass ``top_k=None`` to opt into the exact unbounded
    vocabulary. The cut itself is a TakeOrdered top-k heap (tf DESC,
    token ASC — deterministic under ties), never a full vocab sort.

    Determinism across engines and layouts: floating summation is not
    associative, so the per-doc total is accumulated in FIXED POINT —
    each token's logprob is rounded once to micro units
    (``round(ln(p)·1e6)`` as a 64-bit integer) and the integer sum is
    order-independent; the single final division happens per doc. The
    DuckDB oracle reproduces the score bit-for-bit. Plan: explode →
    broadcast vocab join → one partial-combined aggregation."""
    from .dedup import _pin

    vocab = vocab if vocab is not None else token_frequencies(df, id_col, text_col, pattern)
    lut, pinned, _total, oov_micro = _bounded_micro_lut(
        vocab, top_k, "unigram", "__micro"
    )
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)")
    exploded = df.select(F.col(id_col), F.explode(toks).alias("token"))
    scored = exploded.join(F.broadcast(lut), "token", "left")
    out = (
        scored.groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("__micro"), F.lit(oov_micro))).alias("__sum"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__micro").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            # raw double quotient of the exact integer micro-sum — NOT
            # rounded: the sum is order-independent so both engines
            # compute the identical IEEE double, while a 6dp round can
            # land exactly on a .5 boundary where Spark (half-up) and
            # DuckDB (half-even) disagree by 1e-6
            (F.col("__sum") / F.col("n_tokens") / F.lit(1e6)).alias("avg_logprob"),
        )
    )
    return _pin(pinned, out) if pinned is not None else out


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k_bigrams: int = 1 << 22,
    top_k_unigrams: int = 1 << 20,
    backoff: float = 0.4,
    pattern: str = TOKEN_REGEX,
) -> DataFrame:
    """Bigram language-model scoring with stupid backoff (Brants et al.
    2007, "Large Language Models in Machine Translation") — the standard
    step past :func:`unigram_logprob` as a fluency/quality signal:
    word-salad that survives a unigram screen (common tokens in nonsense
    order) scores low because its bigrams are unseen. Per doc,
    ``avg_logscore`` = mean over bigrams (w1, w2) of

      ln(c(w1,w2) / c(w1·))        when the bigram is in-model, else
      ln(backoff · tf(w2)/total)   (unigram backoff), else
      ln(backoff · 0.5/total)      (OOV half-occurrence)

    where c(w1·) counts bigrams whose context is w1 (so in-model scores
    are proper conditionals) and tf/total come from the token stream.
    Stupid backoff is deliberately unnormalized — a SCORE, not a
    probability — which is what makes it embarrassingly parallel and
    exactly what its authors ran at web scale.

    Both model tables are broadcast and BOUNDED (top_k by frequency,
    deterministic ties) — the conditional ln is computed once INSIDE the
    bigram table, so scoring is two broadcast joins + one
    partial-combined aggregation; per-doc totals accumulate in integer
    micro-units (order-independent — the unigram operator's fixed-point
    trick), so the DuckDB oracle reproduces the score bit-for-bit.

    Returns (id, n_bigrams, n_backoff, n_oov, avg_logscore); docs with
    fewer than two tokens have n_bigrams = 0 and a NULL score."""
    from .dedup import _pin

    toks = F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)")
    pairs = F.when(
        F.size("__toks") >= 2,
        F.expr(
            "transform(slice(__toks, 1, size(__toks) - 1), "
            "(t, i) -> struct(t AS w1, element_at(__toks, i + 2) AS w2))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
    exploded = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(id_col, F.explode_outer(pairs).alias("bg"))
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    # the bigram stream feeds the model build AND the scoring join, but it
    # is deliberately NOT persisted: it's O(corpus tokens) — caching it
    # would make the operator's real footprint O(corpus) at 100 TB, while
    # recomputing it is one narrow codegen'd regexp+explode scan (same
    # trade unigram_logprob makes; only the BOUNDED vocab tables persist)
    bi_counts = (
        exploded.filter(F.col("w1").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_bi"))
    )
    ctx = bi_counts.groupBy("w1").agg(F.sum("c_bi").alias("c_ctx"))
    bi_lut = (
        bi_counts.join(ctx, "w1")
        .orderBy(F.desc("c_bi"), "w1", "w2")
        .limit(top_k_bigrams)
        .select(
            "w1",
            "w2",
            F.round(
                F.log(F.col("c_bi").cast("double") / F.col("c_ctx")) * 1e6, 0
            ).cast("long").alias("__mbi"),
        )
    )
    uni_lut, uni, _total, oov_micro = _bounded_micro_lut(
        token_frequencies(df, id_col, text_col, pattern),
        top_k_unigrams, "unigram backoff", "__muni", scale=backoff,
    )
    uni_lut = uni_lut.withColumnRenamed("token", "w2")
    scored = (
        exploded.join(F.broadcast(bi_lut), ["w1", "w2"], "left")
        .join(F.broadcast(uni_lut), "w2", "left")
    )
    out = (
        scored.groupBy(id_col)
        .agg(
            F.count("w1").alias("n_bigrams"),
            F.sum(
                F.when(F.col("w1").isNull(), None).otherwise(
                    F.coalesce("__mbi", "__muni", F.lit(oov_micro))
                )
            ).alias("__sum"),
            F.sum(
                F.when(
                    F.col("w1").isNotNull()
                    & F.col("__mbi").isNull()
                    & F.col("__muni").isNotNull(),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_backoff"),
            F.sum(
                F.when(
                    F.col("w1").isNotNull()
                    & F.col("__mbi").isNull()
                    & F.col("__muni").isNull(),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .select(
            id_col,
            "n_bigrams",
            "n_backoff",
            "n_oov",
            # raw double quotient — see unigram_logprob's rounding note
            F.when(
                F.col("n_bigrams") > 0,
                F.col("__sum") / F.col("n_bigrams") / F.lit(1e6),
            ).alias("avg_logscore"),
        )
    )
    return _pin(uni, out) if uni is not None else out


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
    pattern: str = TOKEN_REGEX,
) -> DataFrame:
    """Cross-document duplicated token spans — the windowed form of
    exact-substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": verbatim ≥k-token
    repeats are the highest-value dedup targets because models memorize
    them): every ``span_tokens``-token window (by token position) whose
    md5 appears in MORE THAN ONE document, reported per (doc, start
    position) with the number of distinct docs sharing it. Runs of
    overlapping flagged positions in one doc delimit the verbatim
    region to cut.

    Scale shape: the span stream is one codegen'd
    transform-over-token-array projection (no self-join — each span
    keys by hash and the aggregation is the two-level distinct-(hash,
    doc) → per-hash count pattern, skew pre-combined map-side); the
    join back to positions is a plain equi-join on the hash, linear in
    flagged spans, never pairwise. md5 keying keeps the operator
    ANSI-SQL-expressible for the DuckDB oracle.

    Returns (id, pos, span_docs): 1-based token position of each
    duplicated window, span_docs ≥ 2."""
    if span_tokens < 2:
        raise ValueError(f"span_tokens must be >= 2, got {span_tokens}")
    from .dedup import _pin

    # the span stream (one md5 per token window) feeds two branches —
    # the distinct-doc count and the position join — so it is PINNED to
    # keep the window hashing to one pass (round-6, guide §2.4; release
    # with dedup.release on the result)
    stream = _span_stream(df, id_col, text_col, span_tokens, pattern)
    # distinct (h, doc) first, then per-hash doc count: exact distinct-doc
    # counts with no count-distinct Expand, 'the the the'-style in-doc
    # repeats collapsed map-side (token_frequencies' two-level pattern)
    per_doc = stream.select("h", id_col).distinct()
    counts = per_doc.groupBy("h").agg(F.count("*").alias("span_docs"))
    dup = counts.filter(F.col("span_docs") >= 2)
    return _pin(
        stream,
        stream.join(dup, "h").select(id_col, "pos", "span_docs"),
    )


def _span_stream(
    df: DataFrame, id_col: str, text_col: str, k: int, pattern: str
) -> DataFrame:
    """(id, pos, h): the md5 of every k-token window, 1-based position —
    one codegen'd transform-over-token-array projection, no self-join;
    shared by :func:`duplicate_spans` (detection) and
    :func:`remove_duplicate_spans` (removal) so the window derivation
    cannot drift between them."""
    from .dedup import _spread

    toks = F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)")
    spans = F.when(
        F.size("__toks") >= k,
        F.expr(
            f"transform(sequence(1, size(__toks) - {k} + 1), "
            f"i -> struct(i AS pos, md5(concat_ws(' ', slice(__toks, i, {k}))) AS h))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<pos:int,h:string>>"))
    # _spread (round-6): one md5 per token window is the heavy part and a
    # one-split input ran it all in a single task. (An Arrow/hashlib
    # kernel like winnowing's was tried and measured SLOWER here — 0.43 s
    # vs 0.32 s: the span count is ~40× smaller than winnowing's char
    # grams, so Arrow-shipping every token array costs more than the
    # interpreted per-window lambda saves.)
    return (
        _spread(df.select(F.col(id_col), toks.alias("__toks")))
        .select(id_col, F.explode(spans).alias("s"))
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
    pattern: str = TOKEN_REGEX,
    out_col: str | None = None,
) -> DataFrame:
    """Exact-substring deduplication, the removal half of
    :func:`duplicate_spans` (Lee et al. 2021): every token covered by a
    duplicated ``span_tokens``-token window occurrence OTHER than the
    window's global first occurrence — lowest ``(doc id, position)`` —
    is cut, and each document is rebuilt from its surviving tokens in
    order. Overlapping flagged windows union their coverage, so a long
    verbatim repeat disappears from every document but the one that
    said it first (up to the window-boundary tokens whose straddling
    windows are unique to their document).

    The rebuilt text is the NORMALIZED token stream — lowercased
    ``pattern`` tokens joined by single spaces — not the original bytes
    (Lee et al. cut the raw sequence; this operator works on the same
    tokenized view as the rest of the textstats layer, which is what
    the downstream token-level pipeline consumes anyway). In-doc-only
    repeats are NOT flagged, matching the detector's ≥2-distinct-docs
    rule.

    Returns ``(id, <out_col>, n_kept_tokens, n_removed_tokens)``.

    Scale shape: all equi-joins on uniform keys — the span hash for
    winner resolution (winner = ONE partial-combinable
    ``min(struct(id, pos))`` aggregation, never a window over the
    skewed span hash), then ``(id, token position)`` for coverage
    marking; loser occurrences explode to exactly ``span_tokens`` rows
    each (bounded amplification) and the distinct collapses the
    overlap. The rebuild is the same single doc-id exchange as
    :func:`~csv_cruncher_spark.operators.boilerplate.remove_boilerplate_lines`.
    """
    if span_tokens < 2:
        raise ValueError(f"span_tokens must be >= 2, got {span_tokens}")
    k = span_tokens
    out_col = out_col or text_col
    # (round-6) measured: pinning the span stream here LOST ~0.3 s — the
    # four branches mostly share exchanges already, and caching 3M
    # (id, pos, hex) rows costs more than the recompute; _span_stream's
    # _spread is the win (single-split inputs ran the md5 single-task)
    stream = _span_stream(df, id_col, text_col, k, pattern)
    per_doc = stream.select("h", id_col).distinct()
    dup = (
        per_doc.groupBy("h")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("h")
    )
    flagged = stream.join(dup, "h")
    winners = flagged.groupBy("h").agg(
        F.min(F.struct(id_col, "pos")).alias("__w")
    )
    losers = flagged.join(winners, "h").filter(
        F.struct(id_col, "pos") != F.col("__w")
    )
    covered = (
        losers.select(
            F.col(id_col),
            F.explode(F.expr(f"sequence(pos, pos + {k} - 1)")).alias("__tpos"),
        )
        .distinct()
        .withColumn("__cut", F.lit(1))
    )
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)")
    tokens = df.select(
        F.col(id_col), F.posexplode_outer(toks).alias("__p0", "__tok")
    ).withColumn("__tpos", F.col("__p0") + 1)
    marked = tokens.join(covered, [id_col, "__tpos"], "left")
    # token-free docs survive posexplode_outer as one NULL-token row:
    # kept in the group, counted in neither tally
    keep = F.col("__cut").isNull() & F.col("__tok").isNotNull()
    out = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("__tpos", "__tok")))
                ),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias(out_col),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept_tokens"),
        F.sum(F.when(F.col("__cut").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed_tokens"),
    )
    return out


def importance_logweight(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_vocab: DataFrame,
    raw_vocab: DataFrame | None = None,
    top_k: int | None = 1 << 20,
    pattern: str = TOKEN_REGEX,
) -> DataFrame:
    """DSIR-style per-document importance log-weight (Xie et al. 2023,
    "Data Selection via Importance Resampling", arXiv:2302.03169) under
    the bag-of-unigrams feature space:

      ln w(doc) = Σ_tokens [ ln P_target(token) − ln P_raw(token) ]

    — documents whose token distribution looks like the TARGET corpus
    (e.g. a curated high-quality reference) get positive weights; raw-
    corpus-typical docs get ≈0; junk gets negative. Feed the weight to
    the selection layer (``ranking.percentile_filter`` for a hard cut,
    or a hash-threshold resample at the call site) — the operator
    deliberately returns weights, not a sample, so the resampling policy
    stays a separate, auditable decision.

    ``target_vocab`` / ``raw_vocab`` are (token, tf) frames (from
    :func:`token_frequencies`, persisted or stored); ``raw_vocab``
    defaults to ``df`` itself. Both are bounded to ``top_k`` tokens by
    frequency (deterministic ties) and broadcast; out-of-vocabulary
    tokens take the half-occurrence smoothing on that side — the same
    conventions as :func:`unigram_logprob`, so the two scores compose.
    With ``top_k=None`` (exact mode) the scorer never persists the
    caller's frames — persist your amortized vocab yourself; the
    ``release()`` contract on the returned frame only ever frees
    scorer-owned bounded copies.

    Per-token deltas are integer micro-units (round once, sum exactly —
    order-independent), and the returned ``logweight`` is the raw double
    of the micro-sum (no terminal rounding, see unigram_logprob's note),
    so the DuckDB oracle reproduces it bit-for-bit.

    Returns (id, n_tokens, logweight)."""
    from .dedup import _pin

    raw_vocab = (
        raw_vocab
        if raw_vocab is not None
        else token_frequencies(df, id_col, text_col, pattern)
    )
    t_lut, t_pinned, _t_total, oov_t = _bounded_micro_lut(
        target_vocab, top_k, "target", "__mt"
    )
    try:
        r_lut, r_pinned, _r_total, oov_r = _bounded_micro_lut(
            raw_vocab, top_k, "raw", "__mr"
        )
    except Exception:
        # the target vocab may already be persisted with no release point
        # on any returned frame — drop it before propagating
        if t_pinned is not None:
            t_pinned.unpersist()
        raise
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)")
    exploded = df.select(F.col(id_col), F.explode_outer(toks).alias("token"))
    scored = exploded.join(F.broadcast(t_lut), "token", "left").join(
        F.broadcast(r_lut), "token", "left"
    )
    delta = F.coalesce("__mt", F.lit(oov_t)) - F.coalesce("__mr", F.lit(oov_r))
    out = (
        scored.groupBy(id_col)
        .agg(
            F.count("token").alias("n_tokens"),
            F.sum(F.when(F.col("token").isNull(), None).otherwise(delta)).alias("__sum"),
        )
        .select(
            id_col,
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0, F.col("__sum") / F.lit(1e6)
            ).alias("logweight"),
        )
    )
    # release points for the two persisted vocab frames on the result
    if r_pinned is not None:
        out = _pin(r_pinned, out)
    if t_pinned is not None:
        out = _pin(t_pinned, out)
    return out


# ---------------------------------------------------------------------------
# Composite document-quality gate (Gopher-style, Rae et al. 2021
# arXiv:2112.11446 Table A1): the standard pre-training admission rule
# set — length band, word-shape band, stopword floor, repetition caps —
# evaluated as ONE composition of the metrics this module already
# computes. Every rule is a JVM expression over two shuffle-light
# aggregations; the reason string names each failed rule in fixed order
# so downstream audits can count rejections per rule with a plain
# groupBy.
# ---------------------------------------------------------------------------


def gopher_quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_tokens: int = 30,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    min_alpha_ratio: float = 0.6,
    min_stopword_ratio: float = 0.02,
    max_top_token_frac: float = 0.2,
    max_dup_bigram_frac: float = 0.2,
) -> DataFrame:
    """Per-document composite quality verdict: ``keep`` plus a
    fixed-order comma-joined ``reasons`` string naming every failed
    rule (empty when the document passes all of them).

    Rules (names are the audit vocabulary):

      too_few_tokens / too_many_tokens   token count outside the band
      bad_mean_token_len                 mean token length outside
                                         [min, max] (gibberish / DNA /
                                         minified-code shape)
      low_alpha_ratio                    too few alphabetic characters
      low_stopword_ratio                 Gopher's function-word floor
      repetitive_top_token               one token dominates the doc
      dup_bigrams                        duplicate-bigram fraction cap
                                         (single-token docs have no
                                         bigrams → rule cannot fire)

    Plan shape: :func:`quality_metrics` is a pure projection (keeps
    every id, including NULL-text docs, which fail ``too_few_tokens``);
    :func:`repetition_stats` is two partial-combined hash aggregations;
    the two meet in one narrow equi-join on the uniform doc id — no
    windows, no skewed keys, no Python, so the gate runs at corpus
    scale as two shuffles of metric-width rows. Fully SQL-expressible
    (driver entry gopher_quality_docs, row-level DuckDB oracle).

    Empty-string text is treated exactly like NULL text (contentless:
    every metric NULL, the document fails ``too_few_tokens`` and
    nothing else) — ``nullif`` BEFORE the metrics both keeps ANSI mode
    from raising DIVIDE_BY_ZERO in ``alpha_ratio``'s
    ``length(text)`` denominator and stops the degenerate
    one-empty-token split from firing ``repetitive_top_token``."""
    guarded = df.select(
        F.col(id_col), F.nullif(F.col(text_col), F.lit("")).alias(text_col)
    )
    qual = quality_metrics(guarded, text_col).select(
        F.col(id_col),
        "n_tokens",
        "mean_token_len",
        "stopword_ratio",
        "alpha_ratio",
    )
    rep = repetition_stats(guarded, id_col, text_col).select(
        F.col(id_col), "top_token_frac", "dup_bigram_frac"
    )
    j = qual.join(rep, id_col, "left")
    n_tok = F.coalesce(F.col("n_tokens"), F.lit(0))
    rules: list[tuple[str, Column]] = [
        ("too_few_tokens", n_tok < min_tokens),
        ("too_many_tokens", n_tok > max_tokens),
        (
            "bad_mean_token_len",
            (F.col("mean_token_len") < min_mean_token_len)
            | (F.col("mean_token_len") > max_mean_token_len),
        ),
        ("low_alpha_ratio", F.col("alpha_ratio") < min_alpha_ratio),
        ("low_stopword_ratio", F.col("stopword_ratio") < min_stopword_ratio),
        ("repetitive_top_token", F.col("top_token_frac") > max_top_token_frac),
        ("dup_bigrams", F.col("dup_bigram_frac") > max_dup_bigram_frac),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return j.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction — per-document top-k salient terms, the
# classic relevance signal (Sparck Jones 1972) corpus curation uses for
# topic tagging and search-side document summaries.
# ---------------------------------------------------------------------------


def tfidf_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    pattern: str = TOKEN_REGEX,
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document: (id, kw_rank 1-based,
    token, score_micro) where score_micro = in-doc count ×
    round(ln(N/df)·10^6) — the idf in integer micro-units (the module's
    established cross-engine-exact trick for transcendental scores), so
    ranking is pure integer comparison and DuckDB replays it
    bit-for-bit. Ties break token-ascending. Documents with no tokens
    emit no rows (nothing to rank).

    Scale shape: per-(doc, token) counts pre-combine map-side (the
    df-exact two-level shape of :func:`token_frequencies`); idf is a
    vocabulary-sized frame joined back ON TOKEN (plain equi-join — a
    popular token has many (doc, token) rows but exactly one idf row,
    no broadcast of an unbounded vocab); top-k per doc is ONE
    partial-combined collect_list/sort/slice aggregation whose state is
    bounded by per-doc distinct tokens — never a global window."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from .bpe import _sql_str

    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), {_sql_str(pattern)}, 0)"
    )
    docs = df.select(F.col(id_col), toks.alias("__toks"))
    per = (
        docs.select(F.col(id_col), F.explode("__toks").alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    vocab = per.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    n = df.select(F.count(F.lit(1)).alias("__n"))
    idf = vocab.crossJoin(F.broadcast(n)).select(
        "token",
        F.round(
            F.log(F.col("__n").cast("double") / F.col("__df")) * 1_000_000
        )
        .cast("bigint")
        .alias("__idf"),
    )
    scored = per.join(idf, "token").select(
        F.col(id_col),
        "token",
        (F.col("__c") * F.col("__idf")).alias("score_micro"),
    )
    top = scored.groupBy(id_col).agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("score_micro")).alias("neg"),
                        F.col("token").alias("token"),
                        F.col("score_micro").alias("score_micro"),
                    )
                )
            ),
            1,
            k,
        ).alias("__kws")
    )
    return top.select(
        F.col(id_col),
        F.posexplode("__kws").alias("__pos", "__kw"),
    ).select(
        F.col(id_col),
        (F.col("__pos") + 1).cast("long").alias("kw_rank"),
        F.col("__kw.token").alias("token"),
        F.col("__kw.score_micro").alias("score_micro"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    top_n: int = 100,
    pattern: str = TOKEN_REGEX,
) -> DataFrame:
    """Zipf-law diagnostic: the least-squares slope of ln(tf) vs
    ln(rank) over the corpus' ``top_n`` tokens — natural text sits near
    −1; a pipeline bug (boilerplate flood, dedup failure, tokenizer
    drift) shows up as a slope shift, which makes this the cheap
    whole-corpus canary to chart per snapshot.

    Returns ONE row: (n_points, zipf_slope). Exactness: ranks and
    frequencies map to integer micro-logs (round(ln·10^6), the module's
    transcendental-score trick), the normal-equation terms
    nΣxy − ΣxΣy and nΣxx − (Σx)² accumulate as exact 64-bit integers,
    and the slope is their single double division — so DuckDB replays
    the whole FIT bit-for-bit, not just the token counts. ``top_n`` is
    capped at 200 because that is where int64 exactness ends under the
    worst admissible frequency: with tf up to 10^14 (a 100-TB corpus),
    y ≤ ln(10^14)·10^6 ≈ 3.3·10^7 and the cross term n·Σxy ≈
    n²·x̄·ȳ reaches ~7·10^18 at n = 200 — inside int64; 250 points
    would overflow (ANSI mode would throw; casting to double first
    would break the bit-exact contract, so the bound is the honest
    fix). A degenerate corpus with a single distinct token yields a 0
    denominator → NULL slope (both engines), never a DIVIDE_BY_ZERO.

    Scale shape: the corpus-scale work is ONE partial-combined hash
    aggregation (reusing :func:`~csv_cruncher_spark.operators.bpe.
    word_frequencies`); the top-n cut is a bounded TakeOrdered (tf
    DESC, token ASC — total order, no ties left to the engine) and the
    fit is one aggregate over ``top_n`` rows. No windows, no Python."""
    if top_n <= 1 or top_n > 200:
        raise ValueError(f"top_n must be in [2, 200], got {top_n}")
    from .bpe import word_frequencies

    vocab = word_frequencies(df, text_col, pattern).select(
        F.col("word").alias("token"), F.col("freq").alias("tf")
    )
    top = vocab.orderBy(F.col("tf").desc(), "token").limit(top_n)
    # bounded collect (<= top_n rows, the centroid-collect contract):
    # ranks are positions in the already-total order
    rows = top.select("tf").collect()
    spark = df.sparkSession
    pts = spark.createDataFrame(
        [(i + 1, int(r["tf"])) for i, r in enumerate(rows)],
        "r long, tf long",
    ).select(
        F.round(F.log(F.col("r").cast("double")) * 1_000_000)
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("tf").cast("double")) * 1_000_000)
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.when(den != 0, num / den).alias("zipf_slope"),
    )


def corpus_drift(
    df: DataFrame,
    group_col: str,
    text_col: str,
    pattern: str = TOKEN_REGEX,
) -> DataFrame:
    """Distribution-drift diagnostic: per group (source, snapshot, shard
    — whatever ``group_col`` slices), the KL divergence of the group's
    unigram distribution from the WHOLE corpus'

        KL(P_g || P_corpus) = Σ_t P_g(t) · [ln P_g(t) − ln P_c(t)]

    — the standard data-quality canary for "did this source/crawl
    snapshot drift away from the corpus mix" (CCNet monitors exactly
    this per shard; a boilerplate flood, language shift, or scraper
    regression shows up as a KL spike long before eval metrics move).
    Always ≥ 0 up to quantization; a group matching the corpus mix
    scores ≈ 0.

    Exactness (the module's fixed-point discipline): the two log
    probabilities are each rounded ONCE to int64 micro-nats —
    ``round(1e6·ln(tf_g/T_g))`` and ``round(1e6·ln(tf_c/T_c))``, single
    IEEE divide→ln→round chains on exact int64 counts — then the sum
    ``Σ tf_g·(ln_g − ln_c)`` accumulates as EXACT int64 products
    (order-independent, any layout), and the returned ``kl_micro`` is
    that sum's one terminal division by ``T_g`` (micro-nats per token;
    raw double, no terminal rounding — unigram_logprob's convention).
    Every group token is in the corpus by construction (group ⊆ corpus),
    so no OOV smoothing is needed, unlike the cross-corpus scorers.

    Int64-exactness bound: |ln_g − ln_c| ≤ ~35e6 micro-nats, so the sum
    is exact while the group holds ≲ 2.6·10^11 tokens; shard larger
    groups or scale both T's by a common power of 10 (a constant shift
    — ranking unchanged).

    Scale shape: ONE (group, token) hash agg (map-side combined, the
    'the'-skew arrives pre-summed), token totals fold from it, the
    corpus side joins ON TOKEN (vocabulary-sized equi-join, one idf-row
    per token — tfidf_keywords' shape, never a broadcast of an
    unbounded vocab), and the per-group reduce moves one int64 per
    (group, token). Returns (group_col, n_tokens, kl_micro).
    """
    from .bpe import _sql_str

    toks = F.expr(f"regexp_extract_all(lower({text_col}), {_sql_str(pattern)}, 0)")
    per = (
        df.select(F.col(group_col).alias("__g"), F.explode(toks).alias("token"))
        .groupBy("__g", "token")
        .agg(F.count(F.lit(1)).alias("__tfg"))
    )
    gt = per.groupBy("__g").agg(F.sum("__tfg").alias("__tg"))
    corp = per.groupBy("token").agg(F.sum("__tfg").alias("__tfc"))
    tot = corp.agg(F.sum("__tfc").alias("__tc"))

    ln_micro = lambda num, den: F.round(  # noqa: E731 — shared shape
        F.log(num.cast("double") / den) * 1_000_000
    ).cast("bigint")

    j = (
        per.join(gt, "__g")
        .join(corp, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "__g",
            "__tfg",
            (
                F.col("__tfg")
                * (
                    ln_micro(F.col("__tfg"), F.col("__tg"))
                    - ln_micro(F.col("__tfc"), F.col("__tc"))
                )
            ).alias("__contrib"),
        )
    )
    agg = j.groupBy("__g").agg(
        F.sum("__tfg").alias("n_tokens"),
        F.sum("__contrib").alias("__s"),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "n_tokens",
        (F.col("__s") / F.col("n_tokens")).alias("kl_micro"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Corpus-level collocation mining: top-``top_k`` adjacent word
    pairs by pointwise mutual information

        PMI(w1, w2) = ln( P(w1, w2) / (P(w1) · P(w2)) )
                    = ln( (c_ab · Tu · Tu) / (Tb · c_a · c_b) )

    with unigram probabilities from the whole token stream (Tu tokens)
    and the bigram probability from the adjacent-pair stream (Tb = Tu −
    n_docs pairs). High-PMI pairs are multiword units ("new york",
    "machine learning") — tokenizer-vocabulary and phrase-mining input
    upstream of BPE, and a corpus-quality diagnostic (boilerplate
    corpora surface their templates as impossibly high PMI mass).

    ``min_count`` floors the bigram count BEFORE scoring — raw PMI is
    notoriously dominated by hapax pairs (one co-occurrence of two rare
    words maximizes the ratio), so unfloored output is noise.

    Cross-engine exactness: counts are int64 partial-combined
    aggregations; the two stream totals are 1-row aggregates collected
    once; the score is quantized to integer micro-units with ONE
    ln/round over a double expression whose text is mirrored verbatim
    in the DuckDB oracle (same operand order → same IEEE doubles), the
    ``tfidf_keywords``/``bm25_topk`` discipline.

    Scale shape (100 TB): bigram explode is narrow (two words a row);
    both count aggregations partial-combine map-side; the c_a / c_b
    attach is two equi-joins on the word key (skew-capped by min_count
    — a post-floor bigram vocabulary has no quadratic key); top-k is
    TakeOrdered (no global sort). Returns
    (w1, w2, n_pair, pmi_micro) ordered (pmi_micro DESC, w1, w2).
    """
    toks = F.split(F.col(text_col), " ")
    uni = df.select(F.explode(toks).alias("w"))
    uni_counts = uni.groupBy("w").agg(F.count("*").alias("c"))
    # guard: sequence(1, 0) DESCENDS ([1, 0]) rather than producing an
    # empty array, and element_at(_, 0) throws under ANSI — single-token
    # and empty docs must yield an empty pair list explicitly
    # token array bound once per row (the shingles() lambda binding) —
    # element_at(split(...), i) inline re-splits the document per bigram
    bi = df.select(
        F.explode(
            F.expr(
                f"transform(array(split({text_col}, ' ')), a -> "
                f"transform(if(size(a) >= 2, sequence(1, size(a) - 1), "
                f"cast(array() as array<int>)), "
                f"i -> struct(element_at(a, i) AS w1, "
                f"element_at(a, i + 1) AS w2)))[0]"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi_counts = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    tu = uni_counts.agg(F.sum("c")).collect()[0][0] or 0
    tb = bi.count()
    ca = uni_counts.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    cb = uni_counts.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        bi_counts.join(ca, "w1")
        .join(cb, "w2")
        .withColumn(
            "pmi_micro",
            F.expr(
                f"CAST(ROUND(LN((CAST(n_pair AS DOUBLE) * {tu} * {tu}) / "
                f"(CAST({tb} AS DOUBLE) * c_a * c_b)) * 1000000, 0) AS BIGINT)"
            ),
        )
    )
    return (
        scored.select("w1", "w2", "n_pair", "pmi_micro")
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(top_k)
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon character entropy, in integer micro-nats:

        H = ln(n) − (Σ_ch c_ch · ln(c_ch)) / n

    (the factored form of −Σ p ln p with p = c/n). Low entropy flags
    degenerate pages (padding, repeated glyphs, binary-as-text); high
    entropy flags encrypted/compressed junk — a standard cheap quality
    signal next to `quality_metrics` and `repetition_stats`.

    Cross-engine exactness: per-(doc, char) counts are int64; each
    char class contributes ONE deterministic term
    ``ROUND(c · LN(c) · 1e6)`` quantized to int64 BEFORE summing, so
    the sum is order-independent integer arithmetic (double summation
    would be partition-order-dependent); the final subtraction applies
    one more deterministic ln/round. The DuckDB oracle mirrors both
    formula texts verbatim (the pmi_collocations discipline).
    Quantization error is ≤0.5 micro-nat per distinct char class —
    bounded by design, identical in both engines.

    Scale shape (100 TB): the char explode is narrow (id, one char);
    the (id, char) count partial-combines map-side (per-doc alphabet ≪
    per-doc length, so the exchange carries roughly docs × alphabet
    rows, not corpus characters); the per-doc fold is a second
    partial-combined agg. No windows, no Python, no skew (keys are
    doc-scoped). NULL and empty text yield entropy_micro NULL with the
    row preserved (NULL-row survival discipline).

    Returns (id_col, n_chars, n_distinct_chars, entropy_micro) ordered
    by id.
    """
    chars = df.select(
        F.col(id_col),
        # split-to-chars, guarded: split('', '') yields [''] (one empty
        # element) and empty text must yield ZERO char rows. split is
        # one O(len) pass — the earlier transform(sequence(...),
        # i -> substring(text, i, 1)) formulation seeks code points from
        # the string start per index (O(len²) per document, the
        # long-document trap BASELINE.md measures).
        F.explode(
            F.expr(
                f"if(length({text_col}) >= 1, split({text_col}, ''), "
                f"cast(array() as array<string>))"
            )
        ).alias("ch"),
    )
    per_class = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    per_doc = per_class.groupBy(id_col).agg(
        F.sum("c").alias("n_chars"),
        F.count("*").alias("n_distinct_chars"),
        F.sum(
            F.expr("CAST(ROUND(c * LN(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT)")
        ).alias("s_micro"),
    )
    scored = per_doc.withColumn(
        "entropy_micro",
        F.expr(
            "CAST(ROUND(LN(CAST(n_chars AS DOUBLE)) * 1000000 "
            "- CAST(s_micro AS DOUBLE) / n_chars, 0) AS BIGINT)"
        ),
    )
    # docs with NULL/empty text produce no char rows — join them back
    base = df.select(id_col).distinct()
    return (
        base.join(scored.drop("s_micro"), id_col, "left")
        .withColumn("n_chars", F.coalesce("n_chars", F.lit(0)))
        .withColumn(
            "n_distinct_chars", F.coalesce("n_distinct_chars", F.lit(0))
        )
        .orderBy(id_col)
    )


# ---------------------------------------------------------------------------
# Winnowing local fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
# MOSS algorithm): char-k-gram rolling hashes, minimum per sliding
# window of w hashes. Guarantee: any substring match of length
# >= k + w - 1 between two documents shares at least one selected
# fingerprint, and no match shorter than k is ever detected — the
# local-fingerprint complement to whole-doc `normalized_fingerprint`
# and to the shingle/MinHash pipeline (which samples globally and can
# miss short verbatim reuse inside otherwise-different pages).
# ---------------------------------------------------------------------------


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint set: (id, fp) rows, one per
    DISTINCT selected hash (positions dropped — cross-doc matching
    needs the value set only, which also makes the tie rule moot: equal
    minima select equal values).

    Plan: normalization is a JVM projection; hashing, window minima and
    the per-doc distinct run inside one Arrow-batched pandas UDF (kernel
    note below) — no exchange.

    Docs shorter than k + window - 1 normalized chars emit no rows
    (nothing to guarantee).
    """
    if k < 2 or window < 1:
        raise ValueError(f"need k >= 2, window >= 1, got k={k} w={window}")
    import pandas as pd  # noqa: F401 (Arrow batch carrier)
    from pyspark.sql.functions import pandas_udf

    from .dedup import _spread

    c = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""), " +", " ")
    )
    # _spread (round-6): a one-split parquet input ran the per-position
    # hashing — the heaviest expression in the bench — in a SINGLE task;
    # task parallelism must track the exploded size
    out = _spread(df.select(F.col(id_col), norm.alias("__n")))
    # Round-6 kernel (guide §4.2 — hand whole batches to vectorized
    # native code): per document the md5-per-char-position hashing and
    # the sliding-window minimum run inside ONE Arrow-batched pandas
    # UDF — hashlib's C md5 replaces Catalyst's interpreted
    # per-element transform lambda (string slice + concat_ws + md5 +
    # conv per position), the window minimum is w-1 vectorized numpy
    # elementwise minima instead of a doc-keyed exchange + sort +
    # running-min window over EVERY char position, and the per-doc
    # distinct is np.unique — so the whole operator needs no exchange
    # at all before the (tiny) fingerprint rows explode.
    # Exactness: hash = int of the first 6 bytes of md5(gram), the
    # same 48-bit value as cast(conv(substring(md5(g),1,12),16,10) as
    # bigint) — the normalized text is pure ASCII by construction so
    # Python/JVM utf-8 agree byte-for-byte; selection = min per
    # rolling window, values-only distinct — pinned against a
    # pure-Python replay by test_winnowing.py and against the DuckDB
    # replay by every winnowing oracle entry.
    kk, ww = int(k), int(window)

    @pandas_udf("array<bigint>")
    def _fps(s):
        import hashlib

        import pandas as pd

        import numpy as np

        md5 = hashlib.md5
        res = []
        for t in s:
            if t is None or len(t) < kk + ww - 1:
                res.append([])
                continue
            b = t.encode("utf-8")
            n = len(b) - kk + 1
            hs = np.fromiter(
                (
                    int.from_bytes(md5(b[i : i + kk]).digest()[:6], "big")
                    for i in range(n)
                ),
                dtype=np.int64,
                count=n,
            )
            m = hs[: n - ww + 1].copy()
            for j in range(1, ww):
                np.minimum(m, hs[j : j + n - ww + 1], out=m)
            res.append(np.unique(m))
        return pd.Series(res)

    return out.select(
        F.col(id_col), F.explode(_fps("__n")).alias("fp")
    )


def winnowing_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_fp_docs: int = 64,
) -> DataFrame:
    """Partial-overlap candidate pairs by shared winnowing fingerprints:
    (id_a, id_b, n_shared) with id_a < id_b and n_shared >= min_shared.

    The pair join is the inverted-index shape every dedup miner here
    uses: fingerprints whose posting list exceeds ``max_fp_docs`` are
    dropped BEFORE the self-join (boilerplate n-grams — a fingerprint
    shared by thousands of docs pairs quadratically and identifies
    nothing), so the join is bounded per key; the drop is an explicit
    audit choice, the same stop-shingle discipline as
    ``dedup.ngram_jaccard_pairs``."""
    from .dedup import _pin

    # the fingerprint frame is PINNED (round-6, guide §2.4): it feeds
    # three plan branches (the hot-fp count plus both self-join sides),
    # and each un-shared branch re-ran the md5-per-char-position
    # fingerprinting — the single heaviest expression in the bench.
    # Release with dedup.release on the returned frame.
    fps = winnowing_fingerprints(df, id_col, text_col, k=k, window=window)
    # hot fingerprints are identified from COUNTS ONLY and anti-joined
    # out BEFORE any posting materializes — a collect_list-then-filter
    # formulation builds the 100k-element array for exactly the
    # boilerplate fingerprint the cap exists to drop (review finding)
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_fp_docs)
        .select("fp")
    )
    kept = fps.join(hot, "fp", "left_anti")
    a = kept.select(F.col(id_col).alias("id_a"), "fp")
    b = kept.select(F.col(id_col).alias("id_b"), "fp")
    pairs = a.join(b, "fp").filter(F.col("id_a") < F.col("id_b"))
    out = (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return _pin(fps, out)


def winnowing_screen(
    batch: DataFrame,
    corpus_fps: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_fp_docs: int = 64,
) -> DataFrame:
    """Batch-vs-corpus partial-overlap screen: which incoming documents
    share winnowing fingerprints with ALREADY-INGESTED content — the
    quote/template-reuse admission gate the whole-doc and MinHash
    screens can't express (they compare documents globally; this
    detects any shared normalized substring ≥ k + window - 1 chars).

    ``corpus_fps`` is a stored (id, fp) frame from
    :func:`winnowing_fingerprints` — parquet-persistable and
    incrementally appendable like the Bloom/CMS stores; the corpus text
    is never touched at probe time. Plan: O(batch) fingerprinting, ONE
    fp equi-join against the store (corpus postings above
    ``max_fp_docs`` dropped first — boilerplate fingerprints pair
    quadratically and identify nothing), one pair aggregation. Returns
    (batch id, corpus id, n_shared) with n_shared >= min_shared; the
    admission decision is a semi/anti join on the batch id.
    """
    from .dedup import _pin

    probe = winnowing_fingerprints(batch, id_col, text_col, k=k, window=window)
    hot = (
        corpus_fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_fp_docs)
        .select("fp")
    )
    store = corpus_fps.join(hot, "fp", "left_anti")
    pairs = probe.select(
        F.col(id_col).alias("batch_id"), "fp"
    ).join(
        store.select(F.col(id_col).alias("corpus_id"), "fp"), "fp"
    )
    # the corpus store feeds two branches (hot-fp count + the probe join);
    # pinning keeps a LIVE corpus fingerprint pipeline to one pass —
    # a stored parquet frame just gets a cheap cache (round-6; release
    # with dedup.release on the result)
    out = (
        pairs.groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(int(min_shared)))
    )
    return _pin(corpus_fps, out)
