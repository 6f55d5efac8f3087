"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

Capability extensions over the reference (which has no scalar text functions
beyond contains/starts_with/ends_with — SURVEY.md §2.9).  All operators are
narrow per-row projections built from ``pyspark.sql.functions`` only —
whole-stage codegen, shuffle-free until the caller aggregates — and every
formula is integer or per-row double arithmetic, so a SQL oracle reproduces
results exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tundradb_spark.pipeline.hashing import FP_BASE, FP_MOD
from tundradb_spark.session import materialize

#: tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "a", "of", "and", "is", "to", "in", "that"],
    "es": ["el", "la", "de", "y", "es", "que", "un", "con"],
    "fr": ["le", "la", "de", "et", "est", "que", "un", "dans"],
    "zh": ["de", "shi", "le", "bu", "wo", "zai", "you", "he"],
}

#: punctuation class counted by the quality score (portable regex)
PUNCT_RE = r"[.,!?;:]"


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach ``tokens`` and ``n_tokens`` columns."""
    t = tokens(F.col(text_col))
    return docs.withColumn("tokens", t).withColumn("n_tokens", F.size("tokens"))


def token_stats(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-group token statistics: doc count, total/min/max tokens and the
    exact average (integer sum / integer count — order-independent)."""
    t = tokens(F.col(text_col))
    return (
        docs.select(F.col(group_col), F.size(t).alias("n_tokens"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .withColumn(
            "avg_tokens",
            F.round(
                F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"),
                6,
            ),
        )
    )


#: portable regexes (same semantics under Java regex and RE2): the standard
#: pre-training PII sweep — emails, URLs, long digit runs (phone/account ids)
DEFAULT_PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "digit_run": r"[0-9]{4,}",
}


def pattern_counts(
    docs: DataFrame,
    patterns: dict[str, str],
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-row occurrence counts for each named regex — the building block
    for PII sweeps, boilerplate detection, and markup stripping decisions.

    One ``regexp_count`` per pattern, all in a single codegen'd projection:
    narrow, shuffle-free, linear at any scale.  ``keep_cols`` carries extra
    columns through the same projection (e.g. a grouping key), so a
    downstream aggregate never has to join back to the source — one scan,
    not two.  Keep patterns in the portable subset (no
    backrefs/lookaround) so the same scan runs under Java regex, RE2, and
    the SQL oracle identically.
    """
    return docs.select(
        F.col(id_col).cast("long").alias(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        *[
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(name)
            for name, pat in patterns.items()
        ],
    )


def pii_scan(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """PII sweep: per-document counts for each pattern in
    :data:`DEFAULT_PII_PATTERNS` (or ``patterns``) plus an ``any_pii``
    flag — the filter stage a training corpus runs before anything else."""
    pats = patterns or DEFAULT_PII_PATTERNS
    counted = pattern_counts(docs, pats, text_col, id_col)
    total = None
    for name in pats:
        c = F.col(name)
        total = c if total is None else total + c
    return counted.withColumn("any_pii", (total > 0).cast("boolean"))


def lm_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram corpus-LM quality score — the perplexity-shaped signal
    training pipelines use to rank fluency: each document's mean
    ``ln p(token)`` under the corpus's own unigram distribution (higher =
    more typical; gibberish and vocabulary-odd docs sink).

    Plan shape (both stages the classic inverted-index shuffles):
    1. token frequencies: explode → one map-side-combined groupBy(token);
    2. score join: exploded tokens ⋈ frequencies on token (full shuffle
       parallelism on the token key), then groupBy(doc).

    Engine-portability: per-token ``ln`` values are cast to
    ``decimal(20,10)`` BEFORE the per-doc sum, making the aggregation
    exact and order-independent — and the 10-decimal truncation absorbs
    the ≤1-ulp divergence between JVM ``Math.log`` and libm ``log``, so a
    SQL oracle reproduces every score bit-for-bit after the final
    round(…,6).
    """
    toks = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    freqs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    total = freqs.agg(F.sum("freq").alias("total"))
    scored = (
        toks.join(freqs, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.expr(
                "cast(ln(cast(freq as double) / cast(total as double)) "
                "as decimal(20,10))"
            ).alias("__lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            (F.sum("__lp") / F.count(F.lit(1))).cast("double"), 6
        ).alias("lm_logprob"),
    )


def lm_scores_bigram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """Bigram corpus-LM fluency score with Jelinek-Mercer interpolation —
    the CCNet-style perplexity signal one order up from :func:`lm_scores`:
    each document's mean ``ln p(w_i | w_{i-1})`` where
    ``p = λ·c(w_{i-1} w_i)/c(w_{i-1}) + (1−λ)·c(w_i)/total``.  Scrambled
    word salad that passes the unigram filter (common words, wrong order)
    sinks here, because its bigrams are corpus-rare.

    Plan shape — three inverted-index joins, all on token keys (full
    shuffle parallelism, map-side-combined counts): bigrams ⋈ bigram
    freqs ⋈ context unigram freqs ⋈ target unigram freqs; the corpus
    total is a 1-row broadcast.

    Determinism: counts are exact integers; the interpolated probability
    is a FIXED sequence of IEEE-754 ops, and per-position ``ln`` values
    are decimal(20,10)-cast before the per-doc sum (order-free; the
    truncation absorbs Math.log-vs-libm last-ulp divergence) — so a SQL
    oracle reproduces every score after round(…,6).  Docs with <2 tokens
    have no bigrams and drop out (same contract as the oracle).
    """
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        tokens(F.col(text_col)).alias("__t"),
    )
    bi = base.select(
        id_col,
        F.explode(
            F.expr(
                "zip_with(slice(__t, 1, size(__t) - 1), "
                "slice(__t, 2, size(__t) - 1), "
                "(a, b) -> struct(a as w1, b as w2))"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    uni = (
        base.select(F.explode("__t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    total = uni.agg(F.sum("c1").alias("total"))
    scored = (
        bi.join(c2, ["w1", "w2"])
        .join(uni.select(F.col("tok").alias("w1"), F.col("c1").alias("cctx")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c1").alias("ctgt")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.expr(
                # the D suffix pins both weights as DOUBLE literals (not
                # DECIMAL) so the arithmetic is the identical IEEE sequence
                # the oracle runs
                f"cast(ln({lam!r}D * (cast(c2 as double) / cast(cctx as double)) "
                f"+ {1.0 - lam!r}D * (cast(ctgt as double) / cast(total as double))) "
                "as decimal(20,10))"
            ).alias("__lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round((F.sum("__lp") / F.count(F.lit(1))).cast("double"), 6).alias(
            "lm2_logprob"
        ),
    )


def repetition_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition — a standard training-data quality
    signal: ``token_rep`` = fraction of tokens that are repeats of an
    earlier token (1 − distinct/total), ``bigram_rep`` the same over
    adjacent token pairs (repeated phrases score high even when individual
    words differ).

    Built-in functions only (split/sequence/element_at/array_distinct —
    codegen'd, no UDF); the token array is materialized in its own
    projection so the bigram expression's three references don't re-inline
    the split (the anti-inlining discipline measured at 10-60× on the
    signature pipelines).  A narrow per-row projection: no shuffle, scales
    linearly.
    """
    t = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).cast("long").alias(id_col), t.alias("__t"))
    return base.select(
        id_col,
        F.size("__t").alias("n_tokens"),
        F.round(
            F.when(
                F.size("__t") > 0,
                F.lit(1.0)
                - F.size(F.array_distinct("__t")).cast("double")
                / F.size("__t").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("token_rep"),
        bigram_repetition_col("__t").alias("bigram_rep"),
    )


def bigram_repetition_col(tok_array_col: str) -> "F.Column":
    """Rounded adjacent-bigram repetition over an already-materialized
    token-array column — shared by :func:`repetition_scores` and inline
    gate predicates (recipe.prepare_corpus), so both emit/compare the
    identical rounded double.

    Expression hygiene: the bigram list is ``zip_with`` over two slices of
    the array — a CONSTANT number of references to the input column.  The
    per-index ``transform(sequence…, element_at(col, i))`` formulation
    references the column once per element, so when Catalyst's predicate
    pushdown substitutes the column's defining expression into a filter it
    re-inlines the tokenization O(n) times per row — measured 13s vs ~2s
    at sf0.1 on the recipe's gate."""
    t = tok_array_col
    bigrams = (
        f"zip_with(slice({t}, 1, size({t}) - 1), "
        f"slice({t}, 2, size({t}) - 1), (a, b) -> concat(a, ' ', b))"
    )
    return F.round(
        F.when(
            F.size(t) > 1,
            F.lit(1.0)
            - F.expr(f"size(array_distinct({bigrams}))").cast("double")
            / (F.size(t) - 1).cast("double"),
        ).otherwise(0.0),
        6,
    )


def quality_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality heuristics.

    - ``punct_ratio``: punctuation chars / chars
    - ``stop_ratio``: English-stopword tokens / tokens
    - ``quality``: 0.5·min(n_tokens/100, 1) + 0.25·(1 − punct_ratio)
      + 0.25·min(4·stop_ratio, 1) — a length/cleanliness/naturalness blend.

    All per-row double arithmetic from exact integers → bit-identical in any
    engine; rounded to 6 for presentation.
    """
    # tokenization materialized ONCE as its own projection — referenced from
    # four sibling expressions, inlining would re-run the regex split per
    # reference (the repo's dominant perf bug class)
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(text_col),
        tokens(F.col(text_col)).alias("__toks"),
    )
    toks = F.col("__toks")
    n_chars = F.length(F.col(text_col)).cast("double")
    n_toks = F.greatest(F.size(toks), F.lit(1)).cast("double")
    n_punct = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), PUNCT_RE, ""))
    ).cast("double")
    stops = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stops, t))
    ).cast("double")
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = n_stop / n_toks
    quality = (
        F.lit(0.5) * F.least(F.size(toks).cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.25) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.25) * F.least(F.lit(4.0) * stop_ratio, F.lit(1.0))
    )
    return base.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(quality, 6).alias("quality"),
    )


#: Gopher's required-word list (Rae et al. 2021, §A1.1.2): a document must
#: contain at least ``min_stop_hits`` DISTINCT words from it
GOPHER_STOPS: list[str] = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 90,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher/C4-style rule-based quality filter (Rae et al. 2021 §A1.1;
    Raffel et al. 2020 §2.2) — the standard heuristic gate a pre-training
    corpus runs before any model-based scoring.  Emits the measured signals,
    one boolean per rule, and ``keep`` = AND of all rules:

    - ``r_words``: word count in [min_words, max_words]
    - ``r_word_len``: mean word length in [min_mean_word_len, max_…]
    - ``r_symbols``: (# of '#' or '…'/'...') / words ≤ max_symbol_ratio
    - ``r_alpha``: fraction of words containing a letter ≥ min_alpha_word_ratio
    - ``r_bullets``: fraction of lines starting with a bullet ≤ max_bullet_ratio
      AND fraction of lines ending with an ellipsis ≤ max_ellipsis_ratio
    - ``r_stops``: ≥ min_stop_hits DISTINCT words from :data:`GOPHER_STOPS`

    One staged narrow projection over built-in functions (the token array is
    materialized once — the repo's anti-inlining discipline), zero shuffle,
    all arithmetic integer-or-rounded-double so a SQL oracle reproduces every
    flag exactly.  Linear at any corpus size."""
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(text_col),
        tokens(F.col(text_col)).alias("__toks"),
        F.split(F.col(text_col), r"\n").alias("__lines"),
    )
    toks = F.col("__toks")
    n_words = F.size(toks)
    nw_d = F.greatest(n_words, F.lit(1)).cast("double")
    total_word_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, c: acc + c,
    )
    mean_word_len = F.round(total_word_chars.cast("double") / nw_d, 6)
    n_symbols = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\.|…"))
    symbol_ratio = F.round(n_symbols.cast("double") / nw_d, 6)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_ratio = F.round(n_alpha.cast("double") / nw_d, 6)
    lines = F.col("__lines")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    n_bullet = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))
    )
    n_ellipsis = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)$")))
    bullet_ratio = F.round(n_bullet.cast("double") / n_lines, 6)
    ellipsis_ratio = F.round(n_ellipsis.cast("double") / n_lines, 6)
    stops = F.array(*[F.lit(w) for w in GOPHER_STOPS])
    n_stops = F.size(F.filter(stops, lambda s: F.array_contains(toks, s)))

    measured = base.select(
        id_col,
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        n_stops.alias("n_stop_hits"),
    )
    r_words = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    r_word_len = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    r_symbols = F.col("symbol_ratio") <= max_symbol_ratio
    r_alpha = F.col("alpha_word_ratio") >= min_alpha_word_ratio
    r_bullets = (F.col("bullet_ratio") <= max_bullet_ratio) & (
        F.col("ellipsis_ratio") <= max_ellipsis_ratio
    )
    r_stops = F.col("n_stop_hits") >= min_stop_hits
    return measured.select(
        "*",
        r_words.alias("r_words"),
        r_word_len.alias("r_word_len"),
        r_symbols.alias("r_symbols"),
        r_alpha.alias("r_alpha"),
        r_bullets.alias("r_bullets"),
        r_stops.alias("r_stops"),
        (r_words & r_word_len & r_symbols & r_alpha & r_bullets & r_stops).alias(
            "keep"
        ),
    )


def _pred_lang_frame(
    docs: DataFrame, text_col: str, id_col: str, extra: list[str]
) -> DataFrame:
    """``(id, *extra, pred_lang)`` — staged projections so the tokenization
    runs once and each per-language score once.

    Without the staging, ``greatest(scores)`` plus the per-language
    ``when(score == mx)`` chain re-inline every score (each re-inlining the
    regex split) ~35× per row."""
    keep = [F.col(c) for c in extra]
    staged = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        *keep,
        tokens(F.col(text_col)).alias("__toks"),
    )

    def _score(words: list[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("__toks"), lambda t: F.array_contains(arr, t)))

    scored = staged.select(
        id_col,
        *extra,
        *[_score(w).alias(f"__s_{lang}") for lang, w in LANG_PROFILES.items()],
    ).withColumn("__mx", F.greatest(*[f"__s_{lang}" for lang in LANG_PROFILES]))
    pred = F.when(F.col("__mx") == 0, F.lit("und"))
    for lang in sorted(LANG_PROFILES):
        pred = pred.when(F.col(f"__s_{lang}") == F.col("__mx"), F.lit(lang))
    return scored.select(id_col, *extra, pred.alias("pred_lang"))


def lang_id(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic language ID: score = stopword hits per language profile,
    prediction = argmax with 'und' when no profile matches and alphabetical
    tie-break (deterministic)."""
    return _pred_lang_frame(docs, text_col, id_col, extra=[])


def lang_confusion(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> DataFrame:
    """Confusion matrix of metadata language vs predicted language."""
    # label and prediction computed in ONE pass — joining a separate
    # lang_id() frame back on id would shuffle data already on the row
    return (
        _pred_lang_frame(docs, text_col, id_col, extra=[label_col])
        .groupBy(label_col, "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def fingerprint_expr(text_col: str = "text") -> Column:
    """Polynomial rolling-hash fingerprint expression:
    ``fp = fold(codepoints, (acc, c) -> (acc*31 + c) % 1e9+7)`` — the
    classic Rabin–Karp document fingerprint, exactly reproducible in SQL via
    a left fold.

    split('') yields the char array in ONE pass; folding over
    ``substring(text, i, 1)`` instead would rescan the variable-width UTF8
    string per position — O(len²) per document.
    """
    return F.when(F.length(F.col(text_col)) == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            F.transform(F.split(F.col(text_col), ""), lambda ch: F.ascii(ch)),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * FP_BASE + c) % FP_MOD,
        )
    )


def fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Rabin–Karp fingerprint (see :func:`fingerprint_expr`)."""
    return docs.select(
        F.col(id_col).cast("long").alias(id_col),
        fingerprint_expr(text_col).alias("fingerprint"),
    )


def fingerprint_summary(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group fingerprint stats: doc count, distinct fingerprints (equal
    counts ⇒ no intra-group exact dup), and min fingerprint as a stable
    group checksum."""
    # fingerprint and group key in ONE projection — joining a separate
    # fingerprints() frame back on id would shuffle both sides for data that
    # already sits on the same row
    return (
        docs.select(
            F.col(group_col), fingerprint_expr(text_col).alias("fingerprint")
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("fingerprint").alias("n_distinct_fp"),
            F.min("fingerprint").alias("min_fp"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    the MOSS algorithm): hash every character ``k``-gram of the normalized
    text, slide a ``window`` over consecutive hashes, and select each
    window's MINIMUM — a provably dense-yet-sparse fingerprint set that two
    documents share whenever they share a run of ≥ ``window + k - 1``
    characters.  The robust-overlap primitive behind plagiarism/clone
    detection, complementary to MinHash (which sketches GLOBAL similarity;
    winnowing localizes shared substrings).

    Simplification vs the paper: the fingerprint SET is the distinct
    per-window minima VALUES (the rightmost-tie positional rule only
    affects which position is recorded, not the selected value set), which
    keeps the operator a pure array expression any engine reproduces.

    Output: ``(doc_id, n_grams, n_fingerprints, fp_digest)`` where
    ``fp_digest`` is md5 of the comma-joined ASCENDING fingerprint values —
    an order-independent canonical form for value checking.  Documents
    shorter than ``k`` normalized chars emit no row.  One narrow
    codegen'd projection: no shuffle, linear at any corpus size.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from tundradb_spark.pipeline.dedup import normalized_text

    base = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        normalized_text(F.col(text_col)).alias("__norm"),
    ).filter(F.length("__norm") >= k)
    # positional k-gram hashes: polynomial fold over the codepoint array
    # (the fingerprint_expr discipline) — ~k modular ops per position where
    # an md5-per-substring formulation costs 64+ rounds plus a string
    # allocation (measured 3.0s → 0.6s at sf0.1); per-window minima over
    # the materialized hash array (anti-inlining discipline throughout)
    # Unrolled gram hash: (Σ cp[i+j]·B^(k−1−j)) % M equals the stepwise
    # fold ((a·B + c) % M) mathematically (mod distributes over the
    # polynomial), but runs as k multiply-adds + ONE mod with NO per-
    # position array allocation — the slice(…)+aggregate(…) formulation
    # allocates a k-array and runs a lambda loop per character (measured
    # 2.0s → 1.3s at sf0.1 on the winnow branch).  Single-mod is safe
    # while max_codepoint · Σ B^j stays under 2^63; beyond that (huge k)
    # fall back to the folding form.
    unroll_bound = 0x10FFFF * sum(FP_BASE**j for j in range(k))
    if unroll_bound < (1 << 62):
        gram_hash = (
            "("
            + " + ".join(
                f"element_at(__cp, i + {j}) * {FP_BASE ** (k - 1 - j)}"
                for j in range(k)
            )
            + f") % {FP_MOD}"
        )
    else:  # pragma: no cover - unreachable at sane k
        gram_hash = (
            f"aggregate(slice(__cp, i, {k}), cast(0 as bigint), "
            f"(a, c) -> (a * {FP_BASE} + c) % {FP_MOD})"
        )
    # Unrolled window minimum: least() over w in-bounds element_at refs —
    # no slice allocation; the only short-array case (size < w) keeps the
    # array_min form on the whole array.
    win_min = "least(" + ", ".join(
        f"element_at(__h, j + {i})" for i in range(window)
    ) + ")"
    grams = base.select(
        id_col,
        F.expr(
            "transform(split(__norm, ''), ch -> cast(ascii(ch) as bigint))"
        ).alias("__cp"),
    ).select(
        id_col,
        F.expr(
            f"transform(sequence(1, size(__cp) - {k - 1}), i -> {gram_hash})"
        ).alias("__h"),
    )
    return grams.select(
        id_col,
        F.size("__h").alias("n_grams"),
        F.expr(
            f"array_sort(array_distinct(CASE WHEN size(__h) < {window} "
            f"THEN array(array_min(__h)) "
            f"ELSE transform(sequence(1, size(__h) - {window - 1}), "
            f"j -> {win_min}) END))"
        ).alias("__fp"),
    ).select(
        id_col,
        "n_grams",
        F.size("__fp").alias("n_fingerprints"),
        F.md5(F.array_join(F.col("__fp"), ",")).alias("fp_digest"),
    )


def redact_patterns(
    docs: DataFrame,
    patterns: dict[str, str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """PII REDACTION — the cleaning step after :func:`pii_scan`'s audit:
    every match of each named pattern is replaced with its ``[NAME]`` tag
    (e.g. ``[EMAIL]``), in one chained ``regexp_replace`` projection.

    Patterns apply in dict order; earlier replacements are visible to
    later patterns (tags contain no digits/@/://, so the default patterns
    never re-match a tag).  Output: ``(id, *keep_cols, text_redacted,
    n_redactions)`` — ``n_redactions`` counts each pattern on the text
    AS ALREADY REDACTED by the earlier patterns, so it equals the number
    of replacements actually made (counting every pattern on the
    original text would double-count overlaps, e.g. an id-tag's digits
    re-counted by a digit-run pattern).  Narrow, shuffle-free, linear —
    and self-asserting: re-scanning ``text_redacted`` with the same
    patterns must count zero.
    """
    pats = DEFAULT_PII_PATTERNS if patterns is None else patterns
    if not pats:
        raise ValueError(
            "redact_patterns needs at least one pattern (pass None for the "
            "default PII set; an empty dict is almost certainly a mistake)"
        )
    red = F.col(text_col)
    n_red = None
    for name, pat in pats.items():
        c = F.regexp_count(red, F.lit(pat))
        n_red = c if n_red is None else n_red + c
        red = F.regexp_replace(red, pat, f"[{name.upper()}]")
    return docs.select(
        F.col(id_col).cast("long").alias(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        red.alias("text_redacted"),
        n_red.cast("long").alias("n_redactions"),
    )


def tfidf_topk_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` terms by smoothed TF-IDF
    (``tf × (ln((1+N)/(1+df)) + 1)``) — the classic keyword-extraction /
    topic-tagging signal a corpus catalog builds.

    Plan: explode → one map-side-combined ``groupBy(doc, term)`` (tf) →
    ``groupBy(term)`` over those rows (df; already distinct per doc) →
    broadcast scalar N → per-doc window for the top-k.  Two shuffles plus
    the final doc-key window, each linear.

    Engine-portability: the idf ``ln`` is cast to ``decimal(20,10)``
    BEFORE the tf multiply, so scores are exact decimals — ranking ties
    cannot flip between engines (the ``lm_scores`` discipline); ties
    break on term asc.  Output: ``(doc_id, term, tf, tfidf)`` rounded to
    6 for presentation."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    tf = (
        docs.select(
            F.col(id_col).cast("long").alias(id_col),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.agg(F.count_distinct(F.col(id_col)).alias("n"))
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            # tf cast to decimal(8,0): a LONG multiplicand makes the
            # product's precision exceed 38, and Spark's precision-loss
            # rule silently truncates the scale to 7 — DuckDB keeps 10, so
            # knife-edge values diverge at the output rounding.  (8,0) ×
            # (20,10) stays within precision 38 at scale 10, exact.
            (
                F.col("tf").cast("decimal(8,0)")
                * F.expr(
                    "cast(ln(cast(1 + n as double) / cast(1 + df as double))"
                    " + 1.0 as decimal(20,10))"
                )
            ).alias("__s"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__s"), F.asc("term"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select(
            id_col,
            "term",
            "tf",
            # half-up rounding done EXACTLY in decimal arithmetic
            # (floor(s·10⁶ + ½)/10⁶): tf × a 10-dp decimal produces exact
            # .xxxxxx5 halfway cases where engine round() conventions
            # diverge (Spark half-up vs DuckDB half-even on doubles)
            F.expr(
                "cast(floor(__s * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("tfidf"),
        )
    )


def compression_ratios(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic redundancy signal
    web-corpus pipelines (CCNet, RefinedWeb) gate on: templated or
    mass-repeated text compresses far below natural prose, gibberish far
    above.  ``ratio = compressed_bytes / raw_bytes`` (1.0 for empty docs).

    DEFLATE has no SQL-expressible equivalent, so this is one of the
    repo's few Python-side operators — and it follows the multimodal
    discipline: ``mapInPandas`` (Arrow-batched columns, zero per-row
    Python overhead beyond the zlib call itself), a narrow two-column
    input projection, no shuffle.  Verified by unit tests against known
    redundancy extremes rather than a SQL oracle (rows-only class).
    """
    if not 1 <= level <= 9:
        raise ValueError(f"level must be in [1, 9], got {level}")

    def _gen(batches):
        import pandas as pd
        import zlib

        for pdf in batches:
            texts = pdf["__t"].fillna("")
            raw = [t.encode("utf-8") for t in texts]
            comp = [len(zlib.compress(b, level)) for b in raw]
            n_raw = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_raw,
                    "n_compressed": comp,
                    "ratio": [
                        round(c / r, 6) if r else 1.0
                        for c, r in zip(comp, n_raw)
                    ],
                }
            )

    narrow = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(text_col).alias("__t"),
    )
    return narrow.mapInPandas(
        _gen, f"{id_col} long, n_bytes long, n_compressed long, ratio double"
    )


def build_vocab(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 1,
    max_vocab: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary with deterministic integer ids — the
    tokenizer-export step of a training pipeline: tokens ranked by
    (count desc, token asc) get dense ids 0..V−1, so the id mapping is a
    pure function of the corpus (any engine, any partitioning, any rerun
    produces the identical vocab).

    ``min_df`` drops tokens appearing in fewer than that many DOCUMENTS
    (document frequency, not term frequency — the standard rare-token
    cut; counted over ``id_col``, matching encode_tokens' signature); ``max_vocab`` keeps the top-V after ranking.  One explode +
    map-side-combined groupBy(token) is the only data-sized shuffle; the
    ranking window runs over vocab-sized rows.

    Output: ``(token, tok_id, count, df)``.
    """
    from pyspark.sql import Window

    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("count"),
        F.count_distinct(id_col).alias("df"),
    )
    kept = counts.filter(F.col("df") >= min_df)
    # r13: with a vocabulary cap, take the top-max_vocab types via a
    # DISTRIBUTED orderBy().limit() (TakeOrdered) BEFORE the id-ranking
    # window, so the single-partition sort sees max_vocab rows instead
    # of the whole type universe (hundreds of millions of unique tokens
    # at 100 TB).  The order is total, so limit-then-rank assigns the
    # identical ids the old rank-then-filter did.  Uncapped calls ask
    # for a full-universe ranking by definition and keep the global
    # window.
    if max_vocab is not None:
        kept = kept.orderBy(F.desc("count"), F.asc("token")).limit(max_vocab)
    w = Window.orderBy(F.desc("count"), F.asc("token"))
    ranked = kept.withColumn("tok_id", (F.row_number().over(w) - 1).cast("long"))
    return ranked.select("token", "tok_id", "count", "df")


def encode_tokens(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = -1,
) -> DataFrame:
    """Encode each document's token stream as an array of vocab ids
    (out-of-vocab → ``unk_id``) — the materialization step between
    :func:`build_vocab` and sequence packing.

    Plan shape: posexplode → one broadcast (or hash, Catalyst's choice)
    join against the vocab → per-doc reassembly via ONE unordered
    ``collect_list(struct(pos, tid))`` + ``array_sort`` + ``transform``
    — order restored exactly (pos is unique per doc, so the struct sort
    is total) with one n-element array per document.  A running-window
    ``collect_list`` would materialize a prefix array per token —
    O(n²) cells for an n-token document — and is exactly the shape this
    formulation exists to avoid.

    Output: ``(id_col, n_tokens, ids)``.
    """
    pos = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    joined = pos.join(
        F.broadcast(vocab.select("token", "tok_id")), "token", "left"
    ).select(
        id_col,
        "pos",
        F.coalesce(F.col("tok_id"), F.lit(unk_id)).cast("long").alias("tid"),
    )
    per_doc = joined.groupBy(id_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, tid))), x -> x.tid)"
        ).alias("ids"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return per_doc.select(
        id_col, F.col("n_tokens").cast("long").alias("n_tokens"), "ids"
    )


def _bpe_word_types(
    docs: DataFrame, text_col: str, max_word_types: int | None
) -> DataFrame:
    """The capped word-frequency table both BPE halves train/apply on —
    the ONLY corpus-sized work in either (one map-side-combined token
    count)."""
    w = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if max_word_types is not None:
        w = w.orderBy(F.desc("freq"), F.asc("w")).limit(max_word_types)
    return w


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    max_word_types: int | None = None,
    _words: DataFrame | None = None,
) -> DataFrame:
    """Learn the top ``n_merges`` byte-pair-encoding merge rules from the
    corpus — the tokenizer-induction step between :func:`build_vocab`'s
    whitespace vocabulary and a subword tokenizer.

    Classic BPE (Sennrich et al. 2016) trains on the WORD-FREQUENCY
    table, not the corpus: the only corpus-sized work here is one
    map-side-combined ``groupBy(token)`` count; every merge iteration
    runs over ≤ ``max_word_types`` rows (vocab-sized, broadcastable),
    which is exactly why this scales to 100 TB — iteration cost is
    independent of corpus size.  The chosen pair per round is a 1-row
    driver collect (bounded metadata, the codebook-means convention).

    Deterministic, engine-reproducible semantics (pinned by the SQL
    oracle):

    * word types ranked (freq desc, token asc), optionally capped at
      ``max_word_types``;
    * each word type becomes a space-joined character string with
      sentinel spaces (``'abc'`` → ``' a b c '``);
    * pair counts = OVERLAPPING adjacent symbol positions, weighted by
      word frequency (``'aaa'`` contributes 2× freq to ``(a,a)``);
    * best pair = (count desc, left asc, right asc);
    * merge = plain left-to-right non-overlapping ``replace`` of
      ``' l r '`` with ``' lr '`` (both engines share this exact
      scan-resumes-after-replacement semantics, verified).

    .. warning:: NOT segmentation-compatible with canonical Sennrich /
       HuggingFace / sentencepiece BPE on REPEATED-SYMBOL RUNS.  The
       single-pass replace consumes the shared sentinel space, so
       ``'a a a a'`` merges to ``'aa a a'`` where canonical BPE gives
       ``'aa aa'``; relatedly, the overlapping pair counts used for rule
       SELECTION can overstate how many merges the replace then applies.
       The semantics are internally consistent (training and
       :func:`bpe_segment` share them, and the SQL oracle pins them
       bit-for-bit) — use the rules with THIS engine's segmenter, not as
       a drop-in vocabulary for an external BPE tokenizer.

    Output: ``(rank, left, right, merged, pair_count)`` — rank 1..n,
    ``pair_count`` the weighted count at selection time.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    w = (
        _words
        if _words is not None
        else _bpe_word_types(docs, text_col, max_word_types)
    )
    state = materialize(w.select(  # word types only — small by construction
        F.concat(
            F.lit(" "), F.array_join(F.split("w", ""), " "), F.lit(" ")
        ).alias("syms"),
        "freq",
    ))
    rules: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        # guard size<2: sequence(0, -1) DESCENDS in Spark instead of
        # being empty, so single-symbol words need an explicit empty array
        pairs = state.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(split(trim(syms), ' ')) < 2"
                    " THEN array()"
                    " ELSE transform("
                    "   sequence(0, size(split(trim(syms), ' ')) - 2),"
                    "   j -> struct(split(trim(syms), ' ')[j] AS l,"
                    "               split(trim(syms), ' ')[j + 1] AS r))"
                    " END"
                )
            ).alias("p"),
            "freq",
        ).select("p.l", "p.r", "freq")
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        rules.append((rank, l, r, l + r, cnt))
        state = materialize(state.select(
            F.replace(
                "syms", F.lit(f" {l} {r} "), F.lit(f" {l}{r} ")
            ).alias("syms"),
            "freq",
        ))
    return spark.createDataFrame(
        rules, "rank long, left string, right string, merged string, pair_count long"
    )


def bpe_segment(
    docs: DataFrame,
    rules: list[tuple[str, str]] | None = None,
    n_merges: int = 8,
    text_col: str = "text",
    max_word_types: int | None = None,
) -> DataFrame:
    """Segment every word type with BPE merge rules — the apply half of
    :func:`bpe_train` (train once, segment any corpus).  ``rules`` is an
    ordered list of (left, right) pairs; when None, rules are trained on
    THIS corpus first (rank order preserved — merges must apply in
    training order, later merges build on earlier ones).

    Same scale shape as training: segmentation runs over the word-TYPE
    table (one corpus-sized token count, then vocab-sized work); the
    merge applications are a chain of ``n_merges`` literal ``replace``
    expressions — whole-stage codegen, zero extra shuffles.

    Output: ``(word, freq, seg, n_subwords)`` — ``seg`` the space-joined
    subword segmentation, engine-reproducible via the same replace
    semantics as training.  Shares :func:`bpe_train`'s documented
    divergence from canonical BPE on repeated-symbol runs — segmentations
    are NOT HuggingFace/sentencepiece-compatible there.
    """
    if rules is None:
        # ONE corpus pass for train + apply: checkpoint the word table,
        # train from it, then segment the same materialized frame
        # (rules=None through two separate corpus scans was the r7
        # review's double-work finding)
        w = materialize(_bpe_word_types(docs, text_col, max_word_types))
        rules = [
            (r["left"], r["right"])
            for r in bpe_train(docs, n_merges=n_merges, _words=w)
            .orderBy("rank")
            .collect()
        ]  # bounded: n_merges rows
    else:
        w = _bpe_word_types(docs, text_col, max_word_types)
    seg = F.concat(
        F.lit(" "), F.array_join(F.split("w", ""), " "), F.lit(" ")
    )
    for l, r in rules:
        seg = F.replace(seg, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
    return w.select(
        F.col("w").alias("word"),
        "freq",
        F.trim(seg).alias("seg"),
        F.size(F.split(F.trim(seg), " ")).cast("long").alias("n_subwords"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """Ranked retrieval: top-``k`` documents per query under Okapi BM25
    (Robertson et al.; the Lucene-default variant with the +1-smoothed
    idf) — the keyword-search half of a corpus catalog, complementing the
    embedding ANN operators.

    Semantics: query term frequency is ignored (each DISTINCT query term
    contributes once — Lucene's practical BM25); ``N``/``avgdl`` are
    computed over documents with at least one token::

        idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
        score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Plan / 100 TB shape (r14): the exploded postings are pruned by a
    BROADCAST semi-join on the distinct query terms BEFORE the
    ``(doc, term, tf)`` groupBy, so the one corpus-sized exchange
    carries only the posting lists of the query's own terms, never the
    vocabulary (pre-r14 the prune sat after the groupBy and the shuffle
    carried every posting — measured 1.50 -> 1.36 s at sf0.1, and the
    shuffled-byte bound drops from |corpus postings| to |query-term
    postings| at any scale).  ``dl`` rides as a grouping column
    (functionally dependent on the doc key, so it is free); ``df``
    comes from a window over the pruned postings (no vocabulary
    aggregate); corpus stats ``(N, total_dl)`` are a 1-row
    map-side-combined aggregate broadcast into the plan.  Final top-k
    is a per-query window over the scored candidates.

    Engine determinism: each per-term score is computed in double with an
    expression shape shared with the SQL oracle, then cast to
    ``decimal(20,10)`` BEFORE the per-document sum, so the aggregate is
    exact and partition-order independent (the ``lm_scores`` /
    ``tfidf_topk_terms`` discipline); ties break on ``doc_id`` asc.

    Output: ``(query_id, doc_id, n_terms_hit, score)`` — score rounded
    half-up to 6 via exact decimal arithmetic.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    scored = bm25_scored(
        docs, queries, k1=k1, b=b, text_col=text_col, id_col=id_col,
        query_id_col=query_id_col, query_col=query_col,
    )
    w_top = Window.partitionBy(query_id_col).orderBy(
        F.desc("__score"), F.asc(id_col)
    )
    return (
        scored.withColumn("__r", F.row_number().over(w_top))
        .filter(F.col("__r") <= k)
        .select(
            query_id_col,
            id_col,
            "n_terms_hit",
            F.expr(
                "cast(floor(__score * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("score"),
        )
    )


def bm25_scored(
    docs: DataFrame,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """The PRE-CUT per-(query, doc) candidate frame behind
    :func:`bm25_topk`: every document sharing at least one term with the
    query, scored — ``(query_id, doc_id, n_terms_hit, __score)`` with
    ``__score`` the exact ``decimal(20,10)`` BM25 sum (render it through
    the house floor-round-to-6 rule for presentation) and
    ``n_terms_hit`` the count of DISTINCT query terms the document
    contains.

    Factored out (r14, guide §2.4) so a hybrid-retrieval caller can
    derive SEVERAL rankings from one candidate build: ``n_terms_hit`` is
    itself the term-coverage relevance score (the candidate set is "docs
    with >= 1 matching term" — identical to a coverage ranker's support
    set), so BM25 + coverage fusion needs ONE postings pass, not two
    corpus tokenizations (q_rrf: one build + two top-k windows).  Plan
    shape documented on :func:`bm25_topk`.
    """
    from pyspark.sql import Window

    if k1 <= 0 or not 0 <= b <= 1:
        raise ValueError(f"need k1 > 0 and 0 <= b <= 1, got k1={k1} b={b}")
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        tokens(F.col(text_col)).alias("__tk"),
    ).select(
        id_col,
        F.size("__tk").cast("long").alias("dl"),
        F.explode("__tk").alias("term"),
    )
    qterms = queries.select(
        F.col(query_id_col).cast("long").alias(query_id_col),
        F.explode(F.array_distinct(tokens(F.col(query_col)))).alias("term"),
    )
    terms_only = qterms.select("term").distinct()
    # prune BEFORE the groupBy exchange: the tf shuffle carries only the
    # query terms' postings (r14 — guide §2.3 "shuffle fewer bytes")
    pruned = base.join(F.broadcast(terms_only), "term")
    tf = pruned.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = (
        docs.select(F.size(tokens(F.col(text_col))).cast("long").alias("__dl"))
        .filter(F.col("__dl") > 0)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__dl").alias("total_dl"))
    )
    w_df = Window.partitionBy("term")
    cand = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_df))
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
    )
    # per-term BM25 contribution in double (expression shape mirrored in
    # the SQL oracle), truncated to decimal(20,10) before the sum
    contrib = F.expr(
        f"cast(ln(1.0 + (cast(n as double) - cast(df as double) + 0.5)"
        f"                / (cast(df as double) + 0.5))"
        f"     * (cast(tf as double) * ({k1} + 1.0))"
        f"       / (cast(tf as double)"
        f"          + {k1} * (1.0 - {b} + {b} * cast(dl as double)"
        f"                    / (cast(total_dl as double) / cast(n as double))))"
        f" as decimal(20,10))"
    )
    return (
        cand.select(query_id_col, id_col, contrib.alias("__s"))
        .groupBy(query_id_col, id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum("__s").alias("__score"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 5,
    top_n: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Bigram collocation mining by pointwise mutual information
    (Church & Hanks 1990) — "which adjacent word pairs co-occur far more
    than chance?", the phrase-discovery signal a tokenizer/vocab pipeline
    uses to promote multi-word units.

    ``PMI(a,b) = ln(P(ab) / (P(a)·P(b)))`` with ``P(ab) = c(ab)/T_big``,
    ``P(x) = c(x)/T_uni`` — i.e. ``ln(c(ab)·T_uni² / (T_big·c(a)·c(b)))``.
    ``min_count`` filters rare pairs (PMI's classic low-count
    pathology); output is the global ``top_n`` by PMI desc, ties on
    ``(a, b)`` asc.

    Plan / 100 TB shape: one explode → ``groupBy(term)`` for unigram
    counts and one adjacent-pair explode → ``groupBy(a, b)`` for bigram
    counts (both map-side combined, the only corpus-sized shuffles); the
    unigram table joins the SURVIVING bigrams (post ``min_count``) twice
    on vocabulary-sized keys; totals are 1-row aggregates broadcast into
    the plan.  Final top-n is ``TakeOrderedAndProject``, no global sort.

    Engine determinism: counts are exact longs and the single ``ln`` is
    computed per-row from integers with an expression shared by the SQL
    oracle, so doubles are bit-identical; rounded half-up to 6 via exact
    decimal arithmetic for presentation.

    Output: ``(a, b, pair_count, pmi)``.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    toks = docs.select(tokens(F.col(text_col)).alias("tk"))
    uni = (
        toks.select(F.explode("tk").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                " (x, i) -> struct(x as a, tk[i + 1] as b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    big = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    # totals from array sizes — one cheap 1-row aggregate over the token
    # arrays, no second explode of the corpus
    totals = toks.agg(
        F.sum(F.size("tk")).cast("long").alias("t_uni"),
        F.sum(F.greatest(F.size("tk") - F.lit(1), F.lit(0)))
        .cast("long")
        .alias("t_big"),
    )
    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("cb"))
    scored = (
        big.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "a",
            "b",
            "pair_count",
            F.expr(
                "cast(floor(cast(ln((cast(pair_count as double)"
                "         * cast(t_uni as double) * cast(t_uni as double))"
                "        / (cast(t_big as double) * cast(ca as double)"
                "           * cast(cb as double))) as decimal(20,10))"
                " * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b")).limit(top_n)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 60,
    top_n: int | None = None,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of two
    per-query rankings — the standard hybrid-retrieval combiner for this
    package's two ranking families (:func:`bm25_topk` keyword scores +
    the embedding ANN top-k), robust to their incomparable score scales
    because only RANKS enter the fusion::

        rrf(q, d) = Σ_r 1 / (k + rank_r(q, d))    (absent ⇒ no term)

    Ranks are dense per query under the total order ``(score DESC,
    id ASC)`` — the id tiebreak makes every rank, and therefore every
    fused score, engine-reproducible.  Precondition: each ranker holds
    at most ONE row per ``(query, doc)`` (the natural shape of a top-k
    result); duplicate rows would take adjacent arbitrary ranks and
    multiply through the join identically in both engines, so they are
    rejected loudly rather than silently fused.  The rejection happens
    INSIDE the fused plan (a per-(query, doc) window count guarding the
    rank expression with ``raise_error``), not as an eager
    plan-construction check: calling this function triggers ZERO Spark
    jobs, so a recipe can embed rrf_fuse and never pay the rankers'
    upstream plans unless the fused result is actually materialized —
    the r10 version ran two eager ``collect()`` precondition jobs per
    call, re-executing each ranker's full upstream (e.g. the BM25
    build) before the fused plan even ran (r10 advisor + verdict
    item 4).  The two contributions are
    combined as one fixed ``coalesce(ta, 0) + coalesce(tb, 0)`` addition
    (never a float ``sum()`` over an exploded ranker table, whose
    partition order would vary).

    Plan / 100 TB shape: each ranker frame is already top-k-per-query
    sized (queries × k rows — tiny next to the corpora that produced
    them); two window sorts on the query key, one full-outer join on
    ``(query, doc)``, one optional per-query top-n window.  Nothing
    corpus-sized is touched.

    Output: ``(query_id, doc_id, rrf_score, fused_rank)`` — fused_rank
    dense per query by ``(rrf_score DESC, doc_id ASC)``; ``top_n``
    keeps the best per query; rrf_score rounded half-up to 6 dp.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    def _ranked(df: DataFrame, out: str) -> DataFrame:
        # lazy duplicate guard: a duplicate (query, doc) row turns the
        # rank expression into raise_error at EXECUTION time, and plan
        # construction stays job-free (the r10 eager .collect() check
        # re-ran each ranker's full upstream twice per call).  Detection
        # is lag-based over a window on the QUERY KEY ALONE — duplicates
        # of (query, doc) are adjacent in id order, so the second
        # occurrence sees itself in lag(id) — keeping every window in
        # the fused plan partitioned by the query key only (measured 5
        # exchanges / 7 sorts; a (query, doc)-partitioned count guard
        # measured the same today, but only because Catalyst coalesces
        # the finer partitioning — this shape doesn't depend on that).
        w_dup = Window.partitionBy(query_id_col).orderBy(
            F.col(id_col).asc(), F.col(score_col).desc()
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.col(score_col).desc(), F.col(id_col).asc()
        )
        # coalesce both key renderings: concat() of a NULL id would
        # null the WHOLE message and the raise would read
        # "[USER_RAISED_EXCEPTION] null" with no diagnostic
        guard_msg = F.concat(
            F.lit(
                f"rrf_fuse: ranker has duplicate ({query_id_col}, "
                f"{id_col}) rows, e.g. ("
            ),
            F.coalesce(F.col(query_id_col).cast("string"), F.lit("<null>")),
            F.lit(", "),
            F.coalesce(F.col(id_col).cast("string"), F.lit("<null>")),
            F.lit(") — rankings must be unique per (query, doc)"),
        )
        # the adjacency test is NULL-SAFE (<=>) so duplicate
        # (query, NULL-doc) rows still raise — plain equality would
        # evaluate NULL and let them fuse silently, the exact outcome
        # the precondition exists to prevent (the r10 eager groupBy
        # check treated NULLs as equal; the lazy guard must too).  The
        # rn > 1 conjunct keeps a group's FIRST row — whose lag is the
        # no-previous-row NULL — from false-matching a NULL id.
        dup = (
            F.row_number().over(w_dup) > F.lit(1)
        ) & F.lag(F.col(id_col)).over(w_dup).eqNullSafe(F.col(id_col))
        return df.select(
            F.col(query_id_col).cast("long").alias(query_id_col),
            F.col(id_col).cast("long").alias(id_col),
            F.when(dup, F.raise_error(guard_msg))
            .otherwise(F.row_number().over(w))
            .alias(out),
        )

    a = _ranked(ranked_a, "__ra")
    b = _ranked(ranked_b, "__rb")
    fused = a.join(b, [query_id_col, id_col], "full_outer").select(
        query_id_col,
        id_col,
        F.expr(
            f"coalesce(cast(1.0 as double) / cast({k} + __ra as double),"
            f" 0.0)"
            f" + coalesce(cast(1.0 as double)"
            f" / cast({k} + __rb as double), 0.0)"
        ).alias("__rrf"),
    )
    wout = Window.partitionBy(query_id_col).orderBy(
        F.col("__rrf").desc(), F.col(id_col).asc()
    )
    out = fused.select(
        query_id_col,
        id_col,
        F.expr(
            "cast(floor(cast(__rrf as decimal(20,12)) * 1000000 + 0.5)"
            " as double) / 1000000.0"
        ).alias("rrf_score"),
        F.row_number().over(wout).cast("long").alias("fused_rank"),
    )
    if top_n is not None:
        out = out.filter(F.col("fused_rank") <= top_n)
    return out


def rrf_fuse_sql(
    ranked_a_sql: str,
    ranked_b_sql: str,
    k: int = 60,
    top_n: int | None = None,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> str:
    """DuckDB oracle reproducing :func:`rrf_fuse` exactly — the operands
    are SQL snippets producing each ranker's ``(query_id, doc_id,
    score)`` rows, so any oracle-expressible ranker pair composes."""
    tail = (
        f" WHERE fused_rank <= {top_n}" if top_n is not None else ""
    )
    return f"""
    WITH ra AS (
        SELECT CAST({query_id_col} AS BIGINT) AS {query_id_col},
               CAST({id_col} AS BIGINT) AS {id_col},
               row_number() OVER (PARTITION BY {query_id_col}
                                  ORDER BY {score_col} DESC,
                                           {id_col} ASC) AS r
        FROM ({ranked_a_sql})
    ),
    rb AS (
        SELECT CAST({query_id_col} AS BIGINT) AS {query_id_col},
               CAST({id_col} AS BIGINT) AS {id_col},
               row_number() OVER (PARTITION BY {query_id_col}
                                  ORDER BY {score_col} DESC,
                                           {id_col} ASC) AS r
        FROM ({ranked_b_sql})
    ),
    fused AS (
        SELECT coalesce(ra.{query_id_col}, rb.{query_id_col})
                   AS {query_id_col},
               coalesce(ra.{id_col}, rb.{id_col}) AS {id_col},
               coalesce(CAST(1.0 AS DOUBLE)
                        / CAST({k} + ra.r AS DOUBLE), 0.0)
                 + coalesce(CAST(1.0 AS DOUBLE)
                            / CAST({k} + rb.r AS DOUBLE), 0.0) AS rrf
        FROM ra FULL OUTER JOIN rb
          ON ra.{query_id_col} = rb.{query_id_col}
         AND ra.{id_col} = rb.{id_col}
    ),
    outq AS (
        SELECT {query_id_col}, {id_col},
               CAST(floor(CAST(rrf AS DECIMAL(20,12)) * 1000000 + 0.5)
                    AS DOUBLE) / 1000000.0 AS rrf_score,
               CAST(row_number() OVER (PARTITION BY {query_id_col}
                                       ORDER BY rrf DESC, {id_col} ASC)
                    AS BIGINT) AS fused_rank
        FROM fused
    )
    SELECT * FROM outq{tail}
    """


def vocab_coverage(
    docs: DataFrame,
    sizes: list[int],
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocabulary size
    ``N``, the fraction of ALL corpus token occurrences covered by the
    ``N`` most frequent token types — the tokenizer-sizing question
    ("how big a vocab before OOV is negligible?") answered before
    committing to a :func:`build_vocab` / BPE budget.

    Ranks use the :func:`build_vocab` total order ``(count DESC, token
    ASC)``, so the curve names exactly the types a same-sized vocab
    export would keep.  Everything is exact longs (one count groupBy,
    one rank window, one cumulative-sum window) plus ONE double
    division per output row — engine-reproducible to the last bit.

    Plan / 100 TB shape: one map-side-combined token count (the only
    corpus-sized shuffle), one vocabulary-sized window sort, output
    ``len(sizes)`` rows.  At planetary vocabularies the window sort is
    vocabulary-bounded, never corpus-bounded.

    Output: ``(n_vocab, n_types, covered_tokens, total_tokens,
    coverage)`` — one row per requested size; ``n_types = min(size,
    distinct types)``; coverage rounded half-up to 6 dp.
    """
    if not sizes or any(n < 1 for n in sizes):
        raise ValueError(f"sizes must be non-empty positive ints: {sizes}")
    return vocab_coverage_curve(token_counts(docs, text_col), sizes)


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus token-type counts ``(token, cnt)`` — ADDITIVE (exact
    longs), so partials from disjoint row sets (micro-batch epochs,
    shards) merge by plain ``sum`` into the single-pass aggregate
    (streaming.ops.stream_token_counts is that merge's producer)."""
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(text_col), r"\s+"), lambda t: t != ""
            )
        ).alias("token")
    )
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))


def vocab_coverage_curve(counts: DataFrame, sizes: list[int]) -> DataFrame:
    """Coverage curve over a :func:`token_counts`-layout frame — the
    back half of :func:`vocab_coverage`, shared verbatim with the
    streaming reader so sum-merged counts produce the identical curve.
    The total-token denominator is ``sum(cnt)`` over the counts frame
    (one vocabulary-sized aggregate — never a second corpus scan)."""
    if not sizes or any(n < 1 for n in sizes):
        raise ValueError(f"sizes must be non-empty positive ints: {sizes}")
    from pyspark.sql import Window

    # r13: the curve only ever reads ranks 1..max(sizes) (each probe
    # takes the LAST rank <= its n_vocab), so the single-partition
    # ranking window runs over a TakeOrdered top-max(sizes) frame —
    # bounded by the caller's largest requested vocabulary, never the
    # type universe.  The total-order limit keeps ranks identical, and
    # a size beyond the universe still covers everything (the limit
    # returns the whole universe when it is smaller).
    order = [F.col("cnt").desc(), F.col("token").asc()]
    top = counts.orderBy(*order).limit(max(sizes))
    w = Window.orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = top.select(
        F.row_number().over(w).alias("rank"),
        F.sum("cnt").over(wcum).alias("cum"),
    )
    total = counts.agg(F.sum("cnt").alias("total_tokens"))
    pick = F.array(*[F.lit(int(n)) for n in sorted(set(sizes))])
    # a size larger than the type universe covers everything: take the
    # LAST rank ≤ n_vocab per requested size (max over the filtered
    # vocabulary-sized frame — never corpus-sized)
    probes = (
        ranked.crossJoin(
            F.broadcast(
                total.select(
                    "total_tokens", F.explode(pick).alias("n_vocab")
                )
            )
        )
        .filter(F.col("rank") <= F.col("n_vocab"))
        .groupBy("n_vocab", "total_tokens")
        .agg(
            F.max("rank").cast("long").alias("n_types"),
            F.max("cum").cast("long").alias("covered_tokens"),
        )
    )
    return probes.select(
        F.col("n_vocab").cast("long").alias("n_vocab"),
        "n_types",
        "covered_tokens",
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.expr(
            "cast(floor(cast(covered_tokens as double)"
            " / nullif(cast(total_tokens as double), 0.0)"
            " * 1000000 + 0.5) as double) / 1000000.0"
        ).alias("coverage"),
    )


def vocab_coverage_sql(
    table: str, sizes: list[int], text_col: str = "text"
) -> str:
    """DuckDB oracle reproducing :func:`vocab_coverage` exactly (same
    tokenization, same rank order, same cumulative sums)."""
    toks = (
        f"[t for t in string_split_regex(lower({text_col}), '\\s+')"
        f" if t != '']"
    )
    vals = ", ".join(f"({int(n)})" for n in sorted(set(sizes)))
    return f"""
    WITH uni AS (
        SELECT unnest({toks}) AS token FROM {table}
    ),
    counts AS (SELECT token, count(*) AS cnt FROM uni GROUP BY token),
    ranked AS (
        SELECT row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
               sum(cnt) OVER (ORDER BY cnt DESC, token ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum
        FROM counts
    ),
    total AS (SELECT count(*) AS total_tokens FROM uni),
    ns(n_vocab) AS (VALUES {vals})
    SELECT CAST(n_vocab AS BIGINT) AS n_vocab,
           CAST(max(rank) AS BIGINT) AS n_types,
           CAST(max(cum) AS BIGINT) AS covered_tokens,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(floor(CAST(max(cum) AS DOUBLE)
                      / nullif(CAST(total_tokens AS DOUBLE), 0.0)
                      * 1000000 + 0.5) AS DOUBLE) / 1000000.0 AS coverage
    FROM ranked CROSS JOIN total JOIN ns ON ranked.rank <= ns.n_vocab
    GROUP BY n_vocab, total_tokens
    """


def token_drift(
    ref_docs: DataFrame,
    cur_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-composition drift between two snapshots, measured on the
    TOKEN distribution: Jensen-Shannon divergence (nats) and
    total-variation distance between the snapshots' token frequency
    distributions, plus the new-token mass (fraction of current token
    occurrences whose type the reference never saw — the OOV-vs-
    reference rate).  The text counterpart of
    :func:`~tundradb_spark.operators.analytics.distribution_drift`:
    that answers "did this METRIC's shape move", this answers "did the
    LANGUAGE of the corpus move" — the between-crawl gate before
    trusting a tokenizer budget (:func:`vocab_coverage`), a trained
    quality LM (:func:`lm_scores`), or DSIR importance weights against
    a shifted crawl.

    Tokenization is the house whitespace-lowercase split
    (:func:`token_counts` — shared verbatim, so the streaming twin and
    every other token-counting operator agree on what a token is).
    Score formulas over per-token proportions ``p = c_ref/n_ref``,
    ``q = c_cur/n_cur`` across the full-outer token join (``0·ln 0 ≡
    0``; tokens absent from both cannot exist):

    - ``jsd = Σ ½·(p·ln(p/m) + q·ln(q/m))``, ``m = (p+q)/2`` —
      bounded by ln 2; - ``tv = Σ ½·|q − p|`` — bounded by 1;
    - ``new_mass = Σ q over tokens with c_ref = 0``.

    Engine determinism follows the drift discipline: each per-token
    double term is cast ``decimal(28,18)`` BEFORE the sum (vocabulary
    partition order can never wobble the totals), ``ln`` at query time
    per the BM25/PMI precedent, 6 dp half-up rounding.

    Plan / 100 TB shape: one map-side-combined token count per snapshot
    (the only corpus-sized shuffles — identical to what
    :func:`vocab_coverage` already pays), one vocabulary-sized
    full-outer join on the token, vocabulary-sized term sums, ONE output
    row; the two totals frames are single rows broadcast via crossJoin.
    Smoothing is deliberately NOT applied (unlike PSI): JSD and TV are
    finite at zeros, so the scores need no epsilon and stay exactly
    reproducible.  Degenerate snapshots fall out of the formula rather
    than a special case: an EMPTY side scores jsd = ln(2)/2, tv = 0.5
    (its zero pseudo-distribution is disjoint from the other side on
    every observed token) — an empty crawl IS maximally drifted.

    Output: ``(n_ref, n_cur, types_ref, types_cur, shared_types,
    new_types, new_mass, jsd, tv)`` — one row.
    """
    return token_drift_score(
        token_counts(ref_docs, text_col), token_counts(cur_docs, text_col)
    )


def token_drift_score(
    ref_counts: DataFrame, cur_counts: DataFrame
) -> DataFrame:
    """JSD / TV / new-token mass over two :func:`token_counts`-layout
    frames — the back half of :func:`token_drift`, shared verbatim with
    the streaming reader (streaming.ops.read_token_drift) so
    sum-merged epoch counts score IDENTICALLY to the batch operator."""
    from pyspark.sql import Window

    r = ref_counts.select("token", F.col("cnt").alias("__cr"))
    c = cur_counts.select("token", F.col("cnt").alias("__cc"))
    # totals come from GLOBAL windows over the joined frame itself (the
    # temperature_mixture pattern): every ref/cur token appears in the
    # full-outer join exactly once, so the window sums equal the
    # per-side totals — no totals join at all (a crossJoin would compile
    # to BroadcastNestedLoopJoin even at 1 row, and a constant-key
    # equi-join constant-folds back into one; the no-nested-loop plan
    # discipline is pinned repo-wide).  The single-partition window is
    # VOCABULARY-sized, never corpus-sized — the vocab_coverage
    # precedent.
    every = Window.partitionBy()
    j = (
        r.join(c, "token", "full_outer")
        .select(
            F.coalesce("__cr", F.lit(0)).alias("__cr"),
            F.coalesce("__cc", F.lit(0)).alias("__cc"),
        )
        .select(
            "__cr",
            "__cc",
            F.sum("__cr").over(every).alias("n_ref"),
            F.sum("__cc").over(every).alias("n_cur"),
            F.sum(
                F.when(F.col("__cr") > 0, 1).otherwise(0)
            ).over(every).alias("types_ref"),
            F.sum(
                F.when(F.col("__cc") > 0, 1).otherwise(0)
            ).over(every).alias("types_cur"),
        )
    )
    p = (
        "coalesce(cast(__cr as double)"
        " / nullif(cast(n_ref as double), 0.0), cast(0.0 as double))"
    )
    q = (
        "coalesce(cast(__cc as double)"
        " / nullif(cast(n_cur as double), 0.0), cast(0.0 as double))"
    )
    m = f"(({p} + {q}) / cast(2.0 as double))"
    jsd_t = (
        f"cast(0.5 as double) * ("
        f"(case when {p} > cast(0.0 as double)"
        f" then {p} * ln({p} / {m}) else cast(0.0 as double) end)"
        f" + (case when {q} > cast(0.0 as double)"
        f" then {q} * ln({q} / {m}) else cast(0.0 as double) end))"
    )
    tv_t = f"cast(0.5 as double) * abs({q} - {p})"
    new_t = f"case when __cr = 0 then {q} else cast(0.0 as double) end"
    agg = j.agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.max("types_ref").alias("types_ref"),
        F.max("types_cur").alias("types_cur"),
        F.sum(
            F.when((F.col("__cr") > 0) & (F.col("__cc") > 0), 1).otherwise(0)
        ).alias("shared_types"),
        F.sum(
            F.when((F.col("__cr") == 0) & (F.col("__cc") > 0), 1).otherwise(0)
        ).alias("new_types"),
        F.sum(F.expr(f"cast({new_t} as decimal(28,18))")).alias("__new"),
        F.sum(F.expr(f"cast({jsd_t} as decimal(28,18))")).alias("__jsd"),
        F.sum(F.expr(f"cast({tv_t} as decimal(28,18))")).alias("__tv"),
    )

    def _rnd(col: str) -> str:
        return (
            f"cast(floor(cast(cast({col} as double) as decimal(28,10))"
            f" * 1000000 + 0.5) as double) / 1000000.0"
        )

    return agg.select(
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.col("types_ref").cast("long").alias("types_ref"),
        F.col("types_cur").cast("long").alias("types_cur"),
        F.col("shared_types").cast("long").alias("shared_types"),
        F.col("new_types").cast("long").alias("new_types"),
        F.expr(_rnd("__new")).alias("new_mass"),
        F.expr(_rnd("__jsd")).alias("jsd"),
        F.expr(_rnd("__tv")).alias("tv"),
    )


def token_drift_sql(
    ref_table: str, cur_table: str, text_col: str = "text"
) -> str:
    """DuckDB oracle reproducing :func:`token_drift` exactly — same
    tokenization, 0·ln(0) ≡ 0 cases, per-term decimal(28,18) casts,
    6 dp half-up rounding.  ``ref_table`` / ``cur_table`` may be
    subqueries."""
    toks = (
        f"[t for t in string_split_regex(lower({text_col}), '\\s+')"
        f" if t != '']"
    )
    p = (
        "coalesce(CAST(cr AS DOUBLE)"
        " / nullif(CAST(n_ref AS DOUBLE), 0.0), CAST(0.0 AS DOUBLE))"
    )
    q = (
        "coalesce(CAST(cc AS DOUBLE)"
        " / nullif(CAST(n_cur AS DOUBLE), 0.0), CAST(0.0 AS DOUBLE))"
    )
    m = f"(({p} + {q}) / CAST(2.0 AS DOUBLE))"
    jsd_t = (
        f"CAST(0.5 AS DOUBLE) * ("
        f"(CASE WHEN {p} > CAST(0.0 AS DOUBLE)"
        f" THEN {p} * ln({p} / {m}) ELSE CAST(0.0 AS DOUBLE) END)"
        f" + (CASE WHEN {q} > CAST(0.0 AS DOUBLE)"
        f" THEN {q} * ln({q} / {m}) ELSE CAST(0.0 AS DOUBLE) END))"
    )
    tv_t = f"CAST(0.5 AS DOUBLE) * abs({q} - {p})"
    new_t = (
        f"CASE WHEN cr = 0 THEN {q} ELSE CAST(0.0 AS DOUBLE) END"
    )

    def _rnd(col: str) -> str:
        return (
            f"CAST(floor(CAST(CAST({col} AS DOUBLE) AS DECIMAL(28,10))"
            f" * 1000000 + 0.5) AS DOUBLE) / 1000000.0"
        )

    return f"""
    WITH runi AS (SELECT unnest({toks}) AS token FROM {ref_table}),
    cuni AS (SELECT unnest({toks}) AS token FROM {cur_table}),
    rc AS (SELECT token, count(*) AS cnt FROM runi GROUP BY token),
    cc AS (SELECT token, count(*) AS cnt FROM cuni GROUP BY token),
    rt AS (SELECT coalesce(sum(cnt), 0) AS n_ref, count(*) AS types_ref
           FROM rc),
    ct AS (SELECT coalesce(sum(cnt), 0) AS n_cur, count(*) AS types_cur
           FROM cc),
    j AS (
        SELECT coalesce(rc.cnt, 0) AS cr, coalesce(cc.cnt, 0) AS cc
        FROM rc FULL OUTER JOIN cc USING (token)
    ),
    terms AS (
        SELECT cr, cc, n_ref, n_cur, types_ref, types_cur,
               CAST({jsd_t} AS DECIMAL(28,18)) AS jsd_t,
               CAST({tv_t} AS DECIMAL(28,18)) AS tv_t,
               CAST({new_t} AS DECIMAL(28,18)) AS new_t
        FROM j CROSS JOIN rt CROSS JOIN ct
    )
    SELECT CAST(max(n_ref) AS BIGINT) AS n_ref,
           CAST(max(n_cur) AS BIGINT) AS n_cur,
           CAST(max(types_ref) AS BIGINT) AS types_ref,
           CAST(max(types_cur) AS BIGINT) AS types_cur,
           CAST(sum(CASE WHEN cr > 0 AND cc > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS shared_types,
           CAST(sum(CASE WHEN cr = 0 AND cc > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS new_types,
           {_rnd('sum(new_t)')} AS new_mass,
           {_rnd('sum(jsd_t)')} AS jsd,
           {_rnd('sum(tv_t)')} AS tv
    FROM terms
    """


def lm_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet-style LM quality buckets: label every document ``head`` /
    ``middle`` / ``tail`` by where its unigram-LM fluency score
    (:func:`lm_scores`) falls WITHIN ITS OWN GROUP's score distribution
    — the classic perplexity-bucket mechanism (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): per-language terciles, because a fluency score is only
    comparable against text of the same language, and downstream
    mixtures sample head > middle > tail.

    ``head`` is the TOP tercile (``lm_logprob`` ≥ the upper cut —
    higher mean log-prob = more fluent; CCNet's perplexity orientation
    inverted), ``tail`` the bottom; thresholds are exact
    ``percentile_cont`` interpolations of the (already 6-dp-rounded,
    engine-portable) scores, rounded to 6 dp themselves, so the bucket
    decision compares identical doubles in every engine.  NULL groups
    bucket within their own NULL group (null-safe joins — the house
    NULL-is-a-group position).

    Plan / 100 TB shape: :func:`lm_scores`' two token shuffles, one
    id-keyed hash join to recover the group column, ONE
    groups-sized quantile aggregate (exact percentile buffers per-group
    distinct values — fine for scores rounded to 6 dp: ≤ ~1e7 distinct),
    and a broadcast threshold join.  Output: ``(id, group, n_tokens,
    lm_logprob, bucket)``.  Zero-token documents (empty/NULL text) have
    no LM score and are ABSENT from the output — they carry no fluency
    evidence either way (the :func:`~tundradb_spark.pipeline.importance.
    dsir_weights` convention); gate them separately on length.
    """
    c1, c2 = float(cuts[0]), float(cuts[1])
    if not 0.0 < c1 < c2 < 1.0:
        raise ValueError(f"need 0 < cuts[0] < cuts[1] < 1, got {cuts}")
    scores = lm_scores(docs, text_col, id_col)
    labeled = scores.join(
        docs.select(
            F.col(id_col).alias("__lid"),
            F.col(group_col).alias(group_col),
        ),
        scores[id_col] == F.col("__lid"),
    ).drop("__lid")
    # ONE scoring pass for both consumers (r14 optimization round): the
    # threshold aggregate AND the final bucket join both read `labeled`,
    # and the threshold side lives inside a broadcast build, so
    # ReuseExchange cannot collapse the shared subtree — without a
    # barrier the two token shuffles of lm_scores run TWICE (A/B at
    # sf0.1, best-of-4 x2 each: 1.26-1.54s -> 1.07-1.11s).  The
    # checkpoint is doc-count sized (id,
    # group, n_tokens, lm_logprob — no text), i.e. summary-sized at any
    # corpus scale, and lazy: materialized once at first action.
    labeled = materialize(labeled, eager=False)
    th = (
        labeled.groupBy(group_col)
        .agg(
            F.expr(
                f"percentile(lm_logprob, array({c1!r}, {c2!r}))"
            ).alias("__q")
        )
        .select(
            F.col(group_col).alias("__tg"),
            F.round(F.element_at("__q", 1), 6).alias("__qlo"),
            F.round(F.element_at("__q", 2), 6).alias("__qhi"),
        )
    )
    return labeled.join(
        F.broadcast(th),
        F.col(group_col).eqNullSafe(F.col("__tg")),
    ).select(
        id_col,
        group_col,
        "n_tokens",
        "lm_logprob",
        F.when(F.col("lm_logprob") >= F.col("__qhi"), F.lit("head"))
        .when(F.col("lm_logprob") >= F.col("__qlo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def lm_buckets_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> str:
    """DuckDB oracle reproducing :func:`lm_buckets` exactly — same
    decimal-truncated LM scores, same ``quantile_cont`` thresholds
    rounded to 6 dp, same boundary rule and null-safe group joins."""
    c1, c2 = float(cuts[0]), float(cuts[1])
    if not 0.0 < c1 < c2 < 1.0:
        raise ValueError(f"need 0 < cuts[0] < cuts[1] < 1, got {cuts}")
    return rf"""
    WITH toks AS (
      SELECT {id_col}, unnest([x for x in
             string_split_regex(lower({text_col}), '\s+') if x != ''])
             AS tok
      FROM {table}
    ),
    freqs AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
    total AS (SELECT sum(freq) AS total FROM freqs),
    scores AS (
      SELECT t.{id_col},
             count(*) AS n_tokens,
             ROUND(CAST(sum(CAST(ln(CAST(f.freq AS DOUBLE)
                                     / CAST(tt.total AS DOUBLE))
                                 AS DECIMAL(20,10))) / count(*)
                        AS DOUBLE), 6) AS lm_logprob
      FROM toks t JOIN freqs f ON t.tok = f.tok, total tt
      GROUP BY t.{id_col}
    ),
    labeled AS (
      SELECT s.*, d.{group_col}
      FROM scores s JOIN {table} d USING ({id_col})
    ),
    th AS (
      SELECT {group_col} AS tg,
             ROUND(quantile_cont(lm_logprob, {c1!r}), 6) AS qlo,
             ROUND(quantile_cont(lm_logprob, {c2!r}), 6) AS qhi
      FROM labeled GROUP BY {group_col}
    )
    SELECT {id_col}, {group_col}, CAST(n_tokens AS BIGINT) AS n_tokens,
           lm_logprob,
           CASE WHEN lm_logprob >= qhi THEN 'head'
                WHEN lm_logprob >= qlo THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM labeled JOIN th
      ON labeled.{group_col} IS NOT DISTINCT FROM th.tg
    """
