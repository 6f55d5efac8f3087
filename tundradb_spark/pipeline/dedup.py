"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine.

The reference system has no data-pipeline operators (SURVEY.md §2.5, §2.12);
these are capability extensions designed for the 100 TB path:

- **exact_dedup** — one hash-shuffle ``groupBy`` with map-side combine; the
  only full pass over the corpus.
- **minhash_lsh_pairs** — per-row signature (narrow), explode to ``bands``
  rows per doc, one shuffle on the band key.  Candidate generation never
  compares all pairs; cost is O(n·bands) + within-bucket pairs.
- **simhash_pairs** — 64→32-bit simhash per row (narrow), banded on byte
  slices of the hash so only same-band docs are joined (pigeonhole: any pair
  within ``max_hamming`` ≤ bands-1 bits shares ≥1 exact band).
- **ngram_jaccard_pairs** — exact verifier, blocked by a caller-supplied
  key (e.g. language).  At full scale run it only on LSH candidates.
- **embedding_dup_pairs** — sign-LSH bucketing (``method='lsh'``) so only
  same-bucket vectors get the exact cosine; ``method='brute'`` is the O(n²)
  baseline for small n / validation.

All operators use only built-in functions (whole-stage codegen, no Python in
the hot path) and the portable md5-derived hash of
:mod:`tundradb_spark.pipeline.hashing`, so a SQL oracle reproduces them
exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tundradb_spark.pipeline.hashing import (
    MERSENNE_P,
    arr_sql,
    char_shingles,
    dot_sql,
    h32,
    h32_sql,
    hbits,
    hyperplanes,
    lsh_bands,
    minhash_params,
)
# renamed: the pair functions' public ``materialize`` flag shadows it
from tundradb_spark.session import materialize as materialize_frame

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_text(col: Column) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text for exact matching."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def apply_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    quality: DataFrame | None = None,
    quality_col: str = "quality",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Materialize the DEDUPLICATED corpus from near-dup candidate pairs:
    connected components over the pairs, keep ONE member per cluster,
    drop the rest — the step that actually shrinks a training set after
    any pair generator (MinHash / SimHash / n-gram / embedding).

    Canonical selection: by default each cluster's minimum-id member
    survives (stable, content-independent).  Pass ``quality`` — a
    ``(id, score)`` frame, e.g. ``text.quality_scores`` — to keep each
    cluster's HIGHEST-quality member instead (score desc, id asc
    tie-break; members missing from ``quality`` rank last), the policy a
    curation pipeline actually wants: near-dup groups collapse to their
    best-written representative rather than whichever arrived first.

    Scale: the removal set is (cluster members − canonicals), typically a
    small fraction of the corpus; the final filter is one broadcastable
    LEFT ANTI join — the full corpus is never shuffled.  The quality
    ranking windows only over CLUSTER MEMBERS (a per-cluster handful),
    never the corpus.
    """
    # clusters=: supply a precomputed dedup_clusters frame when applying
    # several canonical policies over the SAME pair graph — the iterative
    # CC pass runs once, not per policy
    if clusters is None:
        from tundradb_spark.graphs.algorithms import dedup_clusters

        clusters = dedup_clusters(pairs, src, dst)
    if quality is None:
        removals = clusters.filter(F.col("doc_id") != F.col("keep_id")).select(
            F.col("doc_id").alias("__rm")
        )
    else:
        from pyspark.sql import Window

        q = quality.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(quality_col).alias("__q"),
        )
        w = Window.partitionBy("keep_id").orderBy(
            F.desc_nulls_last("__q"), F.asc("doc_id")
        )
        removals = (
            clusters.join(q, "doc_id", "left")
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") > 1)
            .select(F.col("doc_id").alias("__rm"))
        )
    return docs.join(
        F.broadcast(removals),
        F.col(id_col).cast("long") == F.col("__rm"),
        "left_anti",
    )


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by md5 of normalized text.

    Returns one row per distinct text: ``dup_hash, keep_id (min id),
    n_copies``.  Scale: a single hash-partitioned groupBy; partial
    aggregation happens map-side, so shuffle volume is one row per distinct
    hash per task, not per document.
    """
    return (
        docs.select(
            F.md5(normalized_text(F.col(text_col))).alias("dup_hash"),
            F.col(id_col).cast("long").alias("_id"),
        )
        .groupBy("dup_hash")
        .agg(
            F.min("_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature over distinct char ``shingle_k``-grams.

    ``sig[j] = min over shingles s of (a_j * h32(s) + b_j) % P`` — a narrow,
    fully codegen'd projection (no shuffle, no UDF).
    """
    params = minhash_params(num_hashes, seed)
    # Hash each shingle ONCE (md5 dominates). The base-hash array MUST be
    # materialized in its own projection: inlining it into the 12 _mh
    # expressions would re-run the md5 of every shingle per hash function
    # (12× compute — measured ~100s→~4s at sf0.1). CollapseProject keeps the
    # two projections separate because "hs" is referenced many times and is
    # not a cheap expression.
    # distinct=False: min() is duplicate-invariant, so skipping
    # array_distinct's O(len²) pass changes nothing in the signature
    hashed = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.transform(
            char_shingles(F.col(text_col), shingle_k, distinct=False), h32
        ).alias("hs"),
    )

    def _mh(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(
                F.col("hs"), lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE_P
            )
        )

    sig = F.array(*[_mh(a, b) for a, b in params])
    return hashed.select(F.col(id_col), sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 5,
    seed: int = 42,
    materialize: bool = True,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding of MinHash signatures.

    Signature is split into ``bands`` bands of ``num_hashes//bands`` rows;
    docs sharing any exact band become a candidate pair.  With b=4, r=3 the
    match-probability curve crosses ~0.63 Jaccard.

    Scale: explode to b rows per doc, shuffle once on (band_idx, band_key);
    within-bucket self-join.  A degenerate bucket (mass-duplicated boilerplate)
    produces quadratic pairs — cap or sample buckets upstream if that bites.
    Returns distinct ``id_a < id_b`` pairs.

    ``materialize=True`` (default): signatures are persisted for the
    self-join, the (small) pair set is checkpointed eagerly, and the
    signature cache is released — the returned frame reads materialized
    blocks and holds no storage memory. The eager barrier means downstream
    predicates cannot push into signature generation; pass
    ``materialize=False`` to get the fully lazy plan instead (nothing
    persisted — the self-join recomputes signatures on both sides, so only
    worth it when a downstream filter prunes most of the input).

    ``sigs``: an already-computed :func:`minhash_signature` frame (e.g.
    one the caller also writes to a signature table — the
    streaming ingest sink's case); ``docs``/``text_col`` are then unused
    and the num_hashes/bands/shingle_k/seed parameters MUST match the
    ones the signatures were built with.
    """
    r = num_hashes // bands
    # persist the signatures: the LSH self-join reads them twice, and the
    # md5-per-shingle signature pass dominates cost. At cluster scale this
    # is the standard "materialize signatures" step (n_docs × num_hashes
    # longs — tiny next to the corpus).
    if sigs is None:
        sigs = minhash_signature(
            docs, text_col, id_col, num_hashes, shingle_k, seed
        )
    if materialize:
        sigs = sigs.persist()
    banded = _banded(sigs, id_col, bands, r)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    if materialize:
        # materialize the (small) pair set, then release the signature
        # cache — otherwise it lingers in storage memory for the life of the
        # session (round-1 ADVICE); the checkpoint also cuts lineage for the
        # CC loop
        pairs = materialize_frame(pairs)
        sigs.unpersist()
    return pairs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _tokens(text_col: Column) -> Column:
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-document ``bits``-bit SimHash over whitespace tokens.

    Bit i of the hash is set iff more than half the tokens have bit i set in
    their md5-derived token hash: ``2 * |{t : h(t) & 2^i}| > |tokens|``.
    Expressed as ``bits`` codegen'd array filters — narrow, shuffle-free,
    and exactly reproducible in SQL.  ``bits`` ≤ 60 (the token hash takes
    the first bits/4 md5 hex chars, kept positive in a signed long).
    """
    # Materialize token hashes once — inlining them into every bit term
    # would recompute the md5 of every token ``bits`` times (32× compute).
    toks = _tokens(F.col(text_col))
    hashed = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.size(toks).alias("n_tokens"),
        F.transform(toks, lambda t: hbits(t, bits)).alias("hh"),
    )
    # all `bits` bit terms in ONE F.expr: per-term Column construction
    # (size/filter/when × 32) is pure py4j driver overhead — see
    # similarity.dot_sql for the measurement
    value = " + ".join(
        f"(CASE WHEN 2 * size(filter(hh, h -> (h & {1 << i}) != 0)) > n_tokens"
        f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return hashed.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.expr(value).alias("simhash"),
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Banding on ``bits // band_bits`` bit slices: any pair within
    ``bands - 1`` differing bits shares at least one exact band
    (pigeonhole), so only same-band docs are joined; the Hamming filter
    (``bit_count(xor)``) then verifies.  Distinct ``id_a < id_b`` pairs with
    their distance.  ``materialize`` semantics as in
    :func:`minhash_lsh_pairs`.

    **Band width is the scale knob**: candidate volume per band is
    Σ_buckets k² with ~2^band_bits buckets, so 8-bit bands (256 buckets)
    go quadratic once n ≫ 256 — measured 49× cost at 20× corpus.  Use the
    classic wide config — ``bits=60, band_bits=15`` (4 bands still
    pigeonhole hamming ≤ 3; 32k buckets/band) — for anything beyond toy
    scale; the driver contract runs it.
    """
    bands = bits // band_bits
    assert max_hamming <= bands - 1, "banding misses pairs beyond bands-1 bits"
    # persisted for the same reason as minhash_lsh_pairs: both join sides
    # read the hash, and computing it dominates
    sh = simhash(docs, text_col, id_col, bits)
    if materialize:
        sh = sh.persist()
    mask = (1 << band_bits) - 1
    banded = sh.select(
        id_col,
        "simhash",
        # explode_outer: keeps InferFiltersFromGenerate from pushing a
        # size()>0 filter below the projection, which would re-inline (and
        # recompute) the whole signature expression in the scan filter
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("simhash", i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    if materialize:
        # materialize pairs, then drop the simhash cache (minhash_lsh_pairs)
        pairs = materialize_frame(pairs)
        sh.unpersist()
    return pairs


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verifier)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = "lang",
    max_df: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Exact token-``n``-gram Jaccard similarity via an inverted index.

    Jaccard = |A ∩ B| / |A ∪ B| over distinct n-grams, computed as
    ``inter / (|A| + |B| - inter)`` where ``inter`` is a COUNT of shared
    grams — never a per-pair array intersection.

    Scale design: explode each doc's distinct grams into postings, self-join
    on the GRAM (plus ``block_col`` if given), then groupBy the pair and
    count.  The shuffle key is the gram — millions of distinct values — so
    parallelism is full regardless of block cardinality, map-side combine
    collapses the pair counts, and pairs sharing zero grams (jaccard 0,
    i.e. everything below any positive threshold) are never generated at
    all.  The previous formulation (block self-join + array_intersect per
    pair) was quadratic per block and capped at ``distinct(block)`` tasks —
    192 s vs ~8 s at sf0.1, and unusable at 100 TB.  A gram with doc-
    frequency f contributes f² join rows; ``max_df`` caps that: grams in
    more than ``max_df`` docs are dropped from the index before the
    self-join (the standard boilerplate-gram mitigation at corpus scale).
    NOTE ``max_df`` changes semantics — dropped grams no longer count
    toward the intersection, so jaccard becomes a lower bound; the default
    (None) is the exact algorithm the oracle verifies.

    Output: ``id_a < id_b, jaccard`` (exact double, rounded to 6) —
    identical to the naive definition, verified against the same oracle.
    """
    # Tokenization is materialized as its own projection: inlining the
    # regex split into the transform lambda would re-split the text once per
    # element_at (~3·len(toks) regex evaluations per row — measured 66 s vs
    # 8 s at sf0.1).
    tok_df = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        *([F.col(block_col)] if block_col else []),
        _tokens(F.col(text_col)).alias("toks"),
    )
    toks = F.col("toks")
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda j: F.concat_ws(
                    " ", *[F.element_at(toks, j + k + 1) for k in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    posting = tok_df.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        grams.alias("grams"),
    ).select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        F.size("grams").alias("n_grams"),
        F.explode_outer("grams").alias("gram"),
    )
    # the posting list feeds BOTH sides of the pair self-join (and the df
    # cap's aggregate when max_df is set) — ``materialize=True`` persists it
    # so tokenize+explode runs once instead of 2-4×.  Default OFF, unlike
    # minhash/simhash: this posting is the EXPLODED grams (≫ input size), so
    # caching it costs more memory+serialization than the narrow codegen'd
    # recompute at moderate scale — flip it on when the tokenizer is the
    # bottleneck (huge documents, expensive analyzers) and the cluster has
    # the storage memory (measured locally: persist is ~1s SLOWER at sf0.1).
    if materialize:
        posting = posting.persist()
    cached = posting  # pre-cap handle for the unpersist below
    if max_df is not None:
        keys = ([block_col] if block_col else []) + ["gram"]
        df_ok = (
            posting.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
        # semi join: keep only postings of sub-cap grams; the f² blowup of a
        # boilerplate gram never reaches the self-join
        posting = posting.join(df_ok, keys, "semi")
    a, b = posting.alias("a"), posting.alias("b")
    cond = (F.col("a.gram") == F.col("b.gram")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = F.count(F.lit(1))
    na, nb = F.first("a.n_grams"), F.first("b.n_grams")
    pairs = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(inter.alias("inter"), na.alias("na"), nb.alias("nb"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    out = pairs.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    if materialize:
        # materialize the (small) pair set, then release the posting cache
        # — semantics as in minhash_lsh_pairs
        out = materialize_frame(out)
        cached.unpersist()
    return out


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — element order fixed, so the result is the
    same IEEE-754 double in any engine that folds left (DuckDB list_reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )


def embedding_dup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    method: str = "lsh",
    n_planes: int = 16,
    band_bits: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs with cosine ≥ ``threshold``.

    ``method='lsh'``: sign-LSH bucketing — project on ``n_planes``
    deterministic ±1 hyperplanes, band the sign bits, join only within
    buckets, then verify with exact cosine.  ``method='brute'``: all pairs
    (validation baseline; O(n²), do not use at scale).

    ``dim``: embedding dimensionality. When None it is probed with one
    driver-side ``first()`` — pass it explicitly in pipelines where that
    extra action matters (or where the frame is a stream).

    **Scale behavior** (measured on a 20× decorrelated probe): at LOW
    thresholds the pair OUTPUT itself is Θ(n²) — every random pair clears
    cosine ≥ 0.3 with fixed probability — so no bucketing scheme makes the
    operator linear; that is a property of the question, not the plan.
    Production near-dup runs use high thresholds (≥ 0.9), where output is
    sparse and the cost is the candidate rate: with p = P(plane agrees),
    each ``band_bits``-wide band admits a dissimilar pair with
    ``0.5**band_bits`` and catches a near-dup with ``p**band_bits`` — the
    standard LSH S-curve; tune (``n_planes``, ``band_bits``) to the
    threshold (wider bands for higher thresholds).  For query-time ANN the
    IVF path + cell-partitioned storage is the prefilter instead.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(
        F.col(id_col).cast("long").alias(id_col),
        v.alias("v"),
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))

    if method == "lsh":
        if dim is None:
            dim = len(emb.select(vec_col).first()[0])
        planes = hyperplanes(n_planes, dim, seed)
        # whole signature as ONE F.expr — Column-by-Column construction costs
        # seconds of py4j driver time (see similarity.dot_sql); `v` is a
        # materialized double-array column of `base`
        sig = " + ".join(
            f"(CASE WHEN {dot_sql('v', arr_sql(plane))} > 0"
            f" THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for p, plane in enumerate(planes)
        )
        base = base.withColumn("sig", F.expr(sig))
        bands = lsh_bands(n_planes, band_bits)
        mask = (1 << band_bits) - 1
        banded = base.select(
            id_col,
            "v",
            "norm",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            F.shiftright("sig", i * band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("band_key"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("band"),
        ).select(id_col, "v", "norm", "band.band_idx", "band.band_key")
        a = banded.alias("a")
        b = banded.alias("b")
        joined = a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
    else:
        a = base.alias("a")
        b = base.alias("b")
        joined = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))

    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# duplicated spans (passage-level boilerplate detection)
# ---------------------------------------------------------------------------


def duplicate_spans(
    docs: DataFrame,
    k: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated ``k``-token spans across documents — the
    passage-level view the pairwise operators can't give: license headers,
    navigation chrome, and templated boilerplate show up as spans repeated
    across ``min_docs``+ documents even when whole documents are unique.

    Output per duplicated span: ``span_digest`` (md5 of the space-joined
    span — portable to the SQL oracle), ``n_docs`` (distinct documents
    containing it), ``n_occurrences`` (total, counting repeats within a
    doc), ``first_doc_id`` (smallest containing id, a deterministic
    exemplar).

    Scale design: positional k-grams (NOT distinct — occurrence counts
    matter) are digested to a fixed 32-char key in the same projection
    that creates them, so the single groupBy shuffles digests, never span
    text; map-side combine collapses within-partition repeats.  Cost is
    one narrow pass + one aggregation, the same shape as exact_dedup.
    """
    toked = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        _tokens(F.col(text_col)).alias("toks"),
    )
    spans = toked.select(
        id_col,
        F.explode(
            F.when(
                F.size("toks") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - F.lit(k - 1)),
                    lambda i: F.md5(F.array_join(F.slice("toks", i, k), " ")),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("span_digest"),
    )
    return (
        spans.groupBy("span_digest")
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.col(id_col)).alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_duplicate_segments(
    docs: DataFrame,
    mode: str = "line",
    window: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style boilerplate REMOVAL (Raffel et al. 2020 §2.2 dedup the
    corpus at sub-document granularity): segment every document, find
    segments that appear in ``min_docs``+ DISTINCT documents, and rebuild
    each document's text without them.  Where :func:`duplicate_spans`
    REPORTS repeated passages, this operator produces the cleaned corpus.

    ``mode='line'`` segments on newlines and rebuilds with ``'\\n'``
    (raw lines preserved); ``mode='window'`` segments into non-overlapping
    ``window``-token pieces of the NORMALIZED (lowercased,
    whitespace-collapsed) token stream and rebuilds with ``' '`` — the
    splitter for corpora without line structure.

    Output: ``(doc_id, n_segments, n_removed, text_clean)``; documents
    whose every segment is boilerplate survive with empty text; documents
    with no segments at all (empty text) are absent, as in the other
    per-token operators.

    Scale: duplicate detection shuffles 32-char digests, never segment
    text (one map-side-combined groupBy); membership is a digest-keyed
    left join against the filtered duplicate set (small by construction —
    boilerplate is the rare tail — so AQE broadcasts it); reconstruction
    is one groupBy(doc) whose rows are exactly the input segments.  Three
    shuffles total, each linear in the corpus.
    """
    if mode not in ("line", "window"):
        raise ValueError(f"mode must be 'line' or 'window', got {mode!r}")
    if mode == "window" and window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if mode == "line":
        segs_col = F.split(F.col(text_col), r"\n")
        base = docs.select(
            F.col(id_col).cast("long").alias(id_col),
            segs_col.alias("__segs"),
        )
        sep = "\n"
    else:
        # tokenize in its own projection: a computed token expression
        # referenced inside the slice lambda would re-split the text once
        # per window (the char_shingles lesson)
        toks = F.col("__toks")
        segs_col = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(window)),
            lambda i: F.array_join(F.slice(toks, i, window), " "),
        )
        # F.when on empty docs: sequence(1, 1) still yields one empty seg;
        # drop docs with zero tokens entirely
        segs_col = F.when(F.size(toks) > 0, segs_col).otherwise(
            F.array().cast("array<string>")
        )
        base = docs.select(
            F.col(id_col).cast("long").alias(id_col),
            _tokens(F.col(text_col)).alias("__toks"),
        ).select(id_col, segs_col.alias("__segs"))
        sep = " "
    segs = base.select(
        id_col,
        F.posexplode(F.col("__segs")).alias("idx", "seg"),
    ).withColumn("dg", F.md5("seg"))
    dup = (
        segs.groupBy("dg")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("dg", F.lit(True).alias("is_dup"))
    )
    marked = segs.join(dup, "dg", "left").withColumn(
        "kept", F.col("is_dup").isNull()
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((~F.col("kept")).cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"),
                                F.struct(F.col("idx"), F.col("seg")),
                            )
                        )
                    ),
                    lambda x: x.getField("seg"),
                ),
                sep,
            ).alias("text_clean"),
        )
    )


def _banded(sigs: DataFrame, id_col: str, bands: int, r: int) -> DataFrame:
    # explode_outer: keeps InferFiltersFromGenerate from pushing a
    # size()>0 filter below the projection, which would re-inline (and
    # recompute) the whole signature expression in the scan filter
    return sigs.select(
        F.col(id_col),
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.array_join(F.slice("sig", i * r + 1, r), ",").alias(
                            "band_key"
                        ),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_key")


def incremental_dup_pairs(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 5,
    seed: int = 42,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup detection: candidate pairs between an arriving
    batch and the EXISTING corpus (``(new_id, corpus_id)``), without ever
    re-pairing the corpus against itself — the ingest-time dedup shape of
    a continuously-growing training set.

    The corpus side should be the PERSISTED signature table a deployment
    maintains (pass ``corpus_sigs`` = ``(id, sig)`` — e.g. the
    ``minhash_signature`` output written at ingest); when omitted it is
    computed from ``corpus`` for convenience.  Cost per batch:
    ``O(|new|)`` signature work + one band join whose left side is the
    small batch (AQE broadcasts it), NOT the ``O(|corpus|²)`` full
    re-pairing — the property that keeps ingest-time dedup flat as the
    corpus grows.

    Same banding and hash family as :func:`minhash_lsh_pairs`, so a
    pair surfaces here iff the batch-vs-corpus pair would surface in a
    full run over ``corpus ∪ new``.
    """
    r = num_hashes // bands
    new_sigs = minhash_signature(
        new_docs, text_col, id_col, num_hashes, shingle_k, seed
    )
    if corpus_sigs is None:
        corpus_sigs = minhash_signature(
            corpus, text_col, id_col, num_hashes, shingle_k, seed
        )
    nb = _banded(new_sigs, id_col, bands, r).alias("n")
    cb = _banded(corpus_sigs, id_col, bands, r).alias("c")
    return (
        nb.join(
            cb,
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )


def _band_bucket(n_buckets: int) -> Column:
    """Stable layout bucket of a band key: ``pmod(xxhash64(key), n)``.
    Layout-only — never part of the match semantics."""
    return F.pmod(F.xxhash64("band_key"), F.lit(n_buckets)).cast("int")


def write_signature_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 5,
    seed: int = 42,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> str:
    """Persist the corpus' banded MinHash signatures as a PRUNABLE
    inverted file: one row per (doc, band), ``partitionBy(band_idx,
    band_bucket)`` where ``band_bucket = pmod(xxhash64(band_key),
    n_buckets)``.

    This is the ingest-dedup twin of :func:`~tundradb_spark.pipeline.
    similarity.index_corpus_lsh`: signature work runs once at write time,
    and a batch probe's literal ``(band_idx, band_bucket)`` predicate
    prunes FILES (PartitionFilters), so probe IO is bounded by the
    batch's own band keys, not the corpus size.  ``mode='append'`` is the
    steady-state maintenance op — each ingested batch appends its own
    signatures into the same directory tree.

    ``n_buckets`` bounds the directory fan-out (``bands × n_buckets``
    dirs) AND the probe's worst case: a batch touches at most
    ``bands × n_buckets`` partitions no matter how large it is.
    """
    sigs = minhash_signature(docs, text_col, id_col, num_hashes, shingle_k, seed)
    banded = banded_signatures(sigs, id_col, num_hashes, bands, n_buckets)
    banded.repartition("band_idx", "band_bucket").write.mode(mode).partitionBy(
        "band_idx", "band_bucket"
    ).parquet(path)
    return path


def banded_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    n_buckets: int = 64,
) -> DataFrame:
    """The prunable-index row shape from precomputed signatures:
    ``(id, band_idx, band_key, band_bucket)`` — what
    :func:`write_signature_index` writes and
    :func:`incremental_dup_pairs_indexed` probes; exposed so streaming
    sinks can append their own epochs into the same layout."""
    r = num_hashes // bands
    return _banded(sigs, id_col, bands, r).withColumn(
        "band_bucket", _band_bucket(n_buckets)
    )


def incremental_dup_pairs_indexed(
    spark,
    new_docs: DataFrame | None,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 5,
    seed: int = 42,
    n_buckets: int = 64,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Probe a :func:`write_signature_index` layout with an arriving
    batch: identical pairs to :func:`incremental_dup_pairs` against the
    same corpus (test-pinned), but the corpus side reads ONLY the
    partitions whose ``(band_idx, band_bucket)`` some batch row hashes
    into — file-level pruning instead of a full signature-table scan.

    The probed bucket list is collected driver-side from the batch's own
    band keys; it is bounded by ``min(bands × |batch|, bands ×
    n_buckets)`` rows (≤256 at the defaults) regardless of corpus or
    batch size.  Must use the same signature parameters the index was
    written with.  ``new_sigs``: pre-computed :func:`minhash_signature`
    output for the batch (the streaming sink computes signatures once
    and reuses them here).
    """
    r = num_hashes // bands
    if new_sigs is None:
        if new_docs is None:
            raise ValueError(
                "incremental_dup_pairs_indexed needs new_docs or new_sigs"
            )
        new_sigs = minhash_signature(
            new_docs, text_col, id_col, num_hashes, shingle_k, seed
        )
    nb = materialize_frame(  # signatures computed once, reused
        _banded(new_sigs, id_col, bands, r)
        .withColumn("band_bucket", _band_bucket(n_buckets))
    )
    probe = (
        nb.select("band_idx", "band_bucket").distinct().collect()
    )  # bounded: <= bands * n_buckets rows by construction
    by_band: dict[int, list[int]] = {}
    for row in probe:
        by_band.setdefault(int(row["band_idx"]), []).append(
            int(row["band_bucket"])
        )
    pred = None
    for i, buckets in sorted(by_band.items()):
        this = (F.col("band_idx") == i) & F.col("band_bucket").isin(
            sorted(buckets)
        )
        pred = this if pred is None else (pred | this)
    corpus_banded = spark.read.parquet(index_path)
    if pred is not None:
        corpus_banded = corpus_banded.filter(pred)
    return (
        nb.alias("n")
        .join(
            corpus_banded.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    n_cells: int | str = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
    target_cell_size: int = 1000,
    vectorized: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: assign every vector to its
    IVF cell (``similarity.ivf_assign`` — trained centroids welcome),
    then compare pairs ONLY within a cell and drop any vector whose
    cosine to a LOWER-id cell-mate reaches ``threshold`` (greedy min-id
    keeper, the streaming-gate convention: a chain A~B~C keeps only A).

    ``vectorized=True`` replaces the within-cell pair join with one
    Arrow-batched ``applyInPandas`` per cell computing the cell's cosine
    matrix as a single numpy GEMM — the published SemDeDup compute shape,
    and ~10× less per-pair cost than the boxed fold-expression path
    (measured r8 at sf1).  Same shuffle (one exchange on the cell key),
    same decisions on everything except exact-threshold knife edges:
    numpy's pairwise-summed dot can differ from the left-fold dot in the
    last ulp, so a cosine EXACTLY at the 6-dp threshold may flip — the
    default stays on the fold path, which the SQL oracle reproduces
    bit-for-bit.

    This is the published SemDeDup recipe (Abbas et al. 2023: k-means
    clusters, within-cluster cosine pruning) re-expressed as one
    cell-keyed self-join: candidate volume is Σ_c |cell_c|² instead of
    n² — with balanced cells that is n²/n_cells, and the shuffle key is
    the cell, so every cell dedups in parallel.  Cross-cell near-dups
    are invisible BY DESIGN (both engines, same centroids → same blind
    spot); raise ``n_cells`` with corpus size to hold cell volume flat —
    or pass ``n_cells='auto'``, which sizes the quantizer as
    ``max(16, ceil(count / target_cell_size))`` (one bounded count
    action), keeping expected per-cell candidate volume constant at any
    corpus size.

    Output: ``(id_col, cell, kept)`` — one row per input vector,
    ``kept=false`` iff a lower-id cell-mate at ≥ ``threshold`` exists.
    """
    from tundradb_spark.pipeline.similarity import ivf_assign

    if n_cells == "auto":
        if centroids is not None:
            raise ValueError("n_cells='auto' conflicts with explicit centroids")
        if target_cell_size < 1:
            raise ValueError(
                f"target_cell_size must be >= 1, got {target_cell_size}"
            )
        n = emb.count()
        n_cells = max(16, -(-n // target_cell_size))

    assigned = ivf_assign(
        emb,
        n_cells=n_cells,
        vec_col=vec_col,
        id_col=id_col,
        seed=seed,
        dim=dim,
        centroids=centroids,
        vectorized=vectorized,
    )
    # materialize the assigned corpus ONCE: it feeds both sides of the
    # cell self-join AND the final keep-mark join, and without the
    # checkpoint each consumer re-runs the n_cells-dot assignment (r8:
    # 3× recompute dominated the sf1 auto-cells probe).  At cluster
    # scale this is the docstring's "persist partitioned by cell"
    # write-side step; one eager checkpoint is its single-job analog.
    base = materialize_frame(assigned.select(
        id_col,
        "cell",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v")))))
    if vectorized:
        import numpy as np
        import pandas as pd

        thr = float(threshold)

        def _cell_dedup(pdf: "pd.DataFrame") -> "pd.DataFrame":
            order = pdf[id_col].to_numpy().argsort(kind="stable")
            ids = pdf[id_col].to_numpy()[order]
            V = np.stack(pdf["v"].to_numpy()[order])
            nrm = pdf["norm"].to_numpy()[order]
            C = np.round((V @ V.T) / np.outer(nrm, nrm), 6)
            # dropped[j] iff ANY lower-id cell-mate i<j has C[i,j] >= thr
            # (greedy min-id keeper — identical to the join-path filter)
            dropped = np.triu(C >= thr, k=1).any(axis=0)
            return pd.DataFrame(
                {
                    id_col: ids,
                    "cell": pdf["cell"].to_numpy()[order],
                    "kept": ~dropped,
                }
            )

        return base.groupBy("cell").applyInPandas(
            _cell_dedup, f"{id_col} long, cell long, kept boolean"
        )
    a, b = base.alias("a"), base.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(F.round(cos, 6) >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        base.join(dropped.withColumn("__drop", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col).cast("long").alias(id_col),
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )


def fuzzy_string_pairs(
    df: DataFrame,
    col: str,
    id_col: str = "id",
    max_dist: int = 2,
    q: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Entity-resolution self-join: pairs of rows whose ``col`` strings
    are within Levenshtein distance ``max_dist`` — near-identical
    titles/names/URLs that MinHash (token-set similarity) does not model.

    EXACT by construction (the brute-force oracle reproduces it):
    candidates are generated by the classic q-gram prefilter and then
    VERIFIED with exact ``levenshtein``.  The prefilter has no false
    negatives: two strings within distance d must share at least one
    q-gram once ``max(len) > q·(d+1) − 1`` (each edit destroys at most q
    grams), so pairs sharing a gram cover every long pair; strings at or
    below that length go into a SHORT POOL joined all-pairs within the
    length band (tiny by definition — bounded length over a finite
    alphabet).  A ``| |a|−|b| | ≤ d`` length filter prunes both arms
    (length difference lower-bounds edit distance).

    Plan shape: one distinct-gram explode + one gram-keyed equi-join
    (the inverted-index shuffle — full parallelism on the gram key, the
    n-gram-Jaccard shape) + one short-pool join, then the levenshtein
    verify on candidates only — never corpus².  ``max_df`` drops grams
    appearing in more than that many rows (boilerplate-gram skew escape
    hatch, same trade as ngram_jaccard_pairs: capping CAN drop true
    pairs, so the default is exact/uncapped).

    Output: ``(id_a, id_b, dist)`` with ``id_a < id_b``.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    short_max = q * (max_dist + 1) - 1
    base = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(col).alias("s"),
        F.length(col).alias("n"),
    ).filter(F.col("s").isNotNull())
    grams = base.filter(F.col("n") > short_max).select(
        id_col,
        "s",
        "n",
        F.explode_outer(
            F.expr(
                f"array_distinct(transform(sequence(1, n - {q} + 1),"
                f" p -> substring(s, p, {q})))"
            )
        ).alias("g"),
    )
    if max_df is not None:
        from pyspark.sql import Window

        df_w = Window.partitionBy("g")
        grams = grams.withColumn(
            "__df", F.count(F.lit(1)).over(df_w)
        ).filter(F.col("__df") <= max_df).drop("__df")
    a, b = grams.alias("a"), grams.alias("b")
    long_cands = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.abs(F.col("a.n") - F.col("b.n")) <= max_dist),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        # no per-leg distinct (r15, guide §2.4): the final
        # dropDuplicates([id_a, id_b]) below already dedups with
        # map-side partial aggregation (gram-shared duplicates collapse
        # before its one exchange), and sa/sb are functionally
        # determined by the pair, so the per-leg distinct was a second
        # full dedup exchange stacked on the first for the same rows
    )
    short = base.filter(F.col("n") <= short_max)
    # short×long pairs: the long side's length bound keeps the gram arm
    # sound only when max(len) > short_max, so pair shorts against ALL
    # rows within the length band, not just other shorts.  The band is
    # carried as an EQUI key — each short row explodes to its 2d+1
    # admissible partner lengths and joins on b.n — because the bare
    # |a.n − b.n| ≤ d predicate alone compiles to a broadcast
    # nested-loop join over the ENTIRE corpus (O(|shorts| × corpus)),
    # which on short-string-heavy corpora (names, codes) IS corpus².
    sa = short.select(
        id_col,
        "s",
        "n",
        F.explode(
            F.expr(f"sequence(greatest(n - {max_dist}, 0), n + {max_dist})")
        ).alias("__bn"),
    ).alias("a")
    short_cands = (
        sa.join(
            base.alias("b"),
            (F.col("a.__bn") == F.col("b.n"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias(
                "id_b"
            ),
            F.when(
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"), F.col("a.s")
            ).otherwise(F.col("b.s")).alias("sa"),
            F.when(
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"), F.col("b.s")
            ).otherwise(F.col("a.s")).alias("sb"),
        )
        # per-leg distinct dropped — see long_cands note
    )
    cands = long_cands.unionByName(short_cands).dropDuplicates(
        ["id_a", "id_b"]
    )
    return (
        cands.withColumn("dist", F.levenshtein("sa", "sb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def exact_substring_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style MAXIMAL duplicated spans per document (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every token range of a document that is covered by
    ``k``-token windows occurring in ``min_docs``+ distinct documents,
    with overlapping/adjacent windows merged into one span.  Where
    :func:`duplicate_spans` reports the global digest view (which spans
    exist), this gives the per-document cut list (where each document is
    duplicated) — the input a surgical remover needs.

    Output per merged span: ``(doc_id, span_start, span_end, n_windows,
    span_tokens)`` — 1-based token positions, ``span_end`` exclusive,
    ``n_windows`` the count of duplicated k-windows merged into the span,
    ``span_tokens = span_end - span_start``.

    Scale design: positional k-gram digests (16-byte two-seed xxhash64
    pair — internal only, so the narrow fixed-width type halves the
    digest exchanges vs the 32-char md5 hex while the 2^128 keyspace
    keeps the collision bound safe at 10^12+ grams; text never
    shuffled) → one map-side-combined groupBy for the ``min_docs`` filter
    → one digest-keyed equi-join to mark duplicated positions → one
    doc-keyed window pass (classic gaps-and-islands: a new island starts
    when ``pos > lag(pos) + k``, i.e. the previous window [p, p+k) no
    longer overlaps or touches) → one groupBy(doc, island).  Every
    shuffle is linear in the corpus; per-doc state is the window
    positions of ONE document.  Equal-length intervals sorted by start
    make the running-max-end trick unnecessary: the previous window's
    end IS the max end so far.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    from pyspark.sql import Window

    toked = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        _tokens(F.col(text_col)).alias("toks"),
    )
    # the window digest is INTERNAL (only positions reach the output), so
    # it is hashed, not carried as text (r14 optimization round, guide
    # "shuffle fewer bytes"): the min_docs groupBy and the
    # duplicated-position join both key on it, so every gram row in those
    # exchanges and in the materialized checkpoint is a fixed-width key.
    # r15 (r14 verdict item 3): ONE xxhash64 collides at 100 TB — the
    # birthday bound puts even odds of a single collision at ~5e9
    # distinct grams, and a trillion-gram corpus would see false
    # duplicate spans.  The digest is now TWO independent xxhash64
    # passes (the second seeded by hashing a literal discriminator
    # first) packed in a struct<long,long>: 16 bytes — still half the
    # old 32-char md5 hex — with a 2^128 keyspace, whose birthday bound
    # (~2^64 ≈ 1.8e19 grams) holds past any 100 TB corpus.  The gram
    # string is bound once per window via the inner transform so the
    # slice+join is not re-evaluated per hash (the change-3 discipline).
    # Output spans verified byte-equal to the md5 digest at
    # sf0.001/0.01/0.1.
    grams = toked.select(
        id_col,
        F.posexplode_outer(
            F.when(
                F.size("toks") >= k,
                F.transform(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - F.lit(k - 1)),
                        lambda i: F.array_join(F.slice("toks", i, k), " "),
                    ),
                    lambda g: F.struct(
                        F.xxhash64(g).alias("h1"),
                        F.xxhash64(F.lit(1), g).alias("h2"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<h1:bigint,h2:bigint>>")
            )
        ).alias("pos0", "dg"),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "dg").filter(
        F.col("dg").isNotNull()
    )
    # ONE positional digest pass for both consumers (r14 optimization
    # round): the min_docs aggregate and the hits join both read
    # `grams`, and the duplicated digest-per-position pass was the
    # pipeline's dominant cost (A/B at sf0.1: 2.35s -> 1.53s).  The
    # lazy checkpoint materializes (id, pos, 16-byte digest) rows —
    # bytes comparable to what the min_docs groupBy already shuffles
    # for its (dg, doc) distinct partials, paid once to local disk
    # instead of recomputing tokenize+hash over the corpus a second time.
    grams = materialize_frame(grams, eager=False)
    dup = (
        grams.groupBy("dg")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("dg")
    )
    hits = grams.join(dup, "dg").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = hits.withColumn(
        "new_span",
        (F.col("pos") > F.lag("pos").over(w) + k).cast("long"),
    ).withColumn(
        "island",
        F.sum(F.coalesce(F.col("new_span"), F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            id_col,
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            F.col("n_windows").cast("long").alias("n_windows"),
            (F.col("span_end") - F.col("span_start"))
            .cast("long")
            .alias("span_tokens"),
        )
    )


def strip_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Surgical span removal — the apply half of
    :func:`exact_substring_spans`: rebuild every document's NORMALIZED
    token stream without the tokens covered by any maximal duplicated
    span.  The C4-style :func:`strip_duplicate_segments` cuts on fixed
    segment boundaries (lines / non-overlapping windows) and can only
    remove a segment whole; this removes exactly the duplicated tokens,
    wherever the duplication starts and ends.

    Output: ``(doc_id, n_tokens, n_removed, text_clean)`` for every
    document with at least one token; ``text_clean`` joins the surviving
    normalized tokens with single spaces (empty when the whole document
    is duplicated).

    Scale design: spans per doc are collected into an array (bounded by
    doc length / k — documents are bounded, corpora are not) and joined
    back doc-keyed; the token filter is a JVM-side ``exists`` over that
    small array inside one projection.  Two extra shuffles over
    :func:`exact_substring_spans` (collect_list groupBy + the doc-keyed
    join), both linear.

    ``spans``: optionally pass a precomputed
    :func:`exact_substring_spans` frame (same ``k``/``min_docs``/corpus)
    so a plan that needs BOTH the span list and the stripped text
    computes the span pipeline ONCE — at 100 TB the recompute is a full
    extra corpus digest pass (r8 verdict item 2).
    """
    if spans is None:
        spans = exact_substring_spans(
            docs, k=k, min_docs=min_docs, text_col=text_col, id_col=id_col
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    toked = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        _tokens(F.col(text_col)).alias("toks"),
    ).filter(F.size("toks") > 0)
    joined = toked.join(per_doc, id_col, "left")
    kept = F.filter(
        F.transform(
            F.col("toks"),
            lambda t, i: F.struct(
                (i + 1).alias("p"), t.alias("t")
            ),
        ),
        lambda s: ~F.coalesce(
            F.exists(
                F.col("spans"),
                lambda sp: (s.getField("p") >= sp.getField("span_start"))
                & (s.getField("p") < sp.getField("span_end")),
            ),
            F.lit(False),
        ),
    )
    return joined.select(
        id_col,
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda s: s.getField("t")), " "
        ).alias("text_clean"),
    )


def soft_dedup_weights(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SoftDeDup-style sampling weights (He et al. 2024, "SoftDedup:
    an Efficient Data Reweighting Method for Speeding Up Language Model
    Pre-training"): instead of DROPPING duplicated data, DOWN-WEIGHT it
    for the training sampler — removal loses the unique remainder of a
    half-duplicated document; reweighting keeps it at fair mass.

    Per document: ``n_copies`` (exact-duplicate multiplicity of the
    normalized text), ``dup_frac`` (fraction of tokens covered by
    duplicated spans ACROSS DISTINCT TEXTS, :func:`exact_substring_spans`
    over one representative per exact-dup group), and

        ``weight = (1 / n_copies) · (1 − dup_frac)``

    rounded half-up to 6 dp — an exact-copy set of size ``m`` carries
    total weight 1 like a single document, and partially-duplicated text
    is discounted by its duplicated mass.  Span coverage deliberately
    excludes a document's own exact copies (otherwise every copy of a
    ≥k-token duplicate set would be 100% covered and the two factors
    would double-count the same duplication straight to weight 0);
    ``dup_frac`` therefore measures overlap with OTHER text only.
    Documents that are entirely boilerplate get weight 0 (the hard-dedup
    limit); fully unique documents get 1.

    Scale design: the two inputs are the cheapest dedup passes in the
    module — one digest groupBy (exact) + the span pipeline's
    digest-keyed join and per-doc window over the DEDUPLICATED corpus —
    with coverage joined back hash-keyed; weights are plain double
    arithmetic (no ln), so the SQL oracle reproduces every value
    bit-for-bit.  One extra hash-keyed shuffle over the span pass.
    """
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.md5(normalized_text(F.col(text_col))).alias("dup_hash"),
        F.size(_tokens(F.col(text_col))).alias("n_tokens"),
        F.col(text_col).alias("__text"),
    )
    groups = base.groupBy("dup_hash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(F.col(id_col)).alias("rep_id"),
    )
    reps = (
        base.join(groups, "dup_hash")
        .filter(F.col(id_col) == F.col("rep_id"))
        .select("dup_hash", F.col(id_col).alias("__rid"), "__text")
    )
    covered = (
        exact_substring_spans(
            reps, k=k, min_docs=min_docs, text_col="__text", id_col="__rid"
        )
        .groupBy("__rid")
        .agg(F.sum("span_tokens").alias("dup_tokens"))
    )
    cov_by_hash = reps.join(covered, "__rid", "left").select(
        "dup_hash", "dup_tokens"
    )
    return (
        base.join(groups, "dup_hash")
        .join(cov_by_hash, "dup_hash", "left")
        .select(
            id_col,
            F.col("n_copies").cast("long").alias("n_copies"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.expr(
                "cast(floor((1.0 / cast(n_copies as double))"
                " * (1.0 - cast(coalesce(dup_tokens, 0) as double)"
                "     / cast(greatest(n_tokens, 1) as double))"
                " * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("weight"),
        )
    )


def sample_coin(id_col: Column, fraction: float) -> Column:
    """Deterministic hash-coin: keep a row iff
    ``h32(cast(id as string)) % 1_000_000 < round(fraction * 1e6)`` —
    the house portable md5 family (:mod:`.hashing`), so the SAME ids are
    kept on every run, every executor count, AND in a DuckDB oracle
    (:func:`sample_coin_sql` is the SQL twin) — the properties plain
    ``DataFrame.sample`` lacks that make sampled results oracle-checkable
    and resumable."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    return h32(id_col.cast("string")) % 1_000_000 < int(
        round(fraction * 1_000_000)
    )


def sample_coin_sql(id_expr: str, fraction: float) -> str:
    """DuckDB predicate reproducing :func:`sample_coin` exactly."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    return (
        f"{h32_sql(f'CAST({id_expr} AS VARCHAR)')} % 1000000"
        f" < {int(round(fraction * 1_000_000))}"
    )


def recall_gauge(
    corpus: DataFrame,
    *,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    sample_fraction: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Precision/recall of the MinHash-LSH pair miner against
    exact-duplicate ground truth (pairs with identical normalized-text
    md5 — the :func:`exact_dedup` digest — ``id_a < id_b``) over
    ``corpus``.  One row: ``(n_true, n_pred, n_hit, precision, recall)``.
    Exact dups share every shingle, so their signatures are identical and
    recall MUST be 1.0 — a broken band join, hash family, or signature
    layout shows here long before it corrupts a corpus; precision < 1 is
    EXPECTED (MinHash also surfaces real near-dups beyond the exact truth
    set).

    ``sample_fraction`` (r10 verdict item 5) is the corpus-scale path:
    the gauge's sf1 wall was 192 s NOT because any stage blows up (the
    decade probe measured 0.08× per pair) but because the ANSWER — the
    full truth pair set and the full mined pair set — grows with the
    corpus's duplicate mass.  A quality gauge doesn't need every pair; it
    needs an unbiased estimate.  With a fraction set, the corpus is
    thinned FIRST by :func:`sample_coin` on ``id_col`` — deterministic,
    so the sampled run EQUALS the full gauge on the pre-filtered subset
    (unit-pinned) — and every downstream stage (truth mine, signature
    build, band join, gauge) runs on the sample: cost scales with
    fraction² on the pair side.  Documents survive independently, so
    both dup-pair populations are thinned by the same fraction² coin and
    the precision/recall RATIOS stay unbiased estimates of the full-run
    ratios (recall of exact dups is structurally 1.0 at any fraction).

    100 TB shape: nothing all-pairs — the truth mine is a digest
    self-join (pairs only within identical-digest groups) and the miner
    is the banded LSH join (:func:`minhash_lsh_pairs`); the gauge itself
    is one full-outer join of two pair sets + a single aggregate row.
    """
    docs = corpus.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    if sample_fraction is not None:
        docs = docs.filter(sample_coin(F.col("doc_id"), sample_fraction))
    dg = docs.select(
        "doc_id", F.md5(normalized_text(F.col("text"))).alias("__dg")
    ).filter(F.col("__dg").isNotNull())
    a, b = dg.alias("a"), dg.alias("b")
    truth = a.join(
        b,
        (F.col("a.__dg") == F.col("b.__dg"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.lit(1).alias("__t"),
    )
    pred = minhash_lsh_pairs(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.lit(1).alias("__p"),
    )
    m = truth.join(pred, ["id_a", "id_b"], "full_outer")
    return m.agg(
        F.sum("__t").cast("long").alias("n_true"),
        F.sum("__p").cast("long").alias("n_pred"),
        F.sum(
            F.when(F.col("__t").isNotNull() & F.col("__p").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_hit"),
    ).select(
        "n_true",
        "n_pred",
        "n_hit",
        F.expr(
            "cast(floor(cast(n_hit as double)"
            " / nullif(cast(n_pred as double), 0.0) * 1000000 + 0.5)"
            " as double) / 1000000.0"
        ).alias("precision"),
        F.expr(
            "cast(floor(cast(n_hit as double)"
            " / nullif(cast(n_true as double), 0.0) * 1000000 + 0.5)"
            " as double) / 1000000.0"
        ).alias("recall"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_unchanged: bool = False,
) -> DataFrame:
    """Snapshot-to-snapshot corpus diff by content digest: which
    documents were ``added``, ``removed``, or ``changed`` between two
    versions of a corpus — the between-crawl bookkeeping a pipeline
    needs BEFORE re-running dedup/decontamination (process the delta,
    not the 100 TB), and the audit trail for "what moved" when a
    re-ingest shifts downstream metrics
    (:func:`~tundradb_spark.operators.analytics.distribution_drift`
    answers "did the distribution move"; this answers "which rows").

    Content identity is ``md5`` of the raw text — engine-portable
    lowercase hex in both Spark and DuckDB, so the oracle twin
    (:func:`corpus_diff_sql`) reproduces every digest byte-for-byte.
    NULL texts carry a NULL digest; presence is tracked by explicit
    flags (never digest-NULLness), and the change test is null-safe
    (``<=>``), so two NULL-text versions of a doc compare ``unchanged``
    while NULL→text and text→NULL are ``changed``.

    Precondition (documented, same as :func:`~tundradb_spark.pipeline.
    text.rrf_fuse`'s ranker frames): ``id_col`` is unique within each
    snapshot — corpus snapshots are keyed; a duplicated id would make
    the id join fan out.

    Plan / 100 TB shape: digests are computed IN the scan projection
    (JVM-side md5, no corpus-wide shuffle for hashing) and the only
    shuffle is ONE hash join on the id — with both snapshots bucketed
    by id this co-locates; AQE handles the skewless id key.  Emitting
    only the delta (``include_unchanged=False``, the default) keeps the
    output proportional to the CHANGE, not the corpus.

    Output: ``(id, status, old_digest, new_digest)`` with ``status IN
    ('added', 'removed', 'changed'[, 'unchanged'])``.
    """
    # ids are cast to STRING, not a numeric type: corpus snapshots are
    # keyed by URLs/content hashes as often as by integers, and a
    # numeric cast would silently NULL every such id (NULL ids never
    # match in the join → a 100%-wrong all-removed/all-added delta)
    o = old.select(
        F.col(id_col).cast("string").alias(id_col),
        F.md5(F.col(text_col).cast("string")).alias("old_digest"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(id_col).cast("string").alias(id_col),
        F.md5(F.col(text_col).cast("string")).alias("new_digest"),
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_digest").eqNullSafe(F.col("new_digest")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    out = j.select(id_col, status.alias("status"), "old_digest", "new_digest")
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out


def corpus_diff_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Status counts over the FULL :func:`corpus_diff` (unchanged rows
    included) — the one-line health check ("how big is this delta?")
    emitted before deciding whether the incremental path is worth it.
    One map-side-combined ``groupBy(status)`` over the diff; output
    ``(status, n_docs)``."""
    d = corpus_diff(
        old, new, id_col, text_col, include_unchanged=True
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def corpus_diff_sql(
    old_table: str,
    new_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_unchanged: bool = False,
    summary: bool = False,
) -> str:
    """DuckDB oracle reproducing :func:`corpus_diff` /
    :func:`corpus_diff_summary` exactly — same md5 digests, presence
    flags, null-safe change test (``IS NOT DISTINCT FROM``).
    ``old_table`` / ``new_table`` may be subqueries."""
    base = f"""
    WITH o AS (
        SELECT CAST({id_col} AS VARCHAR) AS {id_col},
               md5(CAST({text_col} AS VARCHAR)) AS old_digest,
               TRUE AS in_old
        FROM {old_table}
    ),
    n AS (
        SELECT CAST({id_col} AS VARCHAR) AS {id_col},
               md5(CAST({text_col} AS VARCHAR)) AS new_digest,
               TRUE AS in_new
        FROM {new_table}
    ),
    d AS (
        SELECT {id_col},
               CASE WHEN in_old IS NULL THEN 'added'
                    WHEN in_new IS NULL THEN 'removed'
                    WHEN old_digest IS NOT DISTINCT FROM new_digest
                        THEN 'unchanged'
                    ELSE 'changed' END AS status,
               old_digest, new_digest
        FROM o FULL OUTER JOIN n USING ({id_col})
    )"""
    if summary:
        return (
            base
            + "\n    SELECT status, CAST(count(*) AS BIGINT) AS n_docs"
            + " FROM d GROUP BY status"
        )
    where = "" if include_unchanged else " WHERE status != 'unchanged'"
    return base + f"\n    SELECT * FROM d{where}"


#: change-column dtype categories row_diff can render portably
#: (identical strings in Spark and DuckDB, probed r12):
#:   string/char/varchar        → as-is
#:   boolean                    → 'true'/'false' (both engines)
#:   tinyint..bigint            → decimal digits (both engines)
#:   decimal(p,s)               → plain fixed-scale text (both engines;
#:                                 BigDecimal vs DuckDB render proved
#:                                 byte-identical down to 1e-12)
#:   date                       → 'YYYY-MM-DD' (both engines)
#:   timestamp[_ntz]            → µs-since-epoch digits (unix_micros /
#:                                 epoch_us — identical integers)
#: float/double are REJECTED: Spark casts double→decimal through the
#: SHORTEST decimal representation with HALF-UP ties while DuckDB uses
#: the EXACT binary expansion with HALF-EVEN ties, so the rendered text
#: diverges (probed: 1.23456789e25 and the 13-dp tie 2^-13) — the
#: caller must pre-cast to an explicit decimal scale, which makes the
#: comparison tolerance THEIR documented decision and is portable for
#: |v| < 0.5·10^-s·2^53 (ulp/2 below half a final-digit step).
_ROW_DIFF_RENDERS = {
    "string": "str",
    "boolean": "str",
    "tinyint": "str",
    "smallint": "str",
    "int": "str",
    "integer": "str",
    "bigint": "str",
    "long": "str",
    "date": "str",
    "timestamp": "ts",
    "timestamp_ntz": "ts",
}


def _row_diff_render(df: DataFrame, col: str):
    """Portable per-column string rendering for :func:`row_diff` —
    raises on dtypes the two engines render differently (see
    ``_ROW_DIFF_RENDERS``)."""
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"row_diff: column {col!r} not in frame")
    kind = (
        "str" if dtype.startswith("decimal")
        else _ROW_DIFF_RENDERS.get(dtype)
    )
    if kind == "ts":
        return F.unix_micros(F.col(col).cast("timestamp")).cast("string")
    if kind == "str":
        return F.col(col).cast("string")
    hint = (
        " — cast it to an explicit decimal scale first (e.g."
        f" CAST({col} AS DECIMAL(18,6))); Spark and DuckDB render"
        " raw floats differently (shortest-repr half-up vs exact"
        " half-even)"
        if dtype in ("float", "double")
        else ""
    )
    raise ValueError(
        f"row_diff: unsupported change-column dtype {dtype!r} for"
        f" {col!r}{hint}"
    )


def row_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    cols: list[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """Schema-agnostic snapshot diff (:func:`corpus_diff` generalized
    beyond a text column): which rows were ``added``, ``removed``, or
    ``changed`` between two versions of ANY keyed table, with change
    detected over an explicit column list — the CDC primitive for the
    metadata tables a training pipeline tracks alongside its corpora
    (source catalogs, license registers, mixture configs).

    Row identity is ``md5`` over the concatenation of PER-COLUMN
    tokens: each listed column is rendered portably (see
    ``_ROW_DIFF_RENDERS`` — strings, integrals, booleans, decimals,
    dates as text; timestamps as µs-since-epoch; raw float/double
    REJECTED with a cast-to-decimal hint), hashed individually, and
    NULLs become the literal token ``'N'``.  Because every token is
    either 32 lowercase-hex chars or ``'N'`` (not a hex char), no
    value can shift bytes across a column boundary — the r11 separator
    scheme collided for values containing the separator byte, e.g.
    ``('a\\x1fb', 'c')`` vs ``('a', 'b\\x1fc')``; per-column digests
    make that impossible, and a literal string ``'N'`` hashes to
    32-hex so it can never collide with an actual NULL.  Renders are
    byte-identical in Spark and DuckDB, so the oracle twin
    (:func:`row_diff_sql`) reproduces every digest.  Ids are compared
    as strings (the :func:`corpus_diff` r11 lesson: numeric casts
    silently NULL non-numeric keys).

    Same presence-flag / null-safe machinery, plan shape (digests in
    the scan projection, ONE id hash join, delta-proportional output),
    and output layout as :func:`corpus_diff`: ``(id, status,
    old_digest, new_digest)``.
    """
    if not cols:
        raise ValueError("row_diff needs a non-empty column list")

    def _digest(df: DataFrame):
        parts = [
            F.coalesce(F.md5(_row_diff_render(df, c)), F.lit("N"))
            for c in cols
        ]
        return F.md5(F.concat(*parts))

    o = old.select(
        F.col(id_col).cast("string").alias(id_col),
        _digest(old).alias("old_digest"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(id_col).cast("string").alias(id_col),
        _digest(new).alias("new_digest"),
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_digest").eqNullSafe(F.col("new_digest")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    out = j.select(id_col, status.alias("status"), "old_digest", "new_digest")
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out


def row_diff_sql(
    old_table: str,
    new_table: str,
    id_col: str,
    cols: list[str],
    include_unchanged: bool = False,
    ts_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB oracle reproducing :func:`row_diff` exactly — same
    per-column md5 tokens (NULL → literal ``'N'``), outer digest, and
    statuses.  Every supported dtype except timestamps renders through
    ``CAST(col AS VARCHAR)`` (proved byte-identical to Spark's cast for
    strings/integrals/booleans/decimals/dates); list timestamp columns
    in ``ts_cols`` so they render as ``epoch_us`` digits, mirroring the
    Spark side's ``unix_micros``."""
    if not cols:
        raise ValueError("row_diff needs a non-empty column list")
    ts = set(ts_cols)

    def _digest() -> str:
        parts = []
        for c in cols:
            rendered = (
                f"CAST(epoch_us({c}) AS VARCHAR)" if c in ts
                else f"CAST({c} AS VARCHAR)"
            )
            parts.append(f"coalesce(md5({rendered}), 'N')")
        return f"md5(concat({', '.join(parts)}))"

    base = f"""
    WITH o AS (
        SELECT CAST({id_col} AS VARCHAR) AS {id_col},
               {_digest()} AS old_digest, TRUE AS in_old
        FROM {old_table}
    ),
    n AS (
        SELECT CAST({id_col} AS VARCHAR) AS {id_col},
               {_digest()} AS new_digest, TRUE AS in_new
        FROM {new_table}
    ),
    d AS (
        SELECT {id_col},
               CASE WHEN in_old IS NULL THEN 'added'
                    WHEN in_new IS NULL THEN 'removed'
                    WHEN old_digest IS NOT DISTINCT FROM new_digest
                        THEN 'unchanged'
                    ELSE 'changed' END AS status,
               old_digest, new_digest
        FROM o FULL OUTER JOIN n USING ({id_col})
    )"""
    where = "" if include_unchanged else " WHERE status != 'unchanged'"
    return base + f"\n    SELECT * FROM d{where}"
