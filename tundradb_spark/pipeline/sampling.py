"""Deterministic corpus sampling and document chunking — the two
bread-and-butter reshaping steps of a training-data pipeline.

Both are pure narrow projections/explodes over built-in functions: no
shuffle, no RNG state, no driver involvement — a row's fate depends only on
its own content, so any engine (and any rerun, at any parallelism)
reproduces the sample and the chunks exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tundradb_spark.pipeline.hashing import h32
from tundradb_spark.pipeline.text import tokens
from tundradb_spark.session import materialize


def sample_hash_col(id_col: str = "doc_id", seed: int = 97) -> Column:
    """Uniform [0, 10000) bucket from md5(seed || id) — the deterministic
    coin every sampling decision flips."""
    return h32(F.concat(F.lit(str(seed) + ":"), F.col(id_col).cast("string"))) % 10000


def deterministic_sample(
    docs: DataFrame,
    keep_bp: int,
    id_col: str = "doc_id",
    seed: int = 97,
) -> DataFrame:
    """Keep a deterministic ``keep_bp``/10000 fraction (basis points) of
    rows: a row survives iff its content-derived hash bucket falls below
    the threshold.  Unlike ``df.sample``, the result is stable across
    reruns, partitionings, and engines — the property a reproducible
    training mixture needs — and the predicate pushes to the scan."""
    if not 0 <= keep_bp <= 10000:
        raise ValueError(f"keep_bp must be in [0, 10000], got {keep_bp}")
    return docs.filter(sample_hash_col(id_col, seed) < keep_bp)


def stratified_sample(
    docs: DataFrame,
    keep_bp_by: dict[str, int],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 97,
    default_bp: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the language/source-rebalancing
    step of a data mixture: each stratum keeps its own basis-point
    fraction (strata absent from the map keep ``default_bp``)."""
    for v in list(keep_bp_by.values()) + [default_bp]:
        if not 0 <= v <= 10000:
            raise ValueError(f"basis points must be in [0, 10000], got {v}")
    threshold = F.lit(default_bp)
    for stratum, bp in sorted(keep_bp_by.items()):
        threshold = F.when(
            F.col(stratum_col) == stratum, F.lit(bp)
        ).otherwise(threshold)
    return docs.filter(sample_hash_col(id_col, seed) < threshold)


def pack_chunks(
    chunks: DataFrame,
    seq_tokens: int = 1024,
    n_shards: int = 32,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    tok_col: str = "n_chunk_tokens",
) -> DataFrame:
    """Sequence packing — assign token chunks to fixed-budget training
    sequences (the concat-and-split packing every LM pre-training pipeline
    runs between chunking and tokenizer output).

    Semantics: within a shard, chunks are laid end-to-end in deterministic
    ``(doc_id, chunk_idx)`` order; a chunk belongs to the sequence where its
    START offset falls: ``seq_idx = floor(start / seq_tokens)``.  Sequences
    are therefore ≥ ``seq_tokens`` long (the boundary chunk spills past the
    budget rather than splitting — callers that need hard budgets chunk at a
    divisor of ``seq_tokens``).

    Scale: a GLOBAL running sum would serialize the corpus through one task,
    so packing is sharded by a content hash of ``doc_id`` — each shard packs
    independently (sequences never need to span shards), giving
    ``n_shards``-way parallelism with a single hash-partition shuffle and a
    per-shard sort.  Set ``n_shards`` to the cluster's parallelism; the
    hash keeps shard sizes uniform.

    Output: chunks + ``(shard, seq_idx, seq_pos)`` where ``seq_pos`` is the
    chunk's rank within its sequence.  Deterministic on any engine — the
    SQL-oracle window reproduces it exactly.
    """
    from pyspark.sql import Window

    if seq_tokens < 1:
        raise ValueError(f"seq_tokens must be >= 1, got {seq_tokens}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    sharded = chunks.withColumn(
        "shard", (h32(F.col(id_col).cast("string")) % n_shards).cast("long")
    )
    w = Window.partitionBy("shard").orderBy(id_col, idx_col)
    start = F.sum(tok_col).over(w) - F.col(tok_col)
    with_seq = sharded.withColumn(
        "seq_idx", F.floor(start / F.lit(seq_tokens)).cast("long")
    )
    w_seq = Window.partitionBy("shard", "seq_idx").orderBy(id_col, idx_col)
    return with_seq.withColumn(
        "seq_pos", (F.row_number().over(w_seq) - 1).cast("long")
    )


def pack_summary(packed: DataFrame, tok_col: str = "n_chunk_tokens") -> DataFrame:
    """Per-sequence roll-up of :func:`pack_chunks`: chunk count, total
    tokens, and the contributing doc-id span — the manifest a training
    loader reads."""
    return packed.groupBy("shard", "seq_idx").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(tok_col).alias("n_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _with_tok_count(
    docs: DataFrame, tok_col: str | None, text_col: str
) -> tuple[DataFrame, str]:
    if tok_col is not None:
        return docs, tok_col
    return (
        docs.withColumn("__nt", F.size(tokens(F.col(text_col)))),
        "__nt",
    )


def mixture_budget_sample(
    docs: DataFrame,
    budget_by: dict[str, int],
    stratum_col: str = "source",
    tok_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 97,
) -> DataFrame:
    """EXACT token-budget mixture: per stratum, keep highest-priority
    documents until the stratum's token budget fills (the last kept doc may
    spill past it).  Priority is the deterministic content-hash coin, so the
    kept set is reproducible on any engine/partitioning — the property a
    published data-mixture recipe needs.

    Plan: one hash-partition shuffle on the stratum + a per-stratum
    window sort.  A stratum sorts within ONE task, so this is the
    small-strata path (≤ ~10M docs per stratum); for web-scale strata use
    :func:`mixture_threshold_sample`, which needs no window at all.
    Strata absent from ``budget_by`` are dropped (budget 0)."""
    from pyspark.sql import Window

    for k, v in budget_by.items():
        if v < 0:
            raise ValueError(f"budget for {k!r} must be >= 0, got {v}")
    base, tc = _with_tok_count(docs, tok_col, text_col)
    budget = F.lit(None).cast("long")
    for stratum, b in sorted(budget_by.items()):
        budget = F.when(F.col(stratum_col) == stratum, F.lit(b)).otherwise(budget)
    pri = sample_hash_col(id_col, seed)
    w = Window.partitionBy(stratum_col).orderBy(pri.asc(), F.col(id_col).asc())
    start = F.sum(tc).over(w) - F.col(tc)
    return (
        base.withColumn("__budget", budget)
        .filter(F.col("__budget").isNotNull())
        .withColumn("__start", start)
        .filter(F.col("__start") < F.col("__budget"))
        .drop("__budget", "__start", "__nt")
    )


def mixture_threshold_sample(
    docs: DataFrame,
    budget_by: dict[str, int],
    stratum_col: str = "source",
    tok_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 97,
) -> DataFrame:
    """APPROXIMATE token-budget mixture — the 100 TB path: instead of a
    per-stratum sorted window, compute each stratum's total token count
    (one map-side-combined groupBy), convert the budget to a keep fraction
    in basis points, and keep via the deterministic hash coin.  Expected
    kept tokens ≈ budget with no per-stratum sort and no skew trap; the
    kept set is still fully deterministic given (corpus, budgets, seed).
    Strata absent from ``budget_by`` are dropped."""
    for k, v in budget_by.items():
        if v < 0:
            raise ValueError(f"budget for {k!r} must be >= 0, got {v}")
    base, tc = _with_tok_count(docs, tok_col, text_col)
    totals = base.groupBy(stratum_col).agg(F.sum(tc).alias("__total"))
    bp = F.lit(None).cast("long")
    for stratum, b in sorted(budget_by.items()):
        bp = F.when(F.col(stratum_col) == stratum, F.lit(b)).otherwise(bp)
    # Spark's least() SKIPS nulls (it returns the smallest NON-null), so an
    # unbudgeted stratum must be dropped BEFORE the clamp — least(10000,
    # NULL) would otherwise resurrect it with a full keep fraction
    keep_bp = F.least(
        F.lit(10000),
        F.floor(
            F.col("__rawbp").cast("double")
            * 10000.0
            / F.col("__total").cast("double")
        ),
    )
    return (
        base.join(F.broadcast(totals), stratum_col)
        .withColumn("__rawbp", bp)
        .filter(F.col("__rawbp").isNotNull())
        .withColumn("__bp", keep_bp)
        .filter(sample_hash_col(id_col, seed) < F.col("__bp"))
        .drop("__total", "__rawbp", "__bp", "__nt")
    )


def chunk_docs(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-token-count chunks with optional overlap
    — the sequence-preparation step before tokenizer packing.

    Output: ``(doc_id, chunk_idx, n_chunk_tokens, chunk)`` — one row per
    chunk, chunk text re-joined with single spaces (whitespace-normalized,
    matching :func:`tokens`).  JVM-side only: ``sequence`` of start
    offsets → ``explode`` → ``slice`` + ``array_join``; empty docs emit no
    chunks.  At 100 TB this is the shape that parallelizes per document
    with zero shuffle.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    step = chunk_tokens - overlap
    toks = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        tokens(F.col(text_col)).alias("__t"),
    ).filter(F.size("__t") > 0)
    starts = f"sequence(1, size(__t), {step})"
    return toks.select(
        id_col,
        "__t",
        F.posexplode(F.expr(starts)).alias("chunk_idx", "__start"),
    ).select(
        id_col,
        "chunk_idx",
        F.expr(f"size(slice(__t, __start, {chunk_tokens}))").alias(
            "n_chunk_tokens"
        ),
        F.expr(f"array_join(slice(__t, __start, {chunk_tokens}), ' ')").alias(
            "chunk"
        ),
    )


def shuffle_shards(
    docs: DataFrame,
    n_shards: int = 1024,
    id_col: str = "doc_id",
    seed: int = 131,
) -> DataFrame:
    """Deterministic global shuffle for training export: assign every row a
    ``shard`` and a within-shard ``sort_key``, both content-hash-derived —
    ``ORDER BY (shard, sort_key)`` is a full uniform permutation of the
    corpus that is IDENTICAL on any engine, any partitioning, any rerun
    (unlike ``df.orderBy(rand())``, whose seed is per-partition and whose
    result moves under repartitioning).

    Scale: no global sort is ever materialized — consumers
    ``repartition('shard')`` + ``sortWithinPartitions`` (exactly what
    :func:`write_shards` does), so the cost is one hash-partition shuffle
    and an in-partition sort, the minimum any permutation needs.  Changing
    ``seed`` reshuffles epochs without rewriting data.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    h = h32(key)
    return docs.withColumn(
        "shard", (h % n_shards).cast("long")
    ).withColumn(
        # independent second hash: shard uses h mod, order uses a fresh
        # md5 over a distinct salt so within-shard order is uncorrelated
        # with shard assignment
        "sort_key",
        h32(F.concat(F.lit(f"{seed}:order:"), F.col(id_col).cast("string"))),
    )


def shard_summary(sharded: DataFrame, size_col: str = "n_chars") -> DataFrame:
    """Per-shard balance manifest for :func:`shuffle_shards`: row count and
    total payload — the skew check a 1000-executor export reads before
    writing (uniform hash → shard sizes concentrate tightly around
    corpus/n_shards)."""
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(size_col).alias("total_size"),
        F.min("sort_key").alias("min_sort_key"),
        F.max("sort_key").alias("max_sort_key"),
    )


def write_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 1024,
    id_col: str = "doc_id",
    seed: int = 131,
) -> None:
    """Export the deterministic shuffle as ``path/shard=N/`` parquet: one
    hash-partition shuffle, per-shard ascending ``sort_key`` order (the
    order a sequential training reader consumes).  Re-running with the
    same seed reproduces byte-identical shard membership and order."""
    sharded = shuffle_shards(docs, n_shards, id_col, seed)
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "sort_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def weighted_sample_topk(
    docs: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 7,
    keep_raw: bool = False,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: keep exactly
    ``k`` rows with inclusion probability proportional to ``weight_col``
    (Efraimidis & Spirakis 2006 A-ES): each row draws a content-hash
    uniform ``u ∈ (0, 1]`` and the top-k by priority ``u^(1/w)`` are the
    sample — the quality-weighted corpus subsetting step (weight = quality
    score, token count, dup-cluster size…).

    Distributed shape: the priority is a narrow per-row expression and
    top-k compiles to TakeOrderedAndProject (per-partition heaps + one
    k-row merge — no global sort), so the operator scales like
    :func:`deterministic_sample` plus one bounded reduction.

    Determinism: ``u`` is exact ((h32+1)/2^32 — a power-of-two division),
    so the sample is partition- and rerun-stable.  Cross-ENGINE caveat:
    ``pow`` differs by 1 ulp between the JVM and libm on ~1% of rows
    (measured), so the reported priority is rounded to 6dp and boundary
    membership carries a ~1e-16-scale knife-edge — the same accepted
    class as PPR's 3dp rounding.  Weights must be > 0 (rows with
    non-positive weight are dropped, matching "probability 0").

    Output: ``id_col, weight, priority`` — the k sampled rows, priority
    descending.  ``keep_raw=True`` additionally keeps the UNROUNDED
    priority as ``raw_priority`` — required when downstream re-selects
    among samples (the streaming reservoir merge): re-ranking by the
    6dp-rounded value could flip a boundary member on a rounded tie.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = F.col(weight_col).cast("double")
    u = (
        h32(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))) + 1
    ).cast("double") / F.lit(float(1 << 32))
    pri = F.pow(u, F.lit(1.0) / w)
    out = (
        docs.filter(w > 0)
        .select(
            F.col(id_col),
            w.alias("weight"),
            F.round(pri, 6).alias("priority"),
            pri.alias("raw_priority"),
        )
        .orderBy(F.desc("raw_priority"), F.asc(id_col))
        .limit(k)
    )
    return out if keep_raw else out.drop("raw_priority")


def cap_per_key(
    docs: DataFrame,
    key_cols: list[str],
    n: int,
    order_by: list | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-key quota cap: keep at most ``n`` rows per key, chosen by a
    DETERMINISTIC preference order — the per-domain/per-source cap every
    web-scale corpus applies so one prolific host cannot dominate the
    mixture (the CCNet/C4 "per-domain quota" step).

    ``order_by``: list of Columns ranking rows within a key (best first);
    defaults to ``id_col`` ascending.  ``id_col`` ascending is always
    appended as the final tiebreak so equal-ranked rows resolve
    identically on any engine/partitioning.

    Plan shape: ONE hash shuffle on the key + a per-key row_number — no
    global sort; with millions of domains the window parallelizes on the
    key like any grouped aggregate.  Skew note: a single monster key
    serializes its own partition — cap such keys upstream with a coarse
    deterministic_sample if one host is a double-digit corpus fraction.
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    order = list(order_by or []) + [F.col(id_col).asc()]
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*order)
    return (
        docs.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= n)
        .drop("__rank")
    )


def split_corpus(
    docs: DataFrame,
    splits: dict[str, int],
    id_col: str = "doc_id",
    seed: int = 97,
) -> DataFrame:
    """Deterministic disjoint corpus split — the train/validation/test
    assignment step: each row gets exactly one split label from its
    content-hash coin, so the SAME document lands in the SAME split on
    any engine, partitioning, or rerun (and documents can never leak
    between splits across reruns — the property ``df.randomSplit``
    cannot give you).

    ``splits``: label → basis points (must sum to exactly 10000; order
    of assignment is label-sorted so the mapping is unambiguous).  Adds a
    ``split`` column; filter on it for each side.  Pure narrow
    projection — no shuffle, pushes to the scan like every hash-coin
    sampler here.
    """
    total = sum(splits.values())
    if total != 10000:
        raise ValueError(
            f"split basis points must sum to 10000, got {total}: {splits}"
        )
    if any(bp < 0 for bp in splits.values()):
        raise ValueError(f"split basis points must be >= 0: {splits}")
    coin = sample_hash_col(id_col, seed)
    return docs.withColumn("split", _split_label_expr(coin, splits))


def _split_label_expr(coin: Column, splits: dict[str, int]) -> Column:
    """The label-sorted basis-point CASE ladder shared by
    :func:`split_corpus` and :func:`leakage_safe_split`."""
    expr = None
    lo = 0
    for label, bp in sorted(splits.items()):
        hi = lo + bp
        cond = (coin >= F.lit(lo)) & (coin < F.lit(hi))
        expr = (
            F.when(cond, F.lit(label))
            if expr is None
            else expr.when(cond, F.lit(label))
        )
        lo = hi
    return expr


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    splits: dict[str, int],
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    seed: int = 97,
    max_iters: int = 50,
) -> DataFrame:
    """Train/val/test split that near-duplicates can never straddle:
    :func:`split_corpus` flips its hash coin on the DUP-CLUSTER key
    instead of the document id, so every member of a duplicate cluster
    lands in the SAME split — the leakage guard a benchmark-grade
    pipeline needs (a near-copy of a validation document inside train
    is contamination :mod:`~tundradb_spark.pipeline.decontaminate`
    can't see, because it entered through the split, not the benchmark).

    ``pairs`` is any duplicate-pair frame (MinHash-LSH, SimHash,
    embedding pairs — the :mod:`dedup` miners' common output shape);
    connected components over it assign each doc its cluster's MIN id
    as ``split_key``; docs in no pair key on themselves, so
    non-duplicates get EXACTLY the :func:`split_corpus` assignment
    (same seed → only cluster members ever move).

    Plan / 100 TB shape: the component propagation is pair-graph-sized
    (duplicate pairs, not the corpus); the corpus pays ONE left hash
    join on the id plus a narrow hash-coin projection.  Deterministic
    end-to-end — same engine-portable md5 coin as every sampler here.

    ``split_key`` is the STRING render of the cluster key (r13, ADVICE
    fix): the previous ``cast(... as long)`` silently NULLed the key —
    and therefore the whole split assignment — for non-numeric string
    doc ids, and collapsed distinct ids like ``'007'`` and ``'7'`` onto
    one coin.  Keying on the string keeps singleton coins byte-equal to
    :func:`split_corpus`'s ``sample_hash_col`` for EVERY id type.

    Output: docs columns + ``split_key`` (string) + ``split``.
    """
    total = sum(splits.values())
    if total != 10000:
        raise ValueError(
            f"split basis points must sum to 10000, got {total}: {splits}"
        )
    if any(bp < 0 for bp in splits.values()):
        raise ValueError(f"split basis points must be >= 0: {splits}")
    from tundradb_spark.graphs.algorithms import connected_components

    cc = connected_components(pairs, src, dst, max_iters=max_iters).select(
        F.col("vertex").alias("__v"), F.col("component").alias("__comp")
    )
    keyed = docs.join(
        cc, docs[id_col] == cc["__v"], "left"
    ).select(
        *[docs[c] for c in docs.columns],
        F.coalesce(
            F.col("__comp").cast("string"), docs[id_col].cast("string")
        ).alias("split_key"),
    )
    coin = h32(F.concat(F.lit(f"{seed}:"), F.col("split_key"))) % 10000
    return keyed.withColumn("split", _split_label_expr(coin, splits))


def cdc_chunks(
    docs: DataFrame,
    k: int = 8,
    boundary_bits: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (rolling-hash boundaries, the
    FastCDC/rsync family): split each document at positions where the
    hash of the trailing ``k``-gram lands in a ``1/2^boundary_bits``
    bucket, so chunk boundaries depend on CONTENT, not offsets — insert
    one sentence at the top of a document and every later chunk digest
    still matches, which fixed-offset chunking can never do.  Block-level
    dedup over ``chunk_md5`` therefore catches shared spans across
    documents that whole-doc hashing misses (complements
    ``dedup.strip_duplicate_segments``, whose unit is token windows).

    Semantics (engine-reproducible, pinned by the SQL oracle): position
    ``p`` (1-based, ``k <= p < n_chars``) is a boundary iff
    ``h32(substr(text, p-k+1, k)) % 2^boundary_bits == 0``; chunks run
    from the previous boundary+1 (or 1) through the boundary (or the
    document end).  Expected chunk length ≈ ``2^boundary_bits`` chars.

    Plan shape: the boundary-position array is ONE per-row
    ``filter(sequence(...))`` lambda — whole-stage codegen, no explode of
    per-character rows, no shuffle at all; the only row expansion is the
    final per-chunk ``posexplode``.  At 100 TB this parallelizes per
    document with zero data movement.

    Output: ``(id_col, chunk_idx, start_pos, chunk_len, chunk_md5)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 1 <= boundary_bits <= 20:
        raise ValueError(
            f"boundary_bits must be in [1, 20], got {boundary_bits}"
        )
    b = 1 << boundary_bits
    bpos = (
        f"CASE WHEN length({text_col}) > {k} THEN"
        f" filter(sequence({k}, length({text_col}) - 1),"
        f"  p -> cast(conv(substring(md5(substring({text_col},"
        f" p - {k} + 1, {k})), 1, 8), 16, 10) as bigint) % {b} = 0)"
        f" ELSE array() END"
    )
    staged = docs.filter(F.length(text_col) > 0).select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(text_col).alias("__text"),
        F.expr(bpos).alias("__bpos"),
        F.length(text_col).alias("__n"),
    )
    spans = staged.select(
        id_col,
        "__text",
        F.expr("concat(array(1), transform(__bpos, p -> p + 1))").alias(
            "__starts"
        ),
        F.expr("concat(__bpos, array(__n))").alias("__ends"),
    )
    return spans.select(
        id_col,
        F.posexplode(F.arrays_zip("__starts", "__ends")).alias("__i", "__se"),
        "__text",
    ).select(
        id_col,
        (F.col("__i") + 1).cast("long").alias("chunk_idx"),
        F.col("__se.__starts").cast("long").alias("start_pos"),
        (F.col("__se.__ends") - F.col("__se.__starts") + 1)
        .cast("long")
        .alias("chunk_len"),
        F.md5(
            F.expr("substring(__text, __se.__starts,"
                   " __se.__ends - __se.__starts + 1)")
        ).alias("chunk_md5"),
    )


def temperature_mixture(
    docs: DataFrame,
    alpha: float = 0.5,
    total_tokens: int = 1_000_000,
    stratum_col: str = "source",
    tok_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 97,
) -> DataFrame:
    """Temperature-scaled domain rebalancing (the multilingual-pretraining
    standard: sample domain d with probability ∝ p_d^alpha, where p_d is
    d's token share) — alpha=1 keeps natural proportions, alpha→0
    approaches uniform-per-domain, the usual range is 0.3-0.7 to keep
    head domains from drowning the tail.

    Given the target ``total_tokens``, each domain's budget is
    ``q_d * total_tokens`` with ``q_d = p_d^alpha / Σ_e p_e^alpha``; the
    keep fraction ``min(1, budget_d / tokens_d)`` is applied via the
    deterministic content-hash coin in basis points — fully reproducible
    on any engine/partitioning, like the other mixture samplers.

    Plan: one map-side-combined ``groupBy(stratum)`` token sum (the only
    corpus-sized work), the share/temperature algebra over the
    DOMAIN-sized totals frame (global-window over tens of rows), one
    broadcast join back, one hash-coin filter.  No sort, no skew trap —
    the 100 TB path by construction.

    Output: the kept documents with ``kept_bp`` (the domain's keep
    fraction in basis points) attached.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if total_tokens < 0:
        raise ValueError(f"total_tokens must be >= 0, got {total_tokens}")
    from pyspark.sql import Window

    base, tc = _with_tok_count(docs, tok_col, text_col)
    totals = base.groupBy(stratum_col).agg(F.sum(tc).alias("__tok"))
    every = Window.partitionBy()  # domain-sized frame: tens of rows
    share = (
        F.col("__tok").cast("double")
        / F.sum("__tok").over(every).cast("double")
    )
    # alpha=0.5 (the most common setting) routes through sqrt, which IS
    # IEEE-correctly-rounded on every engine; pow(x, 0.5) carries a 1-ulp
    # tolerance that could flip a keep-fraction floor across engines
    weight = (
        F.sqrt(share) if alpha == 0.5 else F.pow(share, F.lit(float(alpha)))
    )
    weighted = totals.withColumn("__w", weight)
    kept_bp = F.least(
        F.lit(10000),
        F.floor(
            F.col("__w")
            / F.sum("__w").over(every)
            * F.lit(float(total_tokens))
            / F.col("__tok").cast("double")
            * 10000.0
        ),
    ).cast("long")
    plan = weighted.withColumn("kept_bp", kept_bp).select(
        stratum_col, "kept_bp"
    )
    return (
        base.join(F.broadcast(plan), stratum_col)
        .filter(sample_hash_col(id_col, seed) < F.col("kept_bp"))
        .drop("__nt")
    )


def split_leakage(
    docs: DataFrame,
    pairs: DataFrame,
    split_col: str = "split",
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """The AUDIT twin of :func:`leakage_safe_split`: given an EXISTING
    split assignment (any provenance — ``split_corpus``, an upstream
    system, a hand-made holdout) and a duplicate-pair frame, return
    every pair whose endpoints landed in DIFFERENT splits — the exact
    contamination channel :func:`leakage_safe_split` closes by
    construction, measurable here for splits it did not make.

    Endpoints missing from ``docs`` (or with a NULL split) cannot be
    judged and are excluded (inner joins); a NULL-split doc that IS a
    leak risk should be caught by the caller's completeness checks, not
    silently counted as a violation.

    Plan / 100 TB shape: two hash joins of the PAIR graph against the
    two-column ``(id, split)`` projection — pair-graph-sized, the
    corpus is never shuffled beyond that narrow projection.

    Output: ``(id_a, id_b, split_a, split_b)``, violations only.
    """
    # the two endpoint joins below both consume this corpus-sized
    # projection, and the split coin / scan would otherwise run twice
    # (column pruning makes the subtrees non-canonical-equal, so
    # exchange reuse never fires) — materialize the 2-column rows once
    # (r14 optimization round: q_split_leakage best 1.86 -> 1.42 s at
    # sf0.1, outputs identical; same narrow-projection checkpoint
    # discipline as the shared scoring passes)
    s = materialize(docs.select(
        F.col(id_col).alias("__id"), F.col(split_col).alias("__sp")
    ).filter(F.col("__sp").isNotNull()), eager=False)
    a = s.select(F.col("__id").alias("__ia"), F.col("__sp").alias("split_a"))
    b = s.select(F.col("__id").alias("__ib"), F.col("__sp").alias("split_b"))
    return (
        pairs.select(F.col(src).alias("id_a"), F.col(dst).alias("id_b"))
        .join(a, F.col("id_a") == F.col("__ia"))
        .join(b, F.col("id_b") == F.col("__ib"))
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b")
    )


def split_leakage_summary(
    docs: DataFrame,
    pairs: DataFrame,
    split_col: str = "split",
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Violation counts per ``(split_a, split_b)`` ordered channel —
    the one-screen read of :func:`split_leakage` (the train→val cell is
    the contamination number a benchmark report quotes)."""
    return (
        split_leakage(docs, pairs, split_col, id_col, src, dst)
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
