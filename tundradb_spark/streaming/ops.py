"""Structured Streaming operators (capability extension — the reference has
no streaming, SURVEY.md §2.12).

Everything here is plain ``readStream``-shaped DataFrame logic: watermarks
bound state, windows aggregate with partial (map-side) combine, and the one
genuinely custom stateful operator (sessionization) uses
``applyInPandasWithState`` with an explicit timeout — the Spark-native way
to express reference-less semantics.

Every ``foreachBatch`` operator starts through :func:`_foreach_batch`, and
every per-epoch state table is written by :func:`_write_epoch`, whose
docstring states the replay rule they all rely on.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING, Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tundradb_spark.session import materialize

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

    from tundradb_spark.database import Database


#: compact (materialize) the target table every N micro-batches so plan
#: depth stays bounded over an unbounded stream (round-1 ADVICE: each batch
#: layers one union + zipWithIndex conversion on the frame's lineage)
DEFAULT_COMPACT_EVERY = 16

#: the partition column of every per-epoch state table, and the epoch that
#: :func:`compact_stream_index` folds a table's rows into
_EPOCH = "epoch"
_COMPACTED_EPOCH = -1


def _foreach_batch(
    stream: DataFrame,
    checkpoint: str,
    name: str,
    sink: Callable[[DataFrame, int], None],
) -> "StreamingQuery":
    """Start ``stream`` as query ``name`` that calls ``sink(batch, epoch)``
    for each non-empty micro-batch, with its progress in ``checkpoint``."""

    def _nonempty(batch: DataFrame, epoch: int) -> None:
        if not batch.isEmpty():
            sink(batch, epoch)

    return (
        stream.writeStream.foreachBatch(_nonempty)
        .option("checkpointLocation", checkpoint)
        .queryName(name)
        .start()
    )


def _write_epoch(
    df: DataFrame, epoch: int, path: str, parts: tuple[str, ...] = (_EPOCH,)
) -> None:
    """Write micro-batch ``epoch``'s rows into the state table at ``path``,
    partitioned by ``parts`` (which include ``epoch``): the one writer of
    every streaming state table.

    ``foreachBatch`` is at-least-once: after a failure Spark runs an epoch
    again from its checkpointed offsets and recomputes the same rows.  Each
    row is stamped with its epoch and written with dynamic partition
    overwrite, so a replay replaces its own ``epoch=E`` partitions instead
    of appending to them, and the table holds one copy of each epoch.
    Readers merge all epochs (max, sum or distinct per table)."""
    (
        df.withColumn(_EPOCH, F.lit(epoch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .parquet(path)
    )


def stream_nodes(
    db: "Database",
    schema: str,
    stream: DataFrame,
    checkpoint: str,
    query_name: str | None = None,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> "StreamingQuery":
    """Continuously ingest a node stream into a Database table.

    ``foreachBatch`` gives per-micro-batch atomic appends with
    engine-assigned contiguous per-schema IDs (``bulk_insert`` uses a
    per-partition zipWithIndex — no global shuffle per batch). Every
    ``compact_every`` batches the table lineage is truncated via
    ``Database.compact`` so planning cost stays O(1) per batch."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        db.bulk_insert(schema, batch)
        if compact_every and (epoch + 1) % compact_every == 0:
            db.compact(node=schema)

    return _foreach_batch(stream, checkpoint, query_name or f"nodes-{schema}", _sink)


def stream_edges(
    db: "Database",
    etype: str,
    stream: DataFrame,
    checkpoint: str,
    query_name: str | None = None,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> "StreamingQuery":
    """Continuously ingest an edge stream (``source_id, target_id`` +
    props) into an edge table via ``foreachBatch`` + ``bulk_connect``,
    with the same periodic lineage compaction as :func:`stream_nodes`."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        db.bulk_connect(etype, batch)
        if compact_every and (epoch + 1) % compact_every == 0:
            db.compact(edge=etype)

    return _foreach_batch(stream, checkpoint, query_name or f"edges-{etype}", _sink)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked (sliding) window aggregation over an event stream with
    the driver's ``events`` table shape.

    The watermark bounds state: windows older than max(event time) −
    watermark are finalized and dropped, so state size is O(active windows),
    not O(stream length). Aggregation is partially combined map-side before
    the keyed shuffle."""
    w = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col(key_col),
            "n_events",
            "total_value",
            "approx_users",
        )
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "12 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Event-time gap sessionization via Spark's native ``session_window``
    (capability extension — SURVEY.md §2.12; the reference has no streaming
    or session semantics).

    Two events of one user share a session iff their gap is <= ``gap``
    (session_window merges windows sharing a boundary — an event exactly
    ``gap`` after the last still joins; empirically probed, and pinned by
    tests/test_properties.py);
    the engine's SessionWindow exec merges as it aggregates — one shuffle
    on ``user_col``, partial map-side combine, no self-join or window-lag
    pass over the full stream.  The SAME expression runs over a batch
    DataFrame (everything sessionized, nothing withheld) and over a
    ``readStream`` source (add ``withWatermark`` upstream; sessions emit
    once the watermark passes their close — state is bounded by open
    sessions only).

    Output: one row per (user, session) with the actual first/last event
    times (µs since epoch — engine-portable longs, not the padded
    ``session_window.end = last + gap``), event count, and the session's
    value total rounded to 6.
    """
    sw = F.session_window(F.col(ts_col), gap)
    return (
        events.groupBy(F.col(user_col), sw)
        .agg(
            F.min(ts_col).alias("__first"),
            F.max(ts_col).alias("__last"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("total_value"),
        )
        .select(
            F.col(user_col),
            F.unix_micros("__first").alias("session_start_us"),
            F.unix_micros("__last").alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("status", StringType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("last_ms", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


#: processing-time gap after which an idle session closes
DEFAULT_SESSION_GAP_MS = 10_000


def _make_session_fn(gap_ms: int):
    """Closure-captured gap so the setting travels to executor workers."""

    def _session_fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # per-user session accumulator: extends the open session with each
        # batch; on processing-time timeout, emits the closed session
        (user_id,) = key
        if state.hasTimedOut:
            start_ms, last_ms, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "session_end": [pd.Timestamp(last_ms, unit="ms")],
                    "n_events": [n],
                    "total_value": [total],
                    "status": ["closed"],
                }
            )
            return

        start_ms = last_ms = None
        n = 0
        total = 0.0
        if state.exists:
            start_ms, last_ms, n, total = state.get
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts_ms = pdf["ts"].astype("int64") // 1_000_000
            lo, hi = int(ts_ms.min()), int(ts_ms.max())
            start_ms = lo if start_ms is None else min(start_ms, lo)
            last_ms = hi if last_ms is None else max(last_ms, hi)
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((start_ms, last_ms, n, total))
        state.setTimeoutDuration(gap_ms)  # close after a silent gap
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_ms, unit="ms")],
                "session_end": [pd.Timestamp(last_ms, unit="ms")],
                "n_events": [n],
                "total_value": [total],
                "status": ["open"],
            }
        )

    return _session_fn


def sessionize(events: DataFrame, gap_ms: int = DEFAULT_SESSION_GAP_MS) -> DataFrame:
    """Custom stateful operator: per-user session windows with a
    processing-time gap timeout, via ``applyInPandasWithState`` (Arrow-batched;
    state is a compact 4-field tuple per user — bounded, shuffled once on
    user_id).

    Note: pending timeouts make the engine schedule periodic empty batches,
    so ``processAllAvailable()`` does not quiesce while sessions are open —
    poll the sink instead (see tests)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(gap_ms),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermark-bounded exact dedup: state for a key is dropped once the
    watermark passes it, so memory is bounded while duplicates within the
    late-data horizon are still caught — the streaming face of
    ``pipeline.dedup.exact_dedup``."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(keys + [ts_col])


def stream_index_vectors(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    dim: int | None = None,
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain a cell-partitioned ANN index
    (pipeline.similarity.index_corpus layout) from a vector stream.

    Each micro-batch is IVF-assigned and appended into the SAME
    ``partitionBy('cell')`` directory tree the batch writer produces, so
    :func:`pipeline.similarity.ivf_ann_topk_indexed` probes a live,
    growing index with unchanged file pruning — arriving vectors are
    probe-visible at the next batch boundary.  The quantizer must be fixed
    (seeded or trained-then-frozen): assignment is append-only, nothing is
    re-clustered.  ``dim`` is required here (a streaming frame cannot be
    probed for it).

    The table is partitioned ``(cell, epoch)`` (:func:`_write_epoch`), so
    a replayed epoch never double-counts a vector.  Probes filter on
    ``cell`` only, so the extra ``epoch`` partition level changes neither
    results nor cell-level file pruning.  Many small per-epoch files fold
    into one file set per cell with :func:`compact_stream_index`.
    """
    if dim is None:
        raise ValueError("stream_index_vectors requires dim= (no probing a stream)")
    from tundradb_spark.pipeline.similarity import ivf_assign

    def _sink(batch: DataFrame, epoch: int) -> None:
        assigned = ivf_assign(
            batch, n_cells, vec_col, id_col, seed, dim=dim
        )
        _write_epoch(assigned, epoch, path, ("cell", _EPOCH))

    return _foreach_batch(stream, checkpoint, query_name or "vector-index", _sink)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a bounded event-time band.

    Joins two live streams on ``on`` where the right event lands within
    ``[left_ts, left_ts + within]`` — the streaming face of
    ``operators.relational.range_join``.  Both inputs are watermarked and
    the time-band condition bounds the join STATE on both sides: a buffered
    left row is dropped once the watermark passes ``left_ts + within``, a
    right row once it can no longer land in any live band — without the
    band (or with an unbounded ``how='left'`` missing a time bound) state
    grows with the stream, which Spark rejects at analysis time; this
    helper makes the bound mandatory so the operator is always
    cluster-safe.

    Column collisions: the right side contributes ``on``/``right_ts`` plus
    its payload; alias payload columns distinctly upstream.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    joined = lw.join(rw, cond, how)
    return joined.drop(rw[on])


def calibrated_gate_threshold(
    spark,
    path: str,
    target_precision: float,
    n_bins: int = 10,
) -> float:
    """The streaming pipeline's THRESHOLD SOURCE (r14, r13 verdict
    item 2): read the live calibration state table
    (:func:`read_precision_thresholds` — the same parquet a
    :func:`stream_calibration_bins` query maintains) and pick the
    quality gate's knob with the BATCH selection rule
    (``pipeline.classify.calibrated_threshold_from_curve`` — lowest
    operating-point edge meeting ``target_precision``, i.e. max recall
    at the demanded precision).  Returns the picked threshold; raises
    the batch rule's loud ``ValueError`` when no edge qualifies, and
    Spark's path error when the state table does not exist yet — seed
    it from the training-time labeled predictions before starting a
    calibrated gate, never default to gate-wide-open."""
    from tundradb_spark.pipeline.classify import (
        calibrated_threshold_from_curve,
    )

    return calibrated_threshold_from_curve(
        read_precision_thresholds(spark, path, n_bins), target_precision
    )


def _validate_gate_knob(
    quality_weights: list | None,
    quality_target_precision: float | None,
    quality_calibration_path: str | None,
) -> None:
    """Shared knob validation for the streaming gates, mirroring
    ``prepare_corpus``: a precision target needs both the frozen
    weights and a calibration table to measure against; a calibration
    path without a target would be silently ignored — raise instead.
    Runs at stream CONSTRUCTION, so a misconfigured gate dies before
    ``.start()``, not at its first micro-batch."""
    if quality_target_precision is not None and quality_weights is None:
        raise ValueError(
            "quality_target_precision needs quality_weights (the frozen"
            " lr_train table the gate scores with)"
        )
    if quality_calibration_path is not None and (
        quality_target_precision is None
    ):
        raise ValueError(
            "quality_calibration_path was given without"
            " quality_target_precision — the state table would be"
            " silently ignored and the gate would run at the hand-set"
            " min_quality; pass the precision target the threshold"
            " should be measured against"
        )
    if quality_target_precision is not None and (
        quality_calibration_path is None
    ):
        raise ValueError(
            "quality_target_precision needs quality_calibration_path"
            " (the stream_calibration_bins state table to measure the"
            " threshold on)"
        )


def _resolve_gate_threshold(
    spark,
    min_quality: float,
    quality_target_precision: float | None,
    quality_calibration_path: str | None,
    quality_calibration_bins: int,
) -> float:
    """Knob resolution AFTER :func:`_validate_gate_knob`: the hand-set
    ``min_quality`` when no precision target was demanded, else the
    measured pick from the live calibration table."""
    if quality_target_precision is None:
        return float(min_quality)
    return calibrated_gate_threshold(
        spark,
        quality_calibration_path,
        quality_target_precision,
        n_bins=quality_calibration_bins,
    )


def stream_gate_corpus(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    max_bigram_rep: float = 0.5,
    sample_bp: int = 10000,
    sample_seed: int = 97,
    quality_weights: list | None = None,
    min_quality: float = 0.5,
    n_quality_buckets: int = 256,
    quality_bigrams: bool = True,
    quality_target_precision: float | None = None,
    quality_calibration_path: str | None = None,
    quality_calibration_bins: int = 10,
) -> DataFrame:
    """Streaming face of ``pipeline.recipe.prepare_corpus``'s gate phase:
    PII gate → repetition gate → [optional learned-quality gate] →
    watermark-bounded exact dedup → deterministic sample, over a LIVE
    document stream — the shape of a continuously-ingesting
    training-corpus front door.

    The quality gate (r12) activates when ``quality_weights`` is given
    (the frozen ``(bucket, weight)`` table from
    ``pipeline.classify.lr_train``): rows whose
    ``classify.lr_prob_col`` falls below ``min_quality`` drop.  The
    inline fold is pinned bit-equal to the batch ``lr_score`` (same
    buckets, same decimal weights, same exact sum) and is a STATELESS
    per-row projection — the join-based scorer's groupBy(doc) would be
    a stateful streaming aggregation.

    Calibrated knob (r14, r13 verdict item 2): pass
    ``quality_target_precision`` + ``quality_calibration_path`` (a
    :func:`stream_calibration_bins` state table) and the gate's
    threshold is MEASURED at stream-construction time via
    :func:`calibrated_gate_threshold` — the exact rule the batch
    ``prepare_corpus(quality_target_precision=...)`` deploys, so the
    stream front door and a batch replay of the same documents admit
    the IDENTICAL set (test-pinned).  The pick happens ONCE, when this
    plan is built: a pure streaming transform cannot re-read driver
    state per micro-batch, so restart the stream (cheap — the
    checkpoint carries the position) to re-pick as the live curve
    drifts; :func:`stream_gate_funnel` is the per-epoch-re-picking
    variant, use its funnel metadata to decide WHEN.

    The row-level gates and the content-hash sample are the IDENTICAL
    inline predicates the batch recipe compiles (stateless, fused into the
    source projection); only dedup differs by necessity: a stream cannot
    pick each text group's global minimum id, so the FIRST-ARRIVING copy
    within the watermark horizon wins.  State boundedness requires
    ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates`` on a
    non-event-time key NEVER evicts its state (the watermark only clears
    dedup state when the event-time column is part of the keys), so a
    long-running mostly-unique stream would grow state without bound.
    The within-watermark form evicts each key once the watermark passes
    it — the horizon trade documented on :func:`streaming_dedup`: a copy
    re-arriving after the horizon is re-admitted.  Caveat (probed r12):
    a row whose event time sits AT the stream's initial watermark
    (epoch 0) is shed as late by the state store — synthetic fixtures
    must offset their timestamps.  Within a single
    micro-batch the retained copy is whichever partition's row the state
    store sees first, so the surviving ID — not the surviving TEXT — is
    arbitrary among duplicates.

    Returns the gated streaming frame (original columns + ``__h``
    dropped); chunk/pack downstream or write to a corpus sink.
    """
    from tundradb_spark.pipeline.dedup import normalized_text
    from tundradb_spark.pipeline.recipe import no_pii_col
    from tundradb_spark.pipeline.sampling import sample_hash_col
    from tundradb_spark.pipeline.text import (
        bigram_repetition_col,
        tokens,
    )

    _validate_gate_knob(
        quality_weights, quality_target_precision, quality_calibration_path
    )
    threshold = _resolve_gate_threshold(
        stream.sparkSession,
        min_quality,
        quality_target_precision,
        quality_calibration_path,
        quality_calibration_bins,
    )
    toked = stream.filter(no_pii_col(text_col)).withColumn(
        "__t", tokens(F.col(text_col))
    )
    gated = toked.filter(
        bigram_repetition_col("__t") <= max_bigram_rep
    ).drop("__t")
    if quality_weights is not None:
        from tundradb_spark.pipeline.classify import lr_prob_col

        gated = gated.filter(
            lr_prob_col(
                quality_weights, text_col, n_buckets=n_quality_buckets,
                bigrams=quality_bigrams,
            ) >= F.lit(threshold)
        )
    deduped = (
        gated.withColumn("__h", F.md5(normalized_text(F.col(text_col))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )
    return deduped.filter(sample_hash_col(id_col, sample_seed) < sample_bp)


def stream_ingest_dedup(
    stream: DataFrame,
    out_path: str,
    sig_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 5,
    seed: int = 42,
    query_name: str | None = None,
) -> "StreamingQuery":
    """Ingest-time NEAR-dup gating against the corpus accumulated so far:
    each micro-batch is MinHash-probed against the PERSISTED signature
    table (``pipeline.dedup.incremental_dup_pairs_indexed`` — O(batch)
    per ingest, never O(corpus²)); batch docs that band-match an existing
    corpus doc are dropped, survivors land in ``out_path`` and their
    signatures append to ``sig_path`` for the NEXT batch to probe.

    r6: the signature table uses the BANDED prunable layout
    (``dedup.write_signature_index`` shape — one row per (doc, band),
    ``partitionBy(epoch, band_idx, band_bucket)``), so each batch's probe
    reads only the directories its own band keys hash into
    (PartitionFilters) instead of scanning every prior epoch's
    signatures — probe IO is bounded by the batch, not the stream's age.

    r7 (replay correctness with the banded layout): leaf-level dynamic
    overwrite alone is NOT replay-safe here — a crash mid-sig-write
    leaves partial ``(epoch, band_idx, band_bucket)`` leaves, the
    replayed probe would self-match against them (shrinking the survivor
    set), and the shrunken rewrite would strand the stale leaves as
    phantom signatures for documents absent from ``out_path``.  The sink
    therefore DELETES the entire ``epoch=E`` subtree of ``sig_path``
    first (a no-op on the normal path): the replay probe sees only
    prior epochs — exactly what the original attempt saw — so it
    recomputes the identical survivor set and rewrites the epoch from
    scratch.  ``sig_path``'s lifetime is tied to ``checkpoint``: the
    sink cross-checks the signature table's epoch partitions against
    the checkpoint's commit log and refuses to run if it finds epochs
    this checkpoint never committed (r8) — restarting with a FRESH
    checkpoint against a reused ``sig_path`` would otherwise restart
    epoch numbering at 0 and silently delete the prior run's history.

    Within-batch duplicates: survivors of the corpus probe are also
    deduplicated against EACH OTHER before writing — exact (normalized-
    text hash, min-id wins) AND near (same MinHash banding as the corpus
    probe: any doc band-matching a lower-id batch sibling is dropped;
    greedy rather than connected-components, so a chain A~B~C keeps only
    A — the conservative direction for a dedup gate).  Both tables are
    written per epoch by :func:`_write_epoch`.

    The first batch sees no signature table and admits everything — the
    bootstrap every incremental index shares.
    """
    from pyspark.sql import Window

    from tundradb_spark.pipeline.dedup import (
        banded_signatures,
        incremental_dup_pairs_indexed,
        minhash_lsh_pairs,
        minhash_signature,
        normalized_text,
    )

    def _sink(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        # replay hygiene (docstring above): drop any partial epoch=E
        # signature leaves from a failed attempt BEFORE the probe, via
        # Hadoop FS so s3a:// / hdfs:// sig_paths work like local ones.
        # Clobber guard (r8, advice): sig_path's lifetime is tied to THIS
        # checkpoint — a fresh checkpoint restarts epoch numbering at 0,
        # and the unconditional delete would silently destroy a prior
        # run's signature history.  Any epoch partition that is neither
        # committed in this checkpoint's commit log nor the current
        # (possibly replayed) epoch is foreign data: refuse loudly.
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        HPath = jvm.org.apache.hadoop.fs.Path
        sig_root = HPath(sig_path)
        sig_fs = sig_root.getFileSystem(conf)
        present: set[int] = set()
        if sig_fs.exists(sig_root):
            for st in sig_fs.listStatus(sig_root):
                name = st.getPath().getName()
                if name.startswith("epoch="):
                    try:
                        present.add(int(name.split("=", 1)[1]))
                    except ValueError:
                        pass
        if present:
            commits_dir = HPath(f"{checkpoint}/commits")
            ck_fs = commits_dir.getFileSystem(conf)
            committed: set[int] = set()
            if ck_fs.exists(commits_dir):
                for st in ck_fs.listStatus(commits_dir):
                    name = st.getPath().getName()
                    if name.isdigit():
                        committed.add(int(name))
            foreign = present - committed - {epoch}
            if foreign:
                raise ValueError(
                    f"signature table at {sig_path!r} contains epoch "
                    f"partitions {sorted(foreign)} not written by this "
                    f"stream's checkpoint ({checkpoint!r}) — sig_path's "
                    "lifetime is tied to its checkpoint; resume with the "
                    "original checkpoint or point the stream at a fresh "
                    "sig_path"
                )
        epoch_dir = HPath(f"{sig_path}/epoch={epoch}")
        sig_fs.delete(epoch_dir, True)
        # bootstrap probe: try/except the read, NOT a driver-local glob —
        # sig_path may be any Hadoop filesystem (s3a://, hdfs://), where a
        # local listing would silently disable corpus dedup forever
        try:
            corpus_cols = spark.read.parquet(sig_path).columns
            have_corpus = True
        except Exception:
            have_corpus = False
        survivors = batch
        if have_corpus and "band_key" not in corpus_cols:
            # pre-r6 flat layout ((id, sig) rows, epoch-only partitions):
            # refuse loudly with the migration step instead of dying on an
            # unresolved-column AnalysisException mid-stream
            raise ValueError(
                f"signature table at {sig_path!r} uses the pre-r6 flat "
                "layout; rebuild it in the banded shape "
                "(dedup.write_signature_index / banded_signatures) before "
                "resuming the stream"
            )
        if have_corpus:
            dup_new = incremental_dup_pairs_indexed(
                spark,
                None,  # new_sigs supplied below — computed once per batch
                sig_path,
                text_col=text_col,
                id_col=id_col,
                num_hashes=num_hashes,
                bands=bands,
                shingle_k=shingle_k,
                seed=seed,
                new_sigs=minhash_signature(
                    batch, text_col, id_col, num_hashes, shingle_k, seed
                ),
            ).select(F.col("new_id").alias("__dup"))
            survivors = batch.join(
                F.broadcast(dup_new.distinct()),
                F.col(id_col).cast("long") == F.col("__dup"),
                "left_anti",
            )
        # within-batch exact dedup: min-id per normalized-text hash
        w = Window.partitionBy(
            F.md5(normalized_text(F.col(text_col)))
        ).orderBy(F.col(id_col).asc())
        survivors = (
            survivors.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # within-batch NEAR dedup: reuse the standard banded self-join
        # over the batch's own signatures (the corpus probe above only
        # sees PREVIOUS batches' signatures).  Pairs come back id_a <
        # id_b, so dropping every id_b member IS "drop any doc matching a
        # lower-id sibling" (greedy, conservative)
        batch_sigs = materialize(minhash_signature(
            survivors, text_col, id_col, num_hashes, shingle_k, seed
        ))
        near_dups = (
            minhash_lsh_pairs(
                None,
                id_col=id_col,
                num_hashes=num_hashes,
                bands=bands,
                shingle_k=shingle_k,
                seed=seed,
                materialize=False,
                sigs=batch_sigs,
            )
            .select(F.col("id_b").alias("__dup"))
            .distinct()
        )
        survivors = survivors.join(
            F.broadcast(near_dups),
            F.col(id_col).cast("long") == F.col("__dup").cast("long"),
            "left_anti",
        )
        _write_epoch(survivors, epoch, out_path)
        kept_ids = survivors.select(
            F.col(id_col).cast("long").alias(id_col)
        )
        sigs = banded_signatures(
            batch_sigs.join(kept_ids, id_col, "left_semi"),
            id_col,
            num_hashes,
            bands,
        )
        _write_epoch(sigs, epoch, sig_path, (_EPOCH, "band_idx", "band_bucket"))

    return _foreach_batch(stream, checkpoint, query_name or "ingest-dedup", _sink)


def stream_hll_registers(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str,
    group_col: str,
    p: int = 9,
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain per-group HyperLogLog registers
    (pipeline.sketches.hll_registers layout) from a row stream — live
    approximate distinct counts over unbounded input with O(groups · 2^p)
    state, where exact streaming COUNT(DISTINCT) state grows with the key
    universe.

    Mergeability does the work: each micro-batch is sketched independently
    and written to its own ``epoch=E`` partition; a reader merges epochs
    with one ``max(m_reg)`` per (group, bucket) —
    :func:`read_hll_distinct` — which is EXACTLY the union semantics of
    the sketch, so the merged estimate equals the batch sketch of all rows
    seen.

    At scale, compact occasionally by rewriting the max-merged registers
    as a single epoch and dropping the rest — the register table is tiny
    (groups · 2^p rows) regardless of stream volume.
    """
    from tundradb_spark.pipeline.sketches import hll_registers

    def _sink(batch: DataFrame, epoch: int) -> None:
        regs = hll_registers(batch, key_col, group_col, p)
        _write_epoch(regs, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "hll-registers", _sink)


def read_hll_distinct(spark, path: str, group_col: str, p: int = 9) -> DataFrame:
    """Merge all epochs of a :func:`stream_hll_registers` table and return
    per-group distinct estimates — identical to running
    ``pipeline.sketches.hll_distinct`` over every row the stream has
    delivered (register max-merge == sketch union; test-pinned)."""
    from tundradb_spark.pipeline.sketches import hll_estimate

    merged = (
        spark.read.parquet(path)
        .groupBy(group_col, "bucket")
        .agg(F.max("m_reg").alias("m_reg"))
    )
    return hll_estimate(merged, group_col, p)


def stream_cm_counts(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str,
    d: int = 4,
    w: int = 1024,
    seed: int = 211,
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain a Count-Min sketch
    (pipeline.sketches.cm_build layout) from a row stream — live frequency
    estimates for ANY later-chosen key with O(d·w) state, where exact
    streaming per-key counts grow with the key universe.

    Counters are additive, so each micro-batch is sketched independently
    into its own ``epoch=E`` partition and a reader sums cells across
    epochs (:func:`read_cm_estimate`) — sketch union by addition."""
    from tundradb_spark.pipeline.sketches import cm_build

    def _sink(batch: DataFrame, epoch: int) -> None:
        sk = cm_build(batch, key_col, d, w, seed)
        _write_epoch(sk, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "cm-counts", _sink)


def read_cm_estimate(
    spark,
    path: str,
    keys: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 1024,
    seed: int = 211,
) -> DataFrame:
    """Sum all epochs of a :func:`stream_cm_counts` table into one sketch
    and estimate frequencies for ``keys`` — identical to
    ``pipeline.sketches.cm_estimate`` over a batch sketch of every row the
    stream has delivered (counter sum == sketch union; test-pinned)."""
    from tundradb_spark.pipeline.sketches import cm_estimate

    merged = (
        spark.read.parquet(path)
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return cm_estimate(merged, keys, key_col, d, w, seed)


def compact_stream_index(spark, path: str) -> int:
    """Compact a :func:`stream_index_vectors` (or any per-epoch sketch)
    directory: fold every ``epoch=E`` partition into one ``epoch=-1``
    partition per value of the other partition columns — the LSM
    maintenance step the streaming writers' docstrings point at.  Many
    small per-epoch files become one coalesced file set per partition
    (one file for an epoch-only table), restoring scan efficiency after
    long streams; every row is preserved verbatim, so probes and the
    readers' max/sum merges are unaffected.  For the sketches a further
    SEMANTIC compaction (pre-merging registers) is just the reader's
    aggregation written back, left to the caller.

    The partition order is read from the table's own ``k=v`` directory
    chain (``cell/epoch`` for the vector index, ``epoch/band_idx/
    band_bucket`` for the signature table) and kept: a different order
    would break Spark's partition discovery when a resumed sink appends
    its next epoch.

    ``path`` is any path the stream writers accept (a plain local path,
    ``file://``, ``hdfs://``, ``s3a://``): the table is listed, renamed
    and deleted through its Hadoop ``FileSystem``.

    Maintenance window required: the compacted data is fully staged in a
    sibling temp dir first (no partial data is ever visible under
    ``path``), but the swap itself is two renames + a delete, NOT one
    atomic operation — a reader that lists ``path`` in the instant
    between the renames errors, and one that listed the old files before
    the swap can hit FileNotFound mid-scan when the old dir is removed.
    Run it with the stream stopped AND readers quiesced (the same window
    any file-level compaction without a table format needs); a sink
    writing during the swap would also land in the doomed old dir.

    Returns the number of rows compacted.
    """
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    root = HPath(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    parts, d = [], root
    while subdirs := sorted(
        n for st in fs.listStatus(d)
        if st.isDirectory() and "=" in (n := st.getPath().getName())
    ):
        parts.append(subdirs[0].split("=", 1)[0])
        d = HPath(d, subdirs[0])
    cluster = [c for c in parts if c != _EPOCH]
    out = (
        spark.read.parquet(path)
        .drop(_EPOCH)
        .withColumn(_EPOCH, F.lit(_COMPACTED_EPOCH))
    )
    if cluster:
        out = out.repartition(*[F.col(c) for c in cluster])
    else:
        out = out.coalesce(1)
    tmp = path.rstrip("/") + ".compacting"
    out.write.mode("overwrite").partitionBy(*parts).parquet(tmp)
    n = spark.read.parquet(tmp).count()
    old = HPath(path.rstrip("/") + ".old")
    fs.delete(old, True)
    for src, dst in ((root, old), (HPath(tmp), root)):
        if not fs.rename(src, dst):
            raise OSError(f"compact_stream_index: could not rename {src} to {dst}")
    fs.delete(old, True)
    return n


def stream_histogram_bins(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    group_col: str,
    value_col: str,
    bounds: tuple[float, float],
    n_bins: int = 1000,
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain per-group histogram bin counts from a row
    stream — live quantile estimates over unbounded input with
    O(groups · n_bins) state (the streaming face of
    operators.relational.histogram_quantiles).

    ``bounds`` must be FIXED up front (a stream has no final min/max);
    out-of-range values clamp to the edge bins, so the stream never
    drops rows — a drifting distribution shows up as edge-bin mass, the
    operational signal to re-bin.  Counters are additive: per-epoch
    partitions, reader sums — identical to the Count-Min discipline.
    """
    from tundradb_spark.operators.relational import histogram_bin_col

    mn, mx = float(bounds[0]), float(bounds[1])

    def _sink(batch: DataFrame, epoch: int) -> None:
        binned = (
            batch.select(
                F.col(group_col),
                histogram_bin_col(value_col, mn, mx, n_bins).alias("__bin"),
            )
            .groupBy(group_col, "__bin")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        _write_epoch(binned, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "histogram-bins", _sink)


def read_histogram_quantiles(
    spark,
    path: str,
    group_col: str,
    probs: list[float],
    bounds: tuple[float, float],
    n_bins: int = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Sum all epochs of a :func:`stream_histogram_bins` table and return
    per-group quantile estimates — identical to running the batch
    ``histogram_quantiles(..., bounds=...)`` over every row the stream
    has delivered (counter sum == histogram union; test-pinned)."""
    from tundradb_spark.operators.relational import histogram_estimate

    merged = (
        spark.read.parquet(path)
        .groupBy(group_col, "__bin")
        .agg(F.sum("__c").alias("__c"))
    )
    return histogram_estimate(
        merged,
        [group_col],
        probs,
        float(bounds[0]),
        float(bounds[1]),
        n_bins,
        round_to,
    )


def stream_heavy_keys(
    stream: DataFrame,
    cm_path: str,
    cand_path: str,
    checkpoint: str,
    key_col: str,
    batch_threshold: int = 2,
    d: int = 4,
    w: int = 1024,
    seed: int = 211,
    query_name: str | None = None,
) -> "StreamingQuery":
    """Streaming heavy hitters: maintain BOTH a Count-Min sketch and a
    per-batch candidate table from one stream — the classic CM+candidates
    construction, since a sketch alone can estimate any key but cannot
    enumerate which keys are heavy.

    Each micro-batch writes (a) its CM cells and (b) the keys whose
    WITHIN-BATCH count reaches ``batch_threshold`` — both into ``epoch=E``
    partitions.  Pigeonhole
    guarantee: a key with total count ≥ ``batch_threshold × n_epochs``
    must reach the threshold in at least one epoch, so every sufficiently
    heavy key IS a candidate; :func:`read_heavy_hitters` then ranks the
    candidate set by sketch estimate (which never undercounts).
    Candidate state is bounded: ≤ batch_rows / batch_threshold keys per
    epoch.
    """
    from tundradb_spark.pipeline.sketches import cm_build

    def _sink(batch: DataFrame, epoch: int) -> None:
        _write_epoch(cm_build(batch, key_col, d, w, seed), epoch, cm_path)
        cands = (
            batch.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("batch_count"))
            .filter(F.col("batch_count") >= batch_threshold)
        )
        _write_epoch(cands, epoch, cand_path)

    return _foreach_batch(stream, checkpoint, query_name or "heavy-keys", _sink)


def read_heavy_hitters(
    spark,
    cm_path: str,
    cand_path: str,
    key_col: str,
    k: int = 10,
    d: int = 4,
    w: int = 1024,
    seed: int = 211,
) -> DataFrame:
    """Top-k heavy hitters from a :func:`stream_heavy_keys` pair: distinct
    candidates ranked by the summed-epoch CM estimate (never an
    undercount), ties broken by key for determinism."""
    cands = spark.read.parquet(cand_path).select(key_col).distinct()
    est = read_cm_estimate(spark, cm_path, cands, key_col, d, w, seed)
    return est.orderBy(F.desc("est_count"), F.asc(key_col)).limit(k)


def stream_weighted_sample(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 7,
    query_name: str | None = None,
) -> "StreamingQuery":
    """Streaming weighted reservoir: maintain an EXACT
    Efraimidis-Spirakis top-k sample over an unbounded stream with
    O(k) state per epoch.

    Each micro-batch keeps its own top-k by the content-hash priority
    ``u^(1/w)`` (pipeline.sampling.weighted_sample_topk) into an
    ``epoch=E`` partition; because the priority is a pure function of
    (seed, id, weight), every member of the GLOBAL top-k is necessarily
    in its own batch's top-k — so :func:`read_weighted_sample`'s merge
    (top-k of the union of per-epoch top-ks) equals the batch operator
    over all arrived rows EXACTLY, not approximately.
    """
    from tundradb_spark.pipeline.sampling import weighted_sample_topk

    def _sink(batch: DataFrame, epoch: int) -> None:
        top = weighted_sample_topk(
            batch, weight_col, k, id_col, seed, keep_raw=True
        )
        _write_epoch(top.withColumn("writer_k", F.lit(k)), epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "weighted-sample", _sink)


def read_weighted_sample(
    spark, path: str, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Merge all epochs of a :func:`stream_weighted_sample` table into
    the global top-k (exact — see the writer's invariant).  The union is
    at most k rows per epoch, so the merge is tiny at any stream length.

    ``k`` may not exceed the k the stream was WRITTEN with (stamped per
    row): the exactness argument only covers members that made their own
    batch's top-k, so a larger read-k would silently return wrong ranks
    past the writer's k — raise instead."""
    cands = spark.read.parquet(path).drop("epoch")
    writer_k = cands.agg(F.min("writer_k")).first()[0]
    if writer_k is None:
        # stream started but no non-empty batch committed yet — the table
        # is a valid empty sample, not an error
        return cands.drop("raw_priority", "writer_k").limit(0)
    if k > writer_k:
        raise ValueError(
            f"read_weighted_sample: k={k} exceeds the stream's writer k="
            f"{writer_k} — ranks past {writer_k} were never persisted; "
            "re-run the stream with a larger k"
        )
    return (
        cands.orderBy(F.desc("raw_priority"), F.asc(id_col))
        .limit(k)
        .drop("raw_priority", "writer_k")
    )


CUSUM_ALARM_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
        StructField("cusum", DoubleType()),
    ]
)

#: decimal(38,12) running prefix-sum and its running minimum, serialized as
#: strings (exact — the state never touches IEEE floats)
_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("p", StringType()),
        StructField("min_p", StringType()),
    ]
)


def _make_cusum_fn(slack: float, threshold: float, target: float):
    """Closure-captured parameters travel to executor workers."""

    def _cusum_fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        from decimal import ROUND_HALF_UP, Decimal

        q12 = Decimal("1E-12")
        q10 = Decimal("1E-10")
        # mirror the batch plan's cast(double as decimal(38,12)): round the
        # exact binary double HALF_UP at 12 decimal places
        tgt = Decimal(float(target)).quantize(q12, rounding=ROUND_HALF_UP)
        (k,) = key
        if state.exists:
            p_s, min_s = state.get
            p, min_p = Decimal(p_s), Decimal(min_s)
        else:
            p, min_p = Decimal(0), Decimal(0)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((str(p), str(min_p)))
            return
        batch = pd.concat(chunks, ignore_index=True)
        ts_us = (batch["ts"].astype("int64") // 1_000).tolist()
        order = sorted(range(len(batch)), key=lambda i: ts_us[i])
        out_ts, out_v, out_s = [], [], []
        zero = Decimal(0)
        vals = batch["value"].tolist()
        for i in order:
            v = float(vals[i])
            d = Decimal(v - slack).quantize(
                q12, rounding=ROUND_HALF_UP
            ) - tgt
            p += d
            if p < min_p:
                min_p = p
            s = p - (min_p if min_p < zero else zero)
            if float(s) >= threshold:
                out_ts.append(int(ts_us[i]))
                out_v.append(v)
                # the batch operator's presentation rounding:
                # decimal(25,10), then half-up at 6 dp via floor(x·1e6+0.5)
                s10 = s.quantize(q10, rounding=ROUND_HALF_UP)
                out_s.append(
                    float((s10 * 1_000_000 + Decimal("0.5")).to_integral_value(
                        rounding="ROUND_FLOOR"
                    ))
                    / 1_000_000.0
                )
        state.update((str(p), str(min_p)))
        if out_ts:
            yield pd.DataFrame(
                {
                    "key": [int(k)] * len(out_ts),
                    "ts_us": out_ts,
                    "value": out_v,
                    "cusum": out_s,
                }
            )

    return _cusum_fn


def stream_cusum_alarms(
    events: DataFrame,
    slack: float,
    threshold: float,
    target: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming face of :func:`tundradb_spark.operators.relational.
    cusum_alarms`: one-sided upward CUSUM drift alarms per key over an
    unbounded stream.

    The batch operator's closed form (``S_t = P_t − min(0, min_j P_j)``)
    is what makes this streamable AT ALL: the per-key state is just the
    two exact decimals ``(P, min P)`` — O(1) per key forever, no window
    buffer, no timeout — carried across micro-batches by
    ``applyInPandasWithState`` (Arrow-batched, shuffled once on the key).
    Increment arithmetic reproduces the batch plan digit-for-digit
    (``decimal(38,12)`` increments, half-up presentation rounding), so a
    stream replay of a parquet table emits EXACTLY the alarms the batch
    operator finds — the test pins that equivalence.

    ``target`` must be an explicit in-control level (a stream cannot know
    a key's final mean; calibrate offline — e.g. from the batch
    operator's ``target="mean"`` stats — and pass it in).  Rows within a
    micro-batch are processed in ``ts`` order; cross-batch ordering is
    arrival order, the streaming contract.

    Output (update mode): ``(key, ts_us, value, cusum)`` — one row per
    alarm-crossing observation, empty batches emit nothing.
    """
    if slack < 0:
        raise ValueError(f"slack must be >= 0, got {slack}")
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    sel = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
        # the batch operator's metric domain (relational.METRIC_ABS_BOUND):
        # drops NULL/NaN/Inf/|v|>=1e9 so stream == batch stays exact
    ).filter(F.abs(F.col("value")) < F.lit(1e9))
    return sel.groupBy("key").applyInPandasWithState(
        _make_cusum_fn(slack, threshold, target),
        outputStructType=CUSUM_ALARM_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_funnel_events(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_us: int | None = None,
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain the EXACT mergeable state of
    :func:`tundradb_spark.operators.analytics.funnel` from an event
    stream — live ordered-funnel counts whose read-time merge equals the
    batch operator over every row the stream has delivered
    (test-pinned).

    What makes the funnel's min-chaining mergeable, and how the state is
    bounded below raw event volume:

    * **Entry step collapses to one row per user per epoch** — only the
      global min entry time matters, and min is mergeable, so each
      micro-batch contributes its per-user batch-min.
    * **Later steps keep distinct (user, type, time) rows, pruned to the
      conversion window when possible** — the chained min for step i is
      a function of t_{i-1}, which is only known globally, so per-step
      times must survive the epoch; but any step-i event later than
      ``batch_entry_min(u) + within_us`` can NEVER qualify (the global
      entry min is <= every batch min, so the global window ends no
      later), and is dropped at the sink.  Users whose entry arrives in
      a later epoch keep their rows unpruned — correctness first.
    * Duplicate rows across epochs are harmless: min-chaining over a
      multiset equals min-chaining over its set.
    * **Restriction**: step names must be DISTINCT (ValueError
      otherwise) — the entry-min collapse discards the later
      entry-type occurrences a repeated step would need; the batch
      funnel has no such restriction.

    Each micro-batch writes its reduction to an ``epoch=E`` partition;
    :func:`read_funnel` merges by simply running the batch operator over
    the union.

    At 100 TB: the sink is one type-filtered scan + one per-user
    min-aggregate per batch (map-side combined) + one window-pruned
    projection; state grows with distinct in-window step events, not raw
    stream volume, and ``compact_stream_index``-style re-reduction can
    fold old epochs (run the sink reduction over the merged read).
    """
    if not steps:
        raise ValueError("steps must be a non-empty ordered list")
    if len(set(steps)) != len(steps):
        # the sink collapses ALL entry-type events to the per-epoch
        # per-user min; if the entry type recurs as a later step, the
        # later occurrences that repeated step needs are discarded and
        # read_funnel undercounts vs the batch funnel (which supports
        # duplicate step names) — refuse rather than silently diverge
        raise ValueError(
            "stream_funnel_events requires distinct step names "
            f"(got {steps}); the batch funnel supports duplicates"
        )

    def _sink(batch: DataFrame, epoch: int) -> None:
        from tundradb_spark.functions.timecols import epoch_micros as _us

        ev = batch.select(
            F.col(user_col).cast("long").alias("u"),
            _us(batch, ts_col).alias("t_us"),
            F.col(type_col).alias("et"),
        ).filter(F.col("et").isin(steps))
        entry = (
            ev.filter(F.col("et") == steps[0])
            .groupBy("u")
            .agg(F.min("t_us").alias("t_us"))
            .select("u", "t_us", F.lit(steps[0]).alias("et"))
        )
        later = ev.filter(F.col("et") != steps[0]).distinct()
        if within_us is not None:
            bound = entry.select(
                "u", (F.col("t_us") + F.lit(within_us)).alias("t_max")
            )
            later = (
                later.join(bound, "u", "left")
                .filter(
                    F.col("t_max").isNull()
                    | (F.col("t_us") <= F.col("t_max"))
                )
                .drop("t_max")
            )
        out = entry.unionByName(later.select("u", "t_us", "et"))
        _write_epoch(out, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "funnel-events", _sink)


def read_funnel(
    spark,
    path: str,
    steps: list[str],
    within_us: int | None = None,
) -> DataFrame:
    """Merge all epochs of a :func:`stream_funnel_events` table and
    return the funnel counts — identical to running
    ``operators.analytics.funnel`` over every row the stream has
    delivered (entry-min merge + window pruning preserve the chain
    exactly; test-pinned)."""
    from tundradb_spark.operators.analytics import funnel

    state = spark.read.parquet(path).select(
        F.col("u").alias("user_id"),
        F.timestamp_micros(F.col("t_us")).alias("ts"),
        F.col("et").alias("event_type"),
    )
    return funnel(state, steps, within_us=within_us)


def stream_cohort_periods(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_us: int = 86_400_000_000,
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain the exact mergeable state of
    :func:`tundradb_spark.operators.analytics.cohort_retention`: the
    DISTINCT ``(user, period)`` activity pairs.  That pair set is the
    batch operator's one corpus-sized intermediate, it is union-mergeable
    (distinct-of-unions == union-of-distincts), and it is bounded by
    ``users x periods`` — not raw event volume.  Each micro-batch writes
    its own distinct pairs to an ``epoch=E`` partition; duplicate pairs
    across epochs are removed again at read time."""
    if period_us < 1:
        raise ValueError(f"period_us must be >= 1, got {period_us}")

    def _sink(batch: DataFrame, epoch: int) -> None:
        from tundradb_spark.functions.timecols import epoch_micros as _us

        pairs = (
            batch.select(
                F.col(user_col).cast("long").alias("u"),
                _us(batch, ts_col).alias("t_us"),
            )
            .select("u", F.expr(f"t_us div {period_us}").alias("p"))
            .distinct()
        )
        _write_epoch(pairs, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "cohort-periods", _sink)


def read_cohort_retention(
    spark,
    path: str,
    period_us: int = 86_400_000_000,
    max_offset: int | None = None,
) -> DataFrame:
    """Merge all epochs of a :func:`stream_cohort_periods` table and
    return the retention table — identical to running
    ``operators.analytics.cohort_retention`` over every row the stream
    has delivered.  Periods are re-materialized as the period-start
    instant, so the batch operator's own ``div period_us`` maps each pair
    back to exactly its period index (test-pinned)."""
    from tundradb_spark.operators.analytics import cohort_retention

    state = spark.read.parquet(path).select(
        F.col("u").alias("user_id"),
        F.timestamp_micros(F.col("p") * F.lit(period_us)).alias("ts"),
    )
    return cohort_retention(
        state, period_us=period_us, max_offset=max_offset
    )


MARKOV_PAIR_SCHEMA = StructType(
    [
        StructField("src", StringType()),
        StructField("dst", StringType()),
        StructField("cnt", LongType()),
    ]
)
_MARKOV_STATE_SCHEMA = StructType(
    [
        # has_last distinguishes "no event seen yet" from "previous
        # event had a NULL type" — the batch operator keeps transitions
        # OUT of a NULL type (src NULL) while dropping transitions INTO
        # one (lead-NULL pairs are filtered), so the carried state must
        # represent NULL-et faithfully
        StructField("has_last", BooleanType()),
        StructField("last_et", StringType()),
    ]
)

#: sentinel: no previous event for this user (distinct from a previous
#: event whose type was NULL)
_NO_PREV = object()


def _make_markov_fn():
    def _null_safe_key(batch: pd.DataFrame):
        # batch window sort = ORDER BY t ASC, tb ASC with Spark's
        # default NULLS FIRST; a NULL ts/tiebreak arrives as NaN/None
        # in pandas and must sort, not raise (dirty-input discipline)
        def key(i):
            t, b = batch["t_us"].iloc[i], batch["tb"].iloc[i]
            tn, bn = pd.isna(t), pd.isna(b)
            return (
                0 if tn else 1,
                0 if tn else int(t),
                0 if bn else 1,
                0 if bn else int(b),
            )

        return key

    def _markov_fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            has_last, last_val = state.get
            last = last_val if has_last else _NO_PREV
        else:
            last = _NO_PREV
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((last is not _NO_PREV,
                          None if last is _NO_PREV else last))
            return
        batch = pd.concat(chunks, ignore_index=True)
        # within-batch order = (ts, tiebreak), the batch operator's sort
        order = sorted(range(len(batch)), key=_null_safe_key(batch))
        counts: dict[tuple[str | None, str], int] = {}
        for i in order:
            et = batch["et"].iloc[i]
            if pd.isna(et):
                et = None
            # batch semantics: pairs with a NULL dst are filtered
            # (lead-NULL), pairs with a NULL src survive
            if last is not _NO_PREV and et is not None:
                k = (last, et)
                counts[k] = counts.get(k, 0) + 1
            last = et
        state.update((True, last))
        if counts:
            yield pd.DataFrame(
                {
                    "src": [k[0] for k in counts],
                    "dst": [k[1] for k in counts],
                    "cnt": [counts[k] for k in counts],
                }
            )

    return _markov_fn


def stream_markov_pairs(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming face of :func:`tundradb_spark.operators.analytics.
    markov_transitions`: per-user first-order transition counts over an
    unbounded event stream.

    What makes the transition matrix streamable exactly: adjacency only
    ever couples an event to its IMMEDIATE predecessor, so the per-key
    state is one string — the user's last event type — carried across
    micro-batches by ``applyInPandasWithState`` (Arrow-batched, one
    shuffle on the user key, O(1) state per user forever).  Each
    micro-batch emits that user's within-batch transition counts
    (boundary transition included via the carried state); summing the
    emitted ``(src, dst, cnt)`` rows over the whole stream —
    :func:`merge_markov_counts` — reproduces the batch operator's counts
    EXACTLY whenever the stream delivers each user's events in event-time
    order across batches (within a batch, rows are sorted by
    ``(ts, tiebreak)`` like the batch window; cross-batch ordering is
    arrival order — the streaming contract, as for
    :func:`stream_cusum_alarms`).

    Output (update mode): ``(src, dst, cnt)`` rows per user per
    micro-batch; sink them anywhere additive (memory table, epoch
    parquet) and merge at read time.
    """
    from tundradb_spark.functions.timecols import epoch_micros as _us

    sel = events.select(
        F.col(user_col).cast("long").alias("key"),
        _us(events, ts_col).alias("t_us"),
        F.col(tiebreak_col).cast("long").alias("tb"),
        F.col(type_col).alias("et"),
    )
    return sel.groupBy("key").applyInPandasWithState(
        _make_markov_fn(),
        outputStructType=MARKOV_PAIR_SCHEMA,
        stateStructType=_MARKOV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def merge_markov_counts(pairs: DataFrame, min_count: int = 1) -> DataFrame:
    """Fold :func:`stream_markov_pairs` output into the transition
    matrix — identical tail (per-source totals BEFORE min_count pruning,
    floor-trick rounded probability) to the batch operator, so
    stream-merge == batch is exact under in-order delivery
    (test-pinned)."""
    from pyspark.sql import Window

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    counts = pairs.groupBy("src", "dst").agg(
        F.sum("cnt").alias("n_transitions")
    )
    w_src = Window.partitionBy("src")
    return (
        counts.withColumn(
            "n_from_src", F.sum("n_transitions").over(w_src)
        )
        .filter(F.col("n_transitions") >= min_count)
        .select(
            "src",
            "dst",
            F.col("n_transitions").cast("long").alias("n_transitions"),
            F.col("n_from_src").cast("long").alias("n_from_src"),
            F.expr(
                "cast(floor(cast(cast(n_transitions as double)"
                " / cast(n_from_src as double) as decimal(20,10))"
                " * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("prob"),
        )
    )


NGRAM_OCC_SCHEMA = StructType(
    [
        StructField("u", LongType()),
        StructField("gram", StringType()),
        StructField("cnt", LongType()),
    ]
)


def _ngram_state_schema() -> StructType:
    # the trailing buffer holds the user's last (n-1) event TYPES, NULLs
    # preserved (a NULL-typed event still occupies a sequence position,
    # exactly as in the batch operator's lead chain); buffer LENGTH
    # doubles as the events-seen-so-far counter (capped at n-1), so no
    # separate counter field is needed
    return StructType(
        [StructField("buf", ArrayType(StringType(), containsNull=True))]
    )


def _make_ngram_fn(n: int):
    def _key_fn(batch: pd.DataFrame):
        def key(i):
            t, b = batch["t_us"].iloc[i], batch["tb"].iloc[i]
            tn, bn = pd.isna(t), pd.isna(b)
            return (
                0 if tn else 1,
                0 if tn else int(t),
                0 if bn else 1,
                0 if bn else int(b),
            )

        return key

    def _ngram_fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        buf: list[str | None] = (
            list(state.get[0]) if state.exists and state.get[0] is not None
            else []
        )
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((buf,))
            return
        batch = pd.concat(chunks, ignore_index=True)
        order = sorted(range(len(batch)), key=_key_fn(batch))
        counts: dict[str, int] = {}
        for i in order:
            et = batch["et"].iloc[i]
            if pd.isna(et):
                et = None
            if len(buf) == n - 1:
                parts = buf + [et]
                # batch semantics (r10): a window containing a NULL
                # type contributes no gram
                if all(p is not None for p in parts):
                    g = ">".join(parts)
                    counts[g] = counts.get(g, 0) + 1
            buf.append(et)
            if len(buf) > n - 1:
                buf.pop(0)
        state.update((buf,))
        if counts:
            yield pd.DataFrame(
                {
                    "u": [key[0]] * len(counts),
                    "gram": list(counts),
                    "cnt": [counts[g] for g in counts],
                }
            )

    return _ngram_fn


def stream_event_ngrams(
    events: DataFrame,
    n: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming face of :func:`tundradb_spark.operators.analytics.
    event_ngrams`: per-user contiguous event-type n-gram counts over an
    unbounded stream — :func:`stream_markov_pairs` generalized from one
    carried event type to the last ``n−1``.

    What makes n-grams streamable exactly: a length-``n`` window couples
    an event only to its ``n−1`` immediate predecessors, so the per-key
    state is a bounded trailing buffer of ``n−1`` strings carried across
    micro-batches by ``applyInPandasWithState`` (Arrow-batched, one
    shuffle on the user key, O(n) state per user forever — NULL types
    occupy buffer positions but never form grams, the batch operator's
    r10 all-parts-non-null gate).  Each micro-batch emits that user's
    within-batch gram counts, including the up-to-``n−1``
    boundary grams that straddle the batch edge via the carried buffer;
    merging with :func:`merge_event_ngrams` reproduces the batch
    operator EXACTLY whenever each user's events arrive in event-time
    order across batches (within a batch, rows sort by
    ``(ts, tiebreak)`` with a null-safe NULLS FIRST key — the streaming
    contract shared with :func:`stream_markov_pairs`).

    Output (update mode): ``(u, gram, cnt)`` rows per user per
    micro-batch; sink them anywhere additive and merge at read time —
    ``u`` rides along so the merge can count distinct-user support.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    from tundradb_spark.functions.timecols import epoch_micros as _us

    sel = events.select(
        F.col(user_col).cast("long").alias("key"),
        _us(events, ts_col).alias("t_us"),
        F.col(tiebreak_col).cast("long").alias("tb"),
        F.col(type_col).alias("et"),
    )
    return sel.groupBy("key").applyInPandasWithState(
        _make_ngram_fn(n),
        outputStructType=NGRAM_OCC_SCHEMA,
        stateStructType=_ngram_state_schema(),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def merge_event_ngrams(
    occs: DataFrame,
    min_count: int = 1,
    top_n: int | None = None,
) -> DataFrame:
    """Fold :func:`stream_event_ngrams` output into the gram table —
    identical tail (min_count AFTER summing, ``top_n`` by
    ``(n_occurrences DESC, gram ASC)``) to the batch operator, so
    stream-merge == batch is exact under in-order delivery
    (test-pinned).  Distinct-user support is exact because every
    occurrence row carries its user."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    counts = (
        occs.groupBy("gram")
        .agg(
            F.sum("cnt").alias("n_occurrences"),
            F.count_distinct("u").alias("n_users"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )
    if top_n is not None:
        counts = counts.orderBy(
            F.col("n_occurrences").desc(), F.col("gram").asc()
        ).limit(top_n)
    return counts.select(
        "gram",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("n_users").cast("long").alias("n_users"),
    )


def stream_outlier_moments(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain per-group outlier MOMENTS
    (operators.analytics.outlier_moments layout: ``(n_group, __sv, __svv,
    __ndom)``) from an event stream — the streaming half of
    :func:`~tundradb_spark.operators.analytics.value_outliers`, with
    O(groups) state per epoch where a naive streaming z-score would
    re-scan history every trigger.

    Additivity does the work (the HLL/CM discipline): counts are exact
    longs and the value sums exact ``decimal(38,12)``, so per-epoch
    partials summed across epochs equal the single-pass batch aggregate
    BIT-EXACTLY — :func:`read_outliers` merges them and flags with the
    very same expressions as the batch operator, so stream-maintained
    flagging == ``value_outliers(all_rows)`` (test-pinned, including
    metric-domain glitch rows split across epochs).

    At scale the moment table is ``groups × epochs`` rows regardless of
    stream volume; fold occasionally with :func:`compact_stream_index`.
    """
    from tundradb_spark.operators.analytics import (
        _metric_tagged,
        outlier_moments,
    )

    def _sink(batch: DataFrame, epoch: int) -> None:
        ev = _metric_tagged(batch, group_col, value_col, id_col)
        moments = outlier_moments(ev, group_col, value_col)
        _write_epoch(moments, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "outlier-moments", _sink)


def read_outliers(
    spark,
    path: str,
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Merge all epochs of a :func:`stream_outlier_moments` table into
    per-group stats and flag ``events`` against them — IDENTICAL to
    ``value_outliers(events)`` when the stream has delivered exactly
    ``events``' rows (decimal partial sums merge exactly; the scoring
    expressions are shared verbatim via
    ``operators.analytics.flag_outliers``).  The events side is whatever
    event store the deployment keeps (e.g. the stream_ingest table);
    passing a DIFFERENT frame scores it against the stream's history —
    the live-monitoring use (new rows judged by all-time moments).
    """
    from tundradb_spark.operators.analytics import (
        _metric_tagged,
        flag_outliers,
    )

    merged = (
        spark.read.parquet(path)
        .groupBy(group_col)
        .agg(
            F.sum("n_group").alias("n_group"),
            F.sum("__sv").cast("decimal(38,12)").alias("__sv"),
            F.sum("__svv").cast("decimal(38,12)").alias("__svv"),
            F.sum("__ndom").alias("__ndom"),
        )
    )
    ev = _metric_tagged(events, group_col, value_col, id_col)
    # LEFT join (r10 advisor): in the live-monitoring use the scored
    # frame may hold groups the stream never delivered — their
    # flag='domain' glitch rows must stay VISIBLE (the r10 batch-side
    # domain policy), not vanish into an inner join.  When the stream
    # delivered exactly `events`, every group is present and left ≡
    # inner, so batch parity is untouched.
    return flag_outliers(
        ev, merged, group_col, value_col, id_col, z_threshold, how="left"
    )


def stream_cooccurrence_pairs(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain the exact mergeable state of
    :func:`tundradb_spark.operators.analytics.event_cooccurrence`: the
    DISTINCT ``(user, type)`` pairs (the cohort-periods discipline).
    That pair set is the batch operator's one corpus-sized intermediate,
    union-mergeable, and bounded by ``users × type-universe`` — not raw
    event volume.  Each micro-batch writes its own distinct pairs to an
    ``epoch=E`` partition; cross-epoch duplicate pairs are removed
    again by the reader's own distinct."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        pairs = (
            batch.select(
                F.col(user_col).cast("long").alias("u"),
                F.col(type_col).alias("et"),
            )
            .filter(F.col("u").isNotNull() & F.col("et").isNotNull())
            .distinct()
        )
        _write_epoch(pairs, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "cooccurrence-pairs", _sink)


def read_cooccurrence(
    spark,
    path: str,
    min_users: int = 1,
    top_n: int | None = None,
    max_types_per_user: int | None = None,
) -> DataFrame:
    """Merge all epochs of a :func:`stream_cooccurrence_pairs` table and
    return the co-occurrence table — identical to running
    ``operators.analytics.event_cooccurrence`` over every row the stream
    has delivered (the operator's own distinct collapses cross-epoch
    duplicates; test-pinned)."""
    from tundradb_spark.operators.analytics import event_cooccurrence

    state = spark.read.parquet(path).select(
        F.col("u").alias("user_id"), F.col("et").alias("event_type")
    )
    return event_cooccurrence(
        state,
        min_users=min_users,
        top_n=top_n,
        max_types_per_user=max_types_per_user,
    )


def stream_benford_counts(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    group_col: str = "event_type",
    value_col: str = "value",
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain per-group Benford first-digit COUNTS
    (``(n, excluded, o1..o9)`` — the
    :func:`~tundradb_spark.operators.analytics.benford_counts` layout,
    11 exact longs per group) from an event stream.  Counts are
    additive, so per-epoch partials summed across epochs equal the
    single-pass batch aggregate exactly, and :func:`read_benford`
    re-applies the batch operator's OWN scoring half
    (``benford_score`` — shared verbatim, not copied) to the merged
    counts: stream-maintained conformance == ``benford_deviation(
    all_rows)`` (test-pinned, including groups that reach ``min_n``
    only across epochs).

    State per epoch is ``groups × 11`` longs regardless of stream
    volume; fold occasionally with :func:`compact_stream_index`.
    """
    from tundradb_spark.operators.analytics import benford_counts

    def _sink(batch: DataFrame, epoch: int) -> None:
        counts = benford_counts(batch, group_col, value_col)
        _write_epoch(counts, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "benford-counts", _sink)


def read_benford(
    spark,
    path: str,
    group_col: str = "event_type",
    min_n: int = 100,
) -> DataFrame:
    """Merge all epochs of a :func:`stream_benford_counts` table
    (plain sums — the counts are exact longs) and score them through
    ``operators.analytics.benford_score``, the batch operator's own
    scoring expressions — identical to running ``benford_deviation``
    over every row the stream has delivered.  The merge is
    ``groups × epochs`` rows in, ``groups`` rows out — never touches
    event volume."""
    from tundradb_spark.operators.analytics import benford_score

    merged = spark.read.parquet(path).groupBy(group_col).agg(
        F.sum("n").alias("n"),
        F.sum("excluded").alias("excluded"),
        *[F.sum(f"o{d}").alias(f"o{d}") for d in range(1, 10)],
    )
    return benford_score(merged, group_col, min_n)


def stream_calibration_bins(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    prob_col: str = "prob",
    label_col: str = "label",
    n_bins: int = 10,
    query_name: str | None = None,
) -> "StreamingQuery":
    """r11: continuously maintain per-bin calibration partials
    (``pipeline.classify.calibration_partials`` layout: ``(bin, n,
    __sp, __sy)``) from a stream of scored predictions — the streaming
    half of :func:`~tundradb_spark.pipeline.classify.calibration_bins`,
    closing the twin symmetry the r10 round established (every analytics
    operator with mergeable state gets one).

    Additivity does the work: counts are exact longs and the
    probability sums exact ``decimal(38,12)``, so per-epoch partials
    summed across epochs equal the single-pass batch aggregate
    BIT-EXACTLY — :func:`read_calibration` merges them and scores with
    the batch operator's own expressions (``calibration_score``, shared
    verbatim), so stream-maintained reliability bins ==
    ``calibration_bins(all_rows)`` (test-pinned, including bins whose
    rows straddle epochs and the documented exclusions: NULL labels,
    probabilities outside [0, 1]).

    At scale the partial table is ``n_bins × epochs`` rows regardless
    of stream volume; fold occasionally with
    :func:`compact_stream_index`.
    """
    from tundradb_spark.pipeline.classify import calibration_partials

    def _sink(batch: DataFrame, epoch: int) -> None:
        partials = calibration_partials(
            batch, prob_col, label_col, n_bins
        )
        # n_bins rides every state row (r13): the readers rescale
        # bin -> threshold by THEIR n_bins, so a reader/writer
        # mismatch must be detectable in either direction
        _write_epoch(
            partials.withColumn("n_bins", F.lit(int(n_bins))), epoch, path
        )

    return _foreach_batch(stream, checkpoint, query_name or "calibration-bins", _sink)


def stream_gate_funnel(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    group_col: str = "lang",
    text_col: str = "text",
    max_bigram_rep: float = 0.5,
    quality_weights: list | None = None,
    min_quality: float = 0.5,
    n_quality_buckets: int = 256,
    quality_bigrams: bool = True,
    quality_target_precision: float | None = None,
    quality_calibration_path: str | None = None,
    quality_calibration_bins: int = 10,
    query_name: str | None = None,
) -> "StreamingQuery":
    """r13: continuously maintain gate-attrition partials from a LIVE
    document stream — the streaming half of
    :func:`~tundradb_spark.pipeline.recipe.gate_funnel`, so the ingest
    front door's losses (``stream_gate_corpus`` silently DROPS gated
    docs; this is where a pipeline watches what it dropped and why) are
    monitorable without re-scanning history.

    Per micro-batch: label every doc with its first-failing gate using
    the recipe's OWN inline predicates
    (:func:`~tundradb_spark.pipeline.recipe.gate_reasons`), aggregate
    ``(gate, group) → (n_docs, n_tokens)``, append under an ``epoch``
    partition.  Both partials are exact longs, so epoch sums merged by
    :func:`read_gate_funnel` equal the single-pass batch funnel
    BIT-EXACTLY (test-pinned).  State is
    ``gates × groups × epochs`` rows regardless of stream volume (fold
    with :func:`compact_stream_index` when epochs pile up).

    Calibrated knob (r14, r13 verdict item 2): with
    ``quality_target_precision`` + ``quality_calibration_path`` the
    quality gate's threshold is RE-PICKED from the live calibration
    state table at EVERY epoch (``foreachBatch`` runs driver-side, so
    the per-epoch read is possible here where it is not in the pure
    transform :func:`stream_gate_corpus`), and the picked value rides
    every partial row of that epoch as ``picked_min_quality`` — the
    audit trail a pipeline reads to see which knob each epoch's
    attrition was measured under, and the drift signal that decides
    when to restart the corpus gate.  One curve read per epoch:
    ``n_bins × epochs_so_far`` state rows in, an ``n_bins``-row
    collect — never prediction-volume-sized.  Without a target the
    column still exists and carries the hand-set ``min_quality``
    (NULL when there is no quality gate at all), so the state schema
    does not fork on the knob mode.

    Concurrency caveat (documented, not solved): the per-epoch read of
    the calibration table has NO snapshot isolation against a LIVE
    ``stream_calibration_bins`` writer — a read concurrent with an
    epoch commit (multi-file write / replay overwrite) can see a
    partial epoch and pick off a slightly stale or torn curve.  The
    blast radius is one funnel epoch's knob, and the value is RECORDED
    (``picked_min_quality``), so the audit trail shows exactly which
    knob each epoch used; run the calibration stream on a slower
    trigger than the funnel, or point the funnel at a
    :func:`compact_stream_index`-folded copy, when that epoch-level
    wobble matters.
    """
    from tundradb_spark.pipeline.recipe import gate_funnel

    _validate_gate_knob(
        quality_weights, quality_target_precision, quality_calibration_path
    )

    def _sink(batch: DataFrame, epoch: int) -> None:
        threshold = _resolve_gate_threshold(
            batch.sparkSession,
            min_quality,
            quality_target_precision,
            quality_calibration_path,
            quality_calibration_bins,
        )
        partials = gate_funnel(
            batch, group_col=group_col, text_col=text_col,
            max_bigram_rep=max_bigram_rep,
            quality_weights=quality_weights, min_quality=threshold,
            n_quality_buckets=n_quality_buckets,
            quality_bigrams=quality_bigrams,
        )
        picked = (
            F.lit(float(threshold))
            if quality_weights is not None
            else F.lit(None).cast("double")
        )
        _write_epoch(
            partials.withColumn("picked_min_quality", picked), epoch, path
        )

    return _foreach_batch(stream, checkpoint, query_name or "gate-funnel", _sink)


def read_gate_funnel(spark, path: str, group_col: str = "lang") -> DataFrame:
    """Merge all epochs of a :func:`stream_gate_funnel` table (plain
    sums — both partials are exact longs) — identical to running
    ``recipe.gate_funnel`` over every document the stream has
    delivered.  ``gates × groups × epochs`` rows in, ``gates × groups``
    out."""
    return (
        spark.read.parquet(path)
        .groupBy("gate", group_col)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def read_curation_report(
    spark,
    funnel_path: str,
    group_col: str = "lang",
    calibration_path: str | None = None,
    target_precision: float | None = None,
    n_bins: int = 10,
) -> DataFrame:
    """The LIVE face of ``pipeline.recipe.curation_report`` (r14):
    compose the report's flat ``(section, metric, grp, value)`` frame
    from the state tables a streaming curation pipeline already
    maintains — no corpus re-scan, ever:

    - ``funnel_docs`` / ``funnel_tokens`` / ``corpus`` from the
      :func:`stream_gate_funnel` table (epoch partials are exact longs;
      corpus totals are the funnel sums by construction — every
      delivered doc carries exactly one gate label).
    - ``quality_gate`` (with ``calibration_path`` + a
      ``target_precision``) from the :func:`stream_calibration_bins`
      table: the live operating-point pick
      (:func:`calibrated_gate_threshold`'s rule) plus its achieved
      precision/recall.

    The ``dedup`` and ``leakage`` sections are batch-only by design —
    their inputs (normalized-hash groups, duplicate-pair graphs) have
    no streaming state table; run the batch
    :func:`~tundradb_spark.pipeline.recipe.curation_report` for the
    full artifact.  Cost: ``gates x groups x epochs`` + ``n_bins x
    epochs`` state rows in, report rows out — never stream-volume-
    sized."""
    from tundradb_spark.pipeline.classify import _pick_operating_point

    fun = read_gate_funnel(spark, funnel_path, group_col)
    sections = [
        fun.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("funnel_docs").alias("section"),
                        F.col("n_docs").cast("double").alias("value"),
                    ),
                    F.struct(
                        F.lit("funnel_tokens").alias("section"),
                        F.col("n_tokens").cast("double").alias("value"),
                    ),
                )
            ).alias("m"),
            F.col("gate").alias("metric"),
            F.col(group_col).cast("string").alias("grp"),
        ).select(
            F.col("m.section").alias("section"),
            "metric",
            "grp",
            F.col("m.value").alias("value"),
        ),
        fun.agg(
            F.sum("n_docs").alias("__d"), F.sum("n_tokens").alias("__t")
        ).select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("n_docs").alias("metric"),
                        F.col("__d").cast("double").alias("value"),
                    ),
                    F.struct(
                        F.lit("total_tokens").alias("metric"),
                        F.col("__t").cast("double").alias("value"),
                    ),
                )
            ).alias("m")
        ).select(
            F.lit("corpus").alias("section"),
            F.col("m.metric").alias("metric"),
            F.lit(None).cast("string").alias("grp"),
            F.col("m.value").alias("value"),
        ),
    ]
    if (calibration_path is None) != (target_precision is None):
        raise ValueError(
            "calibration_path and target_precision go together (a"
            " curve without a target, or vice versa, cannot pick the"
            " quality_gate operating point)"
        )
    if calibration_path is not None:
        pick = _pick_operating_point(
            read_precision_thresholds(
                spark, calibration_path, n_bins
            ).collect(),
            target_precision,
        )
        sections.append(
            spark.createDataFrame(
                [
                    ("quality_gate", "picked_threshold", None,
                     float(pick["threshold"])),
                    ("quality_gate", "precision", None,
                     pick["precision"]),
                    ("quality_gate", "recall", None, pick["recall"]),
                ],
                "section string, metric string, grp string,"
                " value double",
            )
        )
    out = sections[0]
    for sec in sections[1:]:
        out = out.unionByName(sec)
    return out


def read_calibration(
    spark,
    path: str,
    n_bins: int = 10,
) -> DataFrame:
    """Merge all epochs of a :func:`stream_calibration_bins` table
    (plain sums — every partial is additive) and score them through
    ``pipeline.classify.calibration_score``, the batch operator's own
    scoring expressions — identical to running ``calibration_bins``
    over every row the stream has delivered.  The merge is
    ``n_bins × epochs`` rows in, ``<= n_bins`` rows out — never touches
    prediction volume."""
    from tundradb_spark.pipeline.classify import calibration_score

    # mergeSchema: an n_bins-straddling table (pre-/post-r13 epochs) must
    # surface the column deterministically, not per sampled file
    state = spark.read.option("mergeSchema", "true").parquet(path)
    _check_state_n_bins(state, n_bins, path)
    merged = state.groupBy("bin").agg(
        F.sum("n").alias("n"),
        F.sum("__sp").cast("decimal(38,12)").alias("__sp"),
        F.sum("__sy").alias("__sy"),
    )
    return calibration_score(merged, n_bins)


def _check_state_n_bins(state: DataFrame, n_bins: int, path: str) -> None:
    """Reader/writer n_bins mismatch detection for the calibration
    state table.  Both directions are silent-wrong-curve bugs: a
    SMALLER reader n_bins drops the high bins through the scoring
    grid's left join; a LARGER one rescales every ``bin/n_bins``
    threshold (bin 9 of a 10-bin writer scores as 0.45 under a 20-bin
    reader) and zero-fills the phantom top bins.  r13 state rows carry
    the writer's ``n_bins``; pre-r13 tables fall back to the max-bin
    lower bound (the only direction the data itself can prove)."""
    if "n_bins" in state.columns:
        # a table whose epochs STRADDLE the r13 upgrade reads pre-r13
        # rows as NULL n_bins (and parquet schema inference may or may
        # not surface the column at all depending on which file it
        # samples — the caller reads with mergeSchema so this branch is
        # deterministic); NULL rows fall under the max-bin lower-bound
        # check below, only explicit writer stamps are compared here
        written = sorted(
            r["n_bins"]
            for r in state.select("n_bins").distinct().collect()
            if r["n_bins"] is not None
        )
        if written and written != [n_bins]:
            raise ValueError(
                f"state table at {path!r} was written with n_bins="
                f"{written} but the reader was given"
                f" n_bins={n_bins} — thresholds would silently rescale;"
                f" pass the writer's n_bins"
            )
        state = state.filter(F.col("n_bins").isNull())
    top = state.agg(F.max("bin").alias("m")).collect()[0]["m"]
    if top is not None and top >= n_bins:
        raise ValueError(
            f"state table at {path!r} holds bin {top} but the reader was"
            f" given n_bins={n_bins} — pass the n_bins the stream was"
            f" written with (>= {top + 1})"
        )


def read_precision_thresholds(
    spark,
    path: str,
    n_bins: int = 10,
) -> DataFrame:
    """Merge all epochs of a :func:`stream_calibration_bins` table and
    score them through the BATCH operating-point expressions
    (``pipeline.classify.precision_threshold_score``) — the live
    keep-rule precision/recall curve at every candidate threshold,
    identical to running
    :func:`~tundradb_spark.pipeline.classify.precision_thresholds`
    over every prediction the stream has delivered (r13; same
    state table as :func:`read_calibration`, no extra stream).  Feed
    the result to
    :func:`~tundradb_spark.pipeline.classify.calibrated_threshold`'s
    selection rule to re-pick the gate knob as the stream's class
    balance drifts."""
    from tundradb_spark.pipeline.classify import precision_threshold_score

    # mergeSchema: deterministic n_bins column surfacing (see
    # read_calibration)
    state = spark.read.option("mergeSchema", "true").parquet(path)
    _check_state_n_bins(state, n_bins, path)
    merged = state.groupBy("bin").agg(
        F.sum("n").alias("n"),
        F.sum("__sy").alias("__sy"),
    )
    return precision_threshold_score(merged, n_bins)


def read_winsorize_bounds(
    spark,
    path: str,
    events: DataFrame,
    bounds: tuple[float, float],
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    n_bins: int = 1000,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """APPROXIMATE streaming winsorization: clamp ``events`` into the
    per-group ``[q(p_lo), q(p_hi)]`` band estimated from a
    :func:`stream_histogram_bins` table — the documented at-scale
    alternative to the batch :func:`~tundradb_spark.operators.analytics.
    winsorize` (whose exact rank medians need a full sort and are NOT
    mergeable across epochs; histogram counters are).

    Contract: the clip bounds are histogram-quantile ESTIMATES — within
    one bin width of the exact type-1 quantile (the
    histogram_quantiles guarantee), so this is a rows-only/approximate
    operator, not an oracle-exact one; the parity test pins the bounds
    to within bin width of the batch operator's exact band.  Same
    output shape as the batch operator: ``(id, group, value, clipped,
    flag)`` with ``flag IN ('kept', 'clipped', 'domain')`` — domain
    rows (NaN/±Inf/|v| >= 1e9) pass through unclipped exactly as in
    batch.
    """
    from tundradb_spark.operators.analytics import _metric_tagged
    from tundradb_spark.operators.relational import _quantile_label

    if not 0.0 <= p_lo <= p_hi <= 1.0:
        raise ValueError(
            f"need 0 <= p_lo <= p_hi <= 1, got ({p_lo}, {p_hi})"
        )
    # select the quantile columns by their COMPUTED labels, never by
    # position (r10 advisor): histogram_estimate emits one column per
    # DISTINCT prob, so p_lo == p_hi (allowed by the batch winsorize
    # contract) would make a positional [2]/[3] pick raise or grab the
    # wrong column — dedupe the probs and reuse the single column.
    lo_col, hi_col = _quantile_label(p_lo), _quantile_label(p_hi)
    probs = [p_lo] if lo_col == hi_col else [p_lo, p_hi]
    qs = read_histogram_quantiles(
        spark, path, group_col, probs, bounds, n_bins
    )
    b = qs.select(
        group_col,
        F.col(lo_col).alias("__qlo"),
        F.col(hi_col).alias("__qhi"),
    )
    ev = _metric_tagged(events, group_col, value_col, id_col)
    v = F.col(value_col)
    out = ev.join(F.broadcast(b), group_col, "left")
    clipped = F.when(
        F.col("__ok"),
        F.greatest(F.col("__qlo"), F.least(F.col("__qhi"), v)),
    )
    nonfinite = F.isnan(v) | (F.abs(v) == F.lit(float("inf")))
    return out.select(
        id_col,
        group_col,
        F.when(F.col("__ok") | ~nonfinite, v).alias(value_col),
        clipped.alias("clipped"),
        F.when(~F.col("__ok"), F.lit("domain"))
        .when((v < F.col("__qlo")) | (v > F.col("__qhi")), F.lit("clipped"))
        .otherwise(F.lit("kept"))
        .alias("flag"),
    )


def stream_token_counts(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    query_name: str | None = None,
) -> "StreamingQuery":
    """Continuously maintain corpus token-type counts
    (``pipeline.text.token_counts`` layout, exact longs) from a
    document stream.  Counts are additive, so per-epoch partials summed
    across epochs equal the single-pass batch aggregate exactly, and
    :func:`read_vocab_coverage` re-applies the batch operator's own
    curve half (``vocab_coverage_curve`` — shared verbatim) to the
    merged counts: stream-maintained coverage ==
    ``vocab_coverage(all_docs)`` (test-pinned, including types whose
    counts straddle epochs).

    State per epoch is that epoch's type universe — vocabulary-bounded,
    not corpus-bounded; fold occasionally with
    :func:`compact_stream_index`.
    """
    from tundradb_spark.pipeline.text import token_counts

    def _sink(batch: DataFrame, epoch: int) -> None:
        counts = token_counts(batch, text_col)
        _write_epoch(counts, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "token-counts", _sink)


def read_vocab_coverage(spark, path: str, sizes: list[int]) -> DataFrame:
    """Merge all epochs of a :func:`stream_token_counts` table (plain
    sums) and run the batch operator's own ``vocab_coverage_curve`` —
    identical to ``vocab_coverage`` over every document the stream has
    delivered."""
    from tundradb_spark.pipeline.text import vocab_coverage_curve

    merged = (
        spark.read.parquet(path)
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return vocab_coverage_curve(merged, sizes)


def stream_drift_bins(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    bounds: tuple[float, float],
    n_bins: int = 10,
    group_col: str = "event_type",
    value_col: str = "value",
    query_name: str | None = None,
) -> "StreamingQuery":
    """r11: continuously maintain per-(group, bin) histogram counts in
    the :func:`~tundradb_spark.operators.analytics.drift_bin_counts`
    layout (``(group, __bin, __c)`` with ``__bin = -1`` for
    metric-domain rows) from an event stream — the live "current"
    side of :func:`~tundradb_spark.operators.analytics.
    distribution_drift`, so a deployment can score today's traffic
    against a frozen reference histogram continuously instead of
    re-scanning the stream's history per check.

    ``bounds`` are FIXED up front (the streaming-histogram discipline:
    a stream has no final min/max; out-of-band finite values clamp to
    the edge bins, domain rows count at ``__bin = -1``).  Counts are
    additive, so per-epoch partials summed across epochs equal the
    single-pass batch binning exactly, and :func:`read_drift`
    re-applies the batch operator's OWN scoring half (``drift_score``
    — shared verbatim, not copied) to the merged counts:
    stream-maintained drift == ``distribution_drift(ref, all_rows)``
    (test-pinned, including groups that reach ``min_n`` only across
    epochs and the ``excluded`` domain-count visibility).

    State per epoch is ``groups × (n_bins + 1)`` longs regardless of
    stream volume; fold occasionally with :func:`compact_stream_index`.
    """
    from tundradb_spark.operators.analytics import drift_bin_counts

    def _sink(batch: DataFrame, epoch: int) -> None:
        counts = drift_bin_counts(
            batch, group_col, value_col, bounds, n_bins
        )
        _write_epoch(counts, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "drift-bins", _sink)


def read_drift(
    spark,
    path: str,
    ref: DataFrame,
    bounds: tuple[float, float],
    n_bins: int = 10,
    group_col: str = "event_type",
    value_col: str = "value",
    min_n: int = 100,
    eps: float = 1e-6,
) -> DataFrame:
    """Merge all epochs of a :func:`stream_drift_bins` table into
    per-(group, bin) counts and score them against the ``ref``
    snapshot — IDENTICAL to ``distribution_drift(ref, delivered)``
    when the stream has delivered exactly those rows (counts merge by
    plain sum; binning and scoring are shared verbatim via
    ``drift_bin_counts`` / ``drift_score``).  The reference side is
    binned HERE with the same bounds, so ref and stream are always on
    the same grid."""
    from tundradb_spark.operators.analytics import (
        drift_bin_counts,
        drift_score,
    )

    merged = (
        spark.read.parquet(path)
        .groupBy(group_col, "__bin")
        .agg(F.sum("__c").alias("__c"))
    )
    rb = drift_bin_counts(ref, group_col, value_col, bounds, n_bins)
    return drift_score(rb, merged, group_col, min_n=min_n, eps=eps)


def read_token_drift(
    spark,
    path: str,
    ref_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Merge all epochs of a :func:`stream_token_counts` table (the
    sink ALREADY maintained for the live vocab-coverage curve — one
    state table serves both readers) and score the stream's token
    distribution against the ``ref_docs`` snapshot — IDENTICAL to
    ``token_drift(ref_docs, delivered)`` when the stream has delivered
    exactly those documents (counts merge by plain sum; tokenization
    and scoring shared verbatim via ``token_counts`` /
    ``token_drift_score``).  Live corpus-composition monitoring: a
    crawl ingest stream scored continuously against the corpus the
    current tokenizer/LM/DSIR weights were fit on."""
    from tundradb_spark.pipeline.text import (
        token_counts,
        token_drift_score,
    )

    merged = (
        spark.read.parquet(path)
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return token_drift_score(token_counts(ref_docs, text_col), merged)


def stream_trend_moments(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    epoch_us: int,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    query_name: str | None = None,
) -> "StreamingQuery":
    """r11: continuously maintain per-group OLS moment partials
    (``operators.analytics.trend_moments`` layout: 2 longs + 5 exact
    decimal(38,12) sums) from an event stream — live trend monitoring
    ("is this metric drifting over time, and how fast?") with
    O(groups) state per epoch.

    Additivity does the work: per-epoch partials summed across epochs
    equal the single-pass batch aggregate BIT-EXACTLY, and
    :func:`read_trend` merges them and fits with the batch operator's
    own closed form (``trend_score``, shared verbatim):
    stream-maintained trends == ``value_trend(all_rows)`` (test-pinned,
    including groups that cross ``min_n`` only across epochs and the
    excluded-count visibility).  ``epoch_us`` is the same data-fact
    time origin the batch operator takes — fixed once for the stream's
    lifetime.
    """
    from tundradb_spark.operators.analytics import trend_moments

    def _sink(batch: DataFrame, epoch: int) -> None:
        moments = trend_moments(
            batch, group_col, value_col, ts_col, epoch_us
        )
        _write_epoch(moments, epoch, path)

    return _foreach_batch(stream, checkpoint, query_name or "trend-moments", _sink)


def read_trend(
    spark,
    path: str,
    group_col: str = "event_type",
    min_n: int = 100,
) -> DataFrame:
    """Merge all epochs of a :func:`stream_trend_moments` table into
    per-group moments and fit — IDENTICAL to ``value_trend`` over
    everything the stream has delivered (decimal partial sums merge
    exactly; the closed form is shared verbatim via
    ``operators.analytics.trend_score``)."""
    from tundradb_spark.operators.analytics import trend_score

    merged = (
        spark.read.parquet(path)
        .groupBy(group_col)
        .agg(
            F.sum("n_group").alias("n_group"),
            F.sum("__ndom").alias("__ndom"),
            *[
                F.sum(c).cast("decimal(38,12)").alias(c)
                for c in ("__sx", "__sy", "__sxx", "__syy", "__sxy")
            ],
            F.min("__minx").alias("__minx"),
            F.max("__maxx").alias("__maxx"),
            F.min("__miny").alias("__miny"),
            F.max("__maxy").alias("__maxy"),
        )
    )
    return trend_score(merged, group_col, min_n)
