"""Structured Streaming extensions.

The reference has no streaming surface at all (SURVEY.md §2.12); these
operators extend the engine with the standard Spark streaming shapes a
continuously-ingesting graph/analytics deployment needs:

- :func:`stream_nodes` / :func:`stream_edges` — continuous node/edge
  ingestion into Database tables via ``foreachBatch`` (per-batch atomic
  appends, engine-assigned per-schema IDs)
- :func:`windowed_event_counts` — watermarked sliding-window aggregation
  over an event stream (late data handled by the watermark)
- :func:`session_window_agg` — event-time gap sessionization via the
  native ``session_window`` (identical expression in batch and streaming)
- :func:`sessionize` — custom stateful operator (session windows with gap
  timeout) via ``applyInPandasWithState``
- :func:`stream_cusum_alarms` — per-key CUSUM drift alarms with O(1)
  exact-decimal state, batch-equivalent by construction
- :func:`streaming_dedup` — watermark-bounded exact dedup
  (``dropDuplicates`` with state cleanup)
- :func:`stream_stream_join` — watermarked stream-stream join with a
  mandatory event-time band (state bounded on both sides)
- :func:`stream_index_vectors` — incremental maintenance of the
  cell-partitioned ANN index from a live vector stream
- :func:`stream_gate_corpus` — the corpus-prep gate phase (PII +
  repetition + watermark dedup + deterministic sample) over a live
  document stream
- :func:`stream_hll_registers` / :func:`read_hll_distinct` — live
  per-group distinct-count sketches with O(groups · 2^p) state
  (register max-merge == sketch union)
- :func:`stream_cm_counts` / :func:`read_cm_estimate` — live Count-Min
  frequency sketch with O(d·w) state (counter sum == sketch union)
- :func:`stream_histogram_bins` / :func:`read_histogram_quantiles` —
  live per-group quantile estimates with O(groups · n_bins) state
- :func:`stream_funnel_events` / :func:`read_funnel` — live ordered
  funnels: per-epoch entry-min + window-pruned step events, read-time
  merge == the batch funnel exactly
- :func:`stream_cohort_periods` / :func:`read_cohort_retention` — live
  cohort retention: distinct (user, period) pairs per epoch,
  union-mergeable == the batch operator exactly
- :func:`stream_markov_pairs` / :func:`merge_markov_counts` — live
  first-order transition counts with O(1) per-user state (the last
  event type); summed pairs == the batch matrix under in-order delivery
- :func:`stream_event_ngrams` / :func:`merge_event_ngrams` — live
  sequential n-gram counts with O(n) per-user state (the trailing n−1
  event types); merged grams == the batch operator under in-order
  delivery
- :func:`stream_cooccurrence_pairs` / :func:`read_cooccurrence` — live
  event-type affinity with ``users × types`` state per epoch (distinct
  pair union-merge == the batch event_cooccurrence exactly)
- :func:`stream_outlier_moments` / :func:`read_outliers` — live
  per-group z-score moments with O(groups) state per epoch (exact
  decimal partials; sum-merge + shared scoring == the batch
  value_outliers exactly, domain glitch rows included)
- :func:`read_winsorize_bounds` — approximate streaming
  winsorization: clamp a frame into per-group quantile bands estimated
  from the live histogram sketches (exact rank quantiles are not
  mergeable; histogram counters are — bounds within one bin width,
  test-pinned)
- :func:`stream_benford_counts` / :func:`read_benford` — live
  first-digit conformance with ``groups × 11`` longs of state per epoch
  (count sum-merge + the batch operator's shared scoring ==
  benford_deviation exactly)
- :func:`stream_token_counts` / :func:`read_vocab_coverage` — live
  tokenizer-sizing curve with vocabulary-bounded state per epoch
  (count sum-merge + the batch operator's shared curve ==
  vocab_coverage exactly)
- :func:`stream_calibration_bins` / :func:`read_calibration` — live
  reliability-diagram bins with ``n_bins`` rows of state per epoch
  (decimal partial sum-merge + the batch operator's shared scoring ==
  calibration_bins exactly); :func:`read_precision_thresholds` reads
  the SAME state table into the live keep-rule operating-point curve
  (== pipeline.classify.precision_thresholds exactly — r13's
  calibrated quality-gate knob, re-pickable as the stream drifts)
- :func:`stream_gate_funnel` / :func:`read_gate_funnel` — live
  gate-attrition monitoring for the ingest front door (r13):
  per-epoch ``(gate, group)`` doc/token partials from the recipe's own
  inline predicates; exact-long sum-merge == recipe.gate_funnel over
  every delivered document (what ``stream_gate_corpus`` dropped, and
  why, without re-scanning history)
- :func:`stream_drift_bins` / :func:`read_drift` — live distribution
  drift (PSI / Jensen-Shannon / total-variation) against a frozen
  reference snapshot with ``groups × (n_bins + 1)`` longs of state per
  epoch (count sum-merge + the batch operator's shared binning and
  scoring == distribution_drift exactly)
- :func:`read_token_drift` — live corpus-composition drift (token-level
  JSD / TV / new-token mass vs a reference snapshot) from the SAME
  ``stream_token_counts`` table the vocab-coverage reader uses (one
  state table, two readers; == token_drift exactly)
- :func:`stream_trend_moments` / :func:`read_trend` — live per-group
  OLS trend (slope/intercept/r² of a metric over time) with O(groups)
  exact-decimal moment state per epoch (sum-merge + the batch
  operator's shared closed form == value_trend exactly)
- :func:`compact_stream_index` — per-epoch → single-epoch fold for any
  of the streaming index/sketch tables; the partition layout is read
  from the table's own directories
- :func:`calibrated_gate_threshold` — the streaming gate's measured
  knob (r14): read the live calibration table and pick with the batch
  selection rule; ``stream_gate_corpus`` accepts
  ``quality_target_precision`` + ``quality_calibration_path`` (picked
  at stream start), ``stream_gate_funnel`` re-picks per epoch and
  records ``picked_min_quality`` in its partials
- :func:`read_curation_report` — the live face of
  ``recipe.curation_report`` (r14): funnel/corpus/quality_gate
  sections composed from the state tables alone (dedup/leakage stay
  batch-only — they have no streaming state)
"""

from tundradb_spark.streaming.ops import (
    compact_stream_index,
    read_cm_estimate,
    merge_event_ngrams,
    merge_markov_counts,
    read_cohort_retention,
    read_funnel,
    stream_event_ngrams,
    stream_outlier_moments,
    stream_cooccurrence_pairs,
    read_cooccurrence,
    stream_benford_counts,
    read_benford,
    calibrated_gate_threshold,
    stream_calibration_bins,
    stream_gate_funnel,
    read_calibration,
    read_curation_report,
    read_gate_funnel,
    read_precision_thresholds,
    read_winsorize_bounds,
    stream_token_counts,
    read_vocab_coverage,
    stream_drift_bins,
    read_drift,
    read_token_drift,
    stream_trend_moments,
    read_trend,
    read_outliers,
    stream_markov_pairs,
    stream_cohort_periods,
    stream_funnel_events,
    read_heavy_hitters,
    read_histogram_quantiles,
    read_weighted_sample,
    read_hll_distinct,
    session_window_agg,
    sessionize,
    stream_cusum_alarms,
    stream_gate_corpus,
    stream_cm_counts,
    stream_heavy_keys,
    stream_histogram_bins,
    stream_weighted_sample,
    stream_hll_registers,
    stream_ingest_dedup,
    stream_edges,
    stream_index_vectors,
    stream_nodes,
    stream_stream_join,
    streaming_dedup,
    windowed_event_counts,
)

__all__ = [
    "stream_nodes",
    "stream_edges",
    "windowed_event_counts",
    "session_window_agg",
    "sessionize",
    "stream_cusum_alarms",
    "streaming_dedup",
    "stream_stream_join",
    "stream_index_vectors",
    "stream_gate_corpus",
    "stream_ingest_dedup",
    "stream_hll_registers",
    "read_hll_distinct",
    "stream_cm_counts",
    "read_cm_estimate",
    "compact_stream_index",
    "stream_histogram_bins",
    "read_histogram_quantiles",
    "stream_heavy_keys",
    "read_heavy_hitters",
    "stream_weighted_sample",
    "read_weighted_sample",
    "stream_funnel_events",
    "read_funnel",
    "stream_cohort_periods",
    "read_cohort_retention",
    "stream_markov_pairs",
    "merge_markov_counts",
    "stream_event_ngrams",
    "merge_event_ngrams",
    "stream_outlier_moments",
    "read_outliers",
    "stream_cooccurrence_pairs",
    "read_cooccurrence",
    "stream_benford_counts",
    "read_benford",
    "calibrated_gate_threshold",
    "stream_calibration_bins",
    "stream_gate_funnel",
    "read_calibration",
    "read_curation_report",
    "read_gate_funnel",
    "read_precision_thresholds",
    "read_winsorize_bounds",
    "stream_token_counts",
    "read_vocab_coverage",
    "stream_drift_bins",
    "read_drift",
    "read_token_drift",
    "stream_trend_moments",
    "read_trend",
]
