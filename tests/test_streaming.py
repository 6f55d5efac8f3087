"""Structured Streaming tests: file-source micro-batches driven with
processAllAvailable (deterministic — no rate/clock dependence)."""

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tundradb_spark.database import Database
from tundradb_spark.streaming import (
    stream_edges,
    stream_nodes,
    streaming_dedup,
    windowed_event_counts,
)

NODE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("age", LongType()),
    ]
)

EVENT_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _write_json(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").json(path)


class TestIngestion:
    def test_stream_nodes_assigns_ids(self, spark, tmp_path):
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        db = Database(spark)
        db.create_schema("SUser", {"name": "string", "age": "long"})
        db.create_node("SUser", name="seed", age=1)  # id 0 pre-assigned

        _write_json(spark, src, [("a", 10), ("b", 20)], NODE_SCHEMA)
        stream = spark.readStream.schema(NODE_SCHEMA).json(src)
        q = stream_nodes(db, "SUser", stream, ckpt)
        try:
            q.processAllAvailable()
            _write_json(spark, src, [("c", 30)], NODE_SCHEMA)
            q.processAllAvailable()
        finally:
            q.stop()
        rows = {(r.id, r.name) for r in db.get_table("SUser").collect()}
        assert {r[1] for r in rows} == {"seed", "a", "b", "c"}
        assert {r[0] for r in rows} == {0, 1, 2, 3}  # contiguous per-schema ids

    def test_stream_edges(self, spark, tmp_path):
        src = str(tmp_path / "esrc")
        ckpt = str(tmp_path / "eckpt")
        os.makedirs(src)
        db = Database(spark)
        db.create_schema("SUser", {"name": "string"})
        db.create_edge_schema("FOLLOWS", {"w": "long"})
        for n in ["x", "y", "z"]:
            db.create_node("SUser", name=n)
        edge_schema = StructType(
            [
                StructField("source_id", LongType()),
                StructField("target_id", LongType()),
                StructField("w", LongType()),
            ]
        )
        _write_json(spark, src, [(0, 1, 5), (1, 2, 7)], edge_schema)
        stream = spark.readStream.schema(edge_schema).json(src)
        q = stream_edges(db, "FOLLOWS", stream, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        edges = {(r.source_id, r.target_id, r.w) for r in db.get_edge_table("FOLLOWS").collect()}
        assert edges == {(0, 1, 5), (1, 2, 7)}
        ids = [r.id for r in db.get_edge_table("FOLLOWS").collect()]
        assert sorted(ids) == list(range(min(ids), min(ids) + 2))


class TestWindowedAgg:
    def test_event_window_counts(self, spark, tmp_path):
        src = str(tmp_path / "ev")
        ckpt = str(tmp_path / "evck")
        out = str(tmp_path / "evout")
        os.makedirs(src)
        from datetime import datetime

        rows = [
            (datetime(2026, 1, 1, 10, 5), 1, "view", 1.0),
            (datetime(2026, 1, 1, 10, 20), 2, "view", 2.0),
            (datetime(2026, 1, 1, 11, 10), 1, "buy", 10.0),
        ]
        _write_json(spark, src, rows, EVENT_SCHEMA)
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("memory")
            .queryName("winagg")
            .outputMode("append" if False else "complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r.window_start.hour, r.event_type): (r.n_events, r.total_value)
                for r in spark.table("winagg").collect()
            }
        finally:
            q.stop()
        assert got[(10, "view")] == (2, 3.0)
        assert got[(11, "buy")] == (1, 10.0)


class TestStreamingDedup:
    def test_dropduplicates_with_watermark(self, spark, tmp_path):
        src = str(tmp_path / "dd")
        ckpt = str(tmp_path / "ddck")
        os.makedirs(src)
        from datetime import datetime

        t0 = datetime(2026, 1, 1, 9, 0)
        rows = [
            (t0, 1, "view", 1.0),
            (t0, 1, "view", 1.0),  # exact duplicate
            (t0, 2, "view", 1.0),
        ]
        _write_json(spark, src, rows, EVENT_SCHEMA)
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        dd = streaming_dedup(stream, keys=["user_id", "event_type"])
        q = (
            dd.writeStream.format("memory")
            .queryName("ddout")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.table("ddout").collect()
        finally:
            q.stop()
        assert len(got) == 2  # duplicate dropped


class TestSessionize:
    def test_sessions_accumulate(self, spark, tmp_path):
        src = str(tmp_path / "sess")
        ckpt = str(tmp_path / "sessck")
        os.makedirs(src)
        from datetime import datetime

        from tundradb_spark.streaming import sessionize

        rows = [
            (datetime(2026, 1, 1, 10, 0, 0), 1, "view", 1.0),
            (datetime(2026, 1, 1, 10, 0, 30), 1, "view", 2.0),
            (datetime(2026, 1, 1, 10, 0, 10), 2, "view", 5.0),
        ]
        _write_json(spark, src, rows, EVENT_SCHEMA)
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        sess = sessionize(stream, gap_ms=2_000)
        q = (
            sess.writeStream.format("memory")
            .queryName("sessout")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        # pending processing-time timeouts keep scheduling batches, so
        # processAllAvailable never quiesces — poll the sink instead
        got = {}
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                rows = spark.table("sessout").collect()
                got = {r.user_id: r for r in rows if r.status == "closed"}
                if len(got) == 2:
                    break
                time.sleep(1)
        finally:
            q.stop()
        assert got[1].n_events == 2
        assert got[1].total_value == 3.0
        assert got[1].status == "closed"
        assert got[1].session_end.second == 30
        assert got[2].n_events == 1


class TestSessionWindowAgg:
    def test_batch_mode_merges_by_gap(self, spark):
        from datetime import datetime

        from tundradb_spark.streaming import session_window_agg

        rows = [
            (datetime(2026, 1, 1, 10, 0, 0), 1, "view", 1.0),
            (datetime(2026, 1, 1, 10, 10, 0), 1, "view", 2.0),   # merges (<30m)
            (datetime(2026, 1, 1, 11, 0, 0), 1, "view", 4.0),    # new session
            (datetime(2026, 1, 1, 10, 5, 0), 2, "view", 8.0),
        ]
        df = spark.createDataFrame(rows, EVENT_SCHEMA)
        out = sorted(
            session_window_agg(df, gap="30 minutes").collect(),
            key=lambda r: (r.user_id, r.session_start_us),
        )
        assert len(out) == 3
        s1, s2, s3 = out
        # user 1: 10:00+10:10 merge (10 min < 30 min gap), 11:00 is new
        assert (s1.user_id, s1.n_events, s1.total_value) == (1, 2, 3.0)
        assert s1.session_end_us - s1.session_start_us == 600_000_000
        assert (s2.user_id, s2.n_events, s2.total_value) == (1, 1, 4.0)
        assert s2.session_start_us - s1.session_end_us == 3000_000_000
        assert (s3.user_id, s3.n_events) == (2, 1)

    def test_streaming_mode_watermark_closes_sessions(self, spark, tmp_path):
        # the SAME expression over readStream: sessions whose close the
        # watermark has passed emit in append mode; the tail session (within
        # the delay of max event time) is withheld as still-open state
        from datetime import datetime

        from tundradb_spark.streaming import session_window_agg

        src = str(tmp_path / "swsrc")
        ckpt = str(tmp_path / "swck")
        os.makedirs(src)
        rows = [
            (datetime(2026, 1, 1, 10, 0, 0), 1, "view", 1.0),
            (datetime(2026, 1, 1, 10, 10, 0), 1, "view", 2.0),
            (datetime(2026, 1, 1, 20, 0, 0), 1, "view", 4.0),  # advances wm to 19:00
        ]
        _write_json(spark, src, rows, EVENT_SCHEMA)
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src).withWatermark(
            "ts", "1 hour"
        )
        agg = session_window_agg(stream, gap="30 minutes")
        q = (
            agg.writeStream.format("memory")
            .queryName("swout")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        got = spark.table("swout").collect()
        # only the 10:00-10:10 session closed before the final watermark
        assert len(got) == 1
        assert got[0].n_events == 2 and got[0].total_value == 3.0


class TestStreamStreamJoin:
    def test_banded_join_matches_batch(self, spark, tmp_path):
        from datetime import datetime

        from tundradb_spark.streaming import stream_stream_join

        lsrc, rsrc = str(tmp_path / "ssl"), str(tmp_path / "ssr")
        ckpt = str(tmp_path / "ssck")
        os.makedirs(lsrc)
        os.makedirs(rsrc)
        base = datetime(2026, 1, 1, 10, 0, 0)

        def at(minute):
            return datetime(2026, 1, 1, 10 + minute // 60, minute % 60)

        # left: error events; right: follow-up events — only follow-ups
        # within 30 min of the same user's error should match
        lrows = [(at(0), 1, "error", 0.0), (at(5), 2, "error", 0.0)]
        rrows = [
            (at(10), 1, "view", 1.0),   # +10 min -> match user 1
            (at(50), 1, "view", 2.0),   # +50 min -> outside band
            (at(20), 2, "buy", 3.0),    # +15 min -> match user 2
            (at(25), 3, "view", 4.0),   # no left user 3
        ]
        left_schema = EVENT_SCHEMA
        _write_json(spark, lsrc, lrows, left_schema)
        _write_json(spark, rsrc, rrows, left_schema)
        left = (
            spark.readStream.schema(left_schema).json(lsrc)
            .select("user_id", F.col("ts").alias("err_ts"))
        )
        right = (
            spark.readStream.schema(left_schema).json(rsrc)
            .select(
                "user_id",
                F.col("ts").alias("ev_ts"),
                F.col("event_type").alias("ev_type"),
                "value",
            )
        )
        joined = stream_stream_join(
            left, right, on="user_id", left_ts="err_ts", right_ts="ev_ts",
            within="30 minutes", watermark="2 hours",
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        got = {(r.user_id, r.ev_type, r.value) for r in spark.table("ssj").collect()}
        assert got == {(1, "view", 1.0), (2, "buy", 3.0)}
        # streaming result == the batch band join on the same frames
        lb = spark.createDataFrame(lrows, left_schema).select(
            "user_id", F.col("ts").alias("err_ts")
        )
        rb = spark.createDataFrame(rrows, left_schema).select(
            "user_id", F.col("ts").alias("ev_ts"),
            F.col("event_type").alias("ev_type"), "value",
        )
        batch = lb.join(
            rb,
            (lb.user_id == rb.user_id)
            & (rb.ev_ts >= lb.err_ts)
            & (rb.ev_ts <= lb.err_ts + F.expr("INTERVAL 30 minutes")),
        )
        assert {(r[0], r.ev_type, r.value) for r in batch.collect()} == got


class TestStreamIndexVectors:
    def test_incremental_index_probe_equals_batch(self, spark, tmp_path):
        from tundradb_spark.pipeline import similarity
        from tundradb_spark.streaming import stream_index_vectors

        src = str(tmp_path / "vsrc")
        idx = str(tmp_path / "vidx")
        ckpt = str(tmp_path / "vck")
        os.makedirs(src)
        schema = "vec_id long, embedding array<double>"

        def vecs(lo, hi):
            return [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
                    for i in range(lo, hi)]

        # two arriving batches of vectors
        spark.createDataFrame(vecs(0, 40), schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_index_vectors(
            stream, idx, ckpt, n_cells=8, dim=8)
        try:
            q.processAllAvailable()
            spark.createDataFrame(vecs(40, 80), schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        # the live index serves the standard pruned probe, identical to the
        # batch compute path over everything that has arrived
        query = [1.0, -2.0, 0.5, 3.0, -1.0, 0.0, 2.0, -0.5]
        got = similarity.ivf_ann_topk_indexed(
            spark, idx, query, 5, n_cells=8, n_probe=8)
        allvecs = spark.createDataFrame(vecs(0, 80), schema)
        want = similarity.ivf_ann_topk(
            allvecs, query, 5, n_cells=8, n_probe=8)
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()]

    def test_epoch_replay_is_idempotent(self, spark, tmp_path):
        """foreachBatch is at-least-once: replaying the same micro-batch
        (same epoch ids, same data — here simulated by re-running the
        stream with a FRESH checkpoint against the same index path) must
        not duplicate vectors.  mode('append') would double every row;
        the dynamic (cell, epoch) overwrite rewrites the same partitions."""
        import os

        from tundradb_spark.streaming import stream_index_vectors

        src = str(tmp_path / "rsrc")
        idx = str(tmp_path / "ridx")
        os.makedirs(src)
        schema = "vec_id long, embedding array<double>"
        rows = [(i, [float((i * 5 + j) % 7 - 3) for j in range(8)])
                for i in range(30)]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src)

        for attempt in ("ck1", "ck2"):  # second run replays epoch 0
            stream = spark.readStream.schema(schema).parquet(src)
            q = stream_index_vectors(
                stream, idx, str(tmp_path / attempt), n_cells=8, dim=8)
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        indexed = spark.read.parquet(idx)
        assert indexed.count() == 30
        assert indexed.select("vec_id").distinct().count() == 30


class TestStreamGateCorpus:
    def test_availablenow_equals_batch_gates(self, spark, tmp_path):
        """The streaming gate must pass exactly the batch recipe's gate
        phase (first-arrival dedup == min-id dedup here: one input file,
        ascending ids, identical texts adjacent)."""
        import os

        from tundradb_spark.streaming import stream_gate_corpus
        from tundradb_spark.pipeline.dedup import normalized_text
        from tundradb_spark.pipeline.sampling import sample_hash_col
        from tundradb_spark.pipeline.text import (
            DEFAULT_PII_PATTERNS,
            bigram_repetition_col,
            tokens,
        )

        src = str(tmp_path / "dsrc")
        os.makedirs(src)
        rows = [
            (0, "the quick brown fox jumps over the lazy dog", 1000),
            (1, "the quick brown fox jumps over the lazy dog", 2000),  # dup
            (2, "mail me at a@b.com please", 3000),                    # PII
            (3, "spam spam spam spam spam spam spam spam", 4000),      # repetitive
            (4, "a genuinely unique and useful document body", 5000),
        ]
        schema = "doc_id long, text string, ts timestamp"
        df = spark.createDataFrame(
            [(i, t, None) for i, t, _ in rows], "doc_id long, text string, ts long"
        ).withColumn("ts", F.expr("timestamp_micros(doc_id * 1000000)"))
        df.coalesce(1).write.mode("append").parquet(src)

        stream = spark.readStream.schema(df.schema).parquet(src)
        gated = stream_gate_corpus(stream, sample_bp=10000)
        out = str(tmp_path / "dout")
        ckpt = str(tmp_path / "dck")
        q = (gated.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        # 2 (PII) and 3 (bigram_rep = 1.0) gated out; exactly ONE of the
        # dup pair {0, 1} survives (within-batch dropDuplicates keeps an
        # arbitrary member — documented on stream_gate_corpus)
        assert len(got) == 2 and got[1] == 4 and got[0] in (0, 1)

    def test_quality_gate_drops_low_prob_rows(self, spark, tmp_path):
        """r12: the optional learned-quality gate (classify.lr_prob_col,
        stateless inline fold) drops rows scoring below min_quality —
        pinned against the batch lr_score probabilities on the same
        frozen weights."""
        import os

        from tundradb_spark.pipeline.classify import lr_score
        from tundradb_spark.streaming import stream_gate_corpus

        src = str(tmp_path / "qsrc")
        os.makedirs(src)
        texts = [
            (0, "solid careful analysis with detailed clear results"),
            (1, "buy cheap click now win free offer deal"),
            (2, "another genuinely informative research document body"),
        ]
        # ts shifted off epoch 0: a ts-0 row sits AT the stream's
        # initial watermark and dropDuplicatesWithinWatermark sheds it
        # as late (probed r12) — unrelated to the gate under test
        df = spark.createDataFrame(
            texts, "doc_id long, text string"
        ).withColumn(
            "ts", F.expr("timestamp_micros((doc_id + 7200) * 1000000)")
        )
        df.coalesce(1).write.mode("append").parquet(src)
        # frozen weights that happen to separate these rows: score them
        # with the batch path first and pick a threshold between the two
        weights = [(-1, 0.0)] + [(b, 0.03 * (b % 5) - 0.05)
                                 for b in range(64)]
        wdf = spark.createDataFrame(weights, "bucket long, weight double")
        probs = {r["doc_id"]: r["prob"] for r in lr_score(
            df, wdf, n_buckets=64).collect()}
        # threshold between the extremes so both sides are non-empty
        thr = (min(probs.values()) + max(probs.values())) / 2
        keep = {d for d, p in probs.items() if p >= thr}
        drop = set(probs) - keep
        assert keep and drop  # the fixture actually separates
        stream = spark.readStream.schema(df.schema).parquet(src)
        gated = stream_gate_corpus(
            stream, quality_weights=weights, min_quality=thr,
            n_quality_buckets=64,
        )
        out = str(tmp_path / "qout")
        ckpt = str(tmp_path / "qck")
        q = (gated.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert got == keep


class TestStreamIngestDedup:
    def test_cross_batch_near_dups_dropped(self, spark, tmp_path):
        import os

        from tundradb_spark.streaming import stream_ingest_dedup

        src = str(tmp_path / "isrc")
        out = str(tmp_path / "iout")
        sig = str(tmp_path / "isig")
        ckpt = str(tmp_path / "ick")
        os.makedirs(src)
        schema = "doc_id long, text string"
        b1 = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "a totally different first-batch document"),
            (2, "the quick brown fox jumps over the lazy dog"),  # in-batch dup of 0
        ]
        b2 = [
            (10, "the quick brown fox jumps over the lazy dog"),  # dup of corpus 0
            (11, "fresh second-batch content nobody has seen"),
        ]
        spark.createDataFrame(b1, schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(
            spark.createDataFrame(b1, schema).schema
        ).option("maxFilesPerTrigger", 1).parquet(src)
        q = stream_ingest_dedup(stream, out, sig, ckpt)
        try:
            q.processAllAvailable()
            spark.createDataFrame(b2, schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        kept = sorted(
            r["doc_id"] for r in spark.read.parquet(out).collect()
        )
        # 2 = in-batch exact dup of 0; 10 = cross-batch near-dup of corpus 0
        assert kept == [0, 1, 11]
        # signature table holds exactly the admitted docs (banded layout:
        # one row per (doc, band) — r6 prunable index shape)
        sigs = sorted(
            {r["doc_id"] for r in spark.read.parquet(sig).collect()}
        )
        assert sigs == [0, 1, 11]

    def test_fresh_checkpoint_refuses_reused_sig_path(self, spark, tmp_path):
        # r8 (advice): a fresh checkpoint restarts epoch numbering at 0,
        # and the replay-hygiene delete would silently wipe a prior run's
        # signature partitions — the sink must refuse instead
        from tundradb_spark.streaming import stream_ingest_dedup

        src = str(tmp_path / "fsrc")
        out = str(tmp_path / "fout")
        sig = str(tmp_path / "fsig")
        ckpt1 = str(tmp_path / "fck1")
        ckpt2 = str(tmp_path / "fck2")
        os.makedirs(src)
        schema = "doc_id long, text string"
        # two source files + maxFilesPerTrigger=1 → run 1 commits epochs
        # 0 AND 1 (a single-epoch run-1 is the documented narrow edge the
        # commit-log cross-check cannot distinguish from a replay of 0)
        spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog")], schema
        ).coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(
            [(1, "completely unrelated second epoch content here")], schema
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_ingest_dedup(stream, out, sig, ckpt1)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert spark.read.parquet(sig).count() > 0
        # second run: SAME sig_path, FRESH checkpoint — must fail loudly
        # on its first batch, leaving the run-1 signatures intact
        spark.createDataFrame(
            [(10, "second run document body")], schema
        ).coalesce(1).write.mode("append").parquet(src)
        stream2 = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q2 = stream_ingest_dedup(stream2, out, sig, ckpt2)
        with pytest.raises(Exception, match="lifetime is tied to its checkpoint"):
            try:
                q2.processAllAvailable()
            finally:
                q2.stop()
        assert {r["doc_id"] for r in spark.read.parquet(sig).collect()} == {0, 1}


class TestStreamHllRegisters:
    def test_stream_merge_equals_batch_sketch(self, spark, tmp_path):
        from tundradb_spark.pipeline.sketches import hll_distinct
        from tundradb_spark.streaming import read_hll_distinct, stream_hll_registers

        src = str(tmp_path / "hsrc")
        regs = str(tmp_path / "hregs")
        ckpt = str(tmp_path / "hck")
        os.makedirs(src)
        schema = "k string, g string"

        def rows(lo, hi):
            return [(f"key{i}", f"g{i % 3}") for i in range(lo, hi)]

        spark.createDataFrame(rows(0, 300), schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_hll_registers(stream, regs, ckpt, "k", "g", p=9)
        try:
            q.processAllAvailable()
            # second arriving batch OVERLAPS the first (keys 200-299):
            # distinct-count union, not sum
            spark.createDataFrame(rows(200, 600), schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(map(tuple, read_hll_distinct(spark, regs, "g", p=9).collect()))
        allrows = spark.createDataFrame(rows(0, 600), schema)
        want = sorted(map(tuple, hll_distinct(allrows, "k", "g", p=9).collect()))
        assert got == want

    def test_estimates_are_close_to_exact(self, spark, tmp_path):
        from tundradb_spark.streaming import read_hll_distinct, stream_hll_registers

        src = str(tmp_path / "h2src")
        regs = str(tmp_path / "h2regs")
        ckpt = str(tmp_path / "h2ck")
        os.makedirs(src)
        schema = "k string, g string"
        data = [(f"u{i}", "all") for i in range(4000)]
        spark.createDataFrame(data, schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_hll_registers(stream, regs, ckpt, "k", "g", p=11)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        est = read_hll_distinct(spark, regs, "g", p=11).first()["est_distinct"]
        assert abs(est - 4000) / 4000 < 0.10


class TestCompactStreamIndex:
    def test_compaction_preserves_probe_results_and_shrinks_files(
        self, spark, tmp_path
    ):
        from tundradb_spark.pipeline import similarity
        from tundradb_spark.streaming import (
            compact_stream_index,
            stream_index_vectors,
        )

        src = str(tmp_path / "cvsrc")
        idx = str(tmp_path / "cvidx")
        ckpt = str(tmp_path / "cvck")
        os.makedirs(src)
        schema = "vec_id long, embedding array<double>"

        def vecs(lo, hi):
            return [(i, [float((i * 5 + j) % 9 - 4) for j in range(8)])
                    for i in range(lo, hi)]

        # 3 epochs of arrivals -> 3 epoch dirs per cell
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        spark.createDataFrame(vecs(0, 30), schema).coalesce(1).write.mode(
            "append").parquet(src)
        q = stream_index_vectors(stream, idx, ckpt, n_cells=4, dim=8)
        try:
            q.processAllAvailable()
            for lo in (30, 60):
                spark.createDataFrame(vecs(lo, lo + 30), schema).coalesce(
                    1).write.mode("append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()

        query = [1.0, 0.0, -1.0, 2.0, 0.5, -0.5, 1.5, 0.0]
        before = [tuple(r) for r in similarity.ivf_ann_topk_indexed(
            spark, idx, query, 5, n_cells=4, n_probe=4).collect()]
        import glob
        files_before = len(glob.glob(f"{idx}/cell=*/epoch=*/*.parquet"))
        n = compact_stream_index(spark, idx)
        files_after = len(glob.glob(f"{idx}/cell=*/epoch=*/*.parquet"))
        after = [tuple(r) for r in similarity.ivf_ann_topk_indexed(
            spark, idx, query, 5, n_cells=4, n_probe=4).collect()]
        assert after == before
        assert n == 90
        assert files_after < files_before

    def test_epoch_only_layout(self, spark, tmp_path):
        from tundradb_spark.streaming import (
            compact_stream_index,
            read_hll_distinct,
            stream_hll_registers,
        )

        src = str(tmp_path / "ehsrc")
        regs = str(tmp_path / "ehregs")
        ckpt = str(tmp_path / "ehck")
        os.makedirs(src)
        schema = "k string, g string"
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        for lo in (0, 200, 400):
            spark.createDataFrame(
                [(f"key{i}", "g") for i in range(lo, lo + 200)], schema
            ).coalesce(1).write.mode("append").parquet(src)
        q = stream_hll_registers(stream, regs, ckpt, "k", "g", p=9)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        before = read_hll_distinct(spark, regs, "g", p=9).first()["est_distinct"]
        compact_stream_index(spark, regs)
        after = read_hll_distinct(spark, regs, "g", p=9).first()["est_distinct"]
        assert after == before

    def test_compacts_a_file_uri(self, spark, tmp_path):
        """The table is listed and swapped through the Hadoop FileSystem,
        so any scheme the epoch writer accepts compacts too."""
        from tundradb_spark.streaming import compact_stream_index
        from tundradb_spark.streaming.ops import _write_epoch

        uri = (tmp_path / "uri_table").as_uri()
        assert uri.startswith("file:///")
        for epoch in range(3):
            _write_epoch(
                spark.range(epoch * 4, epoch * 4 + 4).withColumn("cell", F.col("id") % 2),
                epoch, uri, parts=("cell", "epoch"),
            )
        assert compact_stream_index(spark, uri) == 12
        got = spark.read.parquet(uri)
        assert sorted(r.id for r in got.collect()) == list(range(12))
        assert {r.epoch for r in got.select("epoch").collect()} == {-1}
        assert sorted(p.name for p in tmp_path.iterdir()) == ["uri_table"]
        assert sorted(p.name for p in (tmp_path / "uri_table").iterdir()
                      if "=" in p.name) == ["cell=0", "cell=1"]


class TestStreamHistogram:
    def test_stream_merge_equals_batch_histogram(self, spark, tmp_path):
        from tundradb_spark.operators.relational import histogram_quantiles
        from tundradb_spark.streaming import (
            read_histogram_quantiles,
            stream_histogram_bins,
        )

        src = str(tmp_path / "hbsrc")
        bins = str(tmp_path / "hbins")
        ckpt = str(tmp_path / "hbck")
        os.makedirs(src)
        schema = "g string, v double"

        def rows(lo, hi):
            return [(f"g{i % 2}", float((i * 37) % 1000)) for i in range(lo, hi)]

        bounds = (0.0, 1000.0)
        spark.createDataFrame(rows(0, 500), schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_histogram_bins(stream, bins, ckpt, "g", "v", bounds, n_bins=100)
        try:
            q.processAllAvailable()
            spark.createDataFrame(rows(500, 1200), schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        probs = [0.25, 0.5, 0.9]
        got = sorted(map(tuple, read_histogram_quantiles(
            spark, bins, "g", probs, bounds, n_bins=100).collect()))
        want = sorted(map(tuple, histogram_quantiles(
            spark.createDataFrame(rows(0, 1200), schema),
            ["g"], "v", probs, n_bins=100, bounds=bounds).collect()))
        assert got == want

    def test_out_of_range_clamps_to_edge_bins(self, spark):
        from tundradb_spark.operators.relational import histogram_quantiles

        df = spark.createDataFrame(
            [("g", -50.0), ("g", 5.0), ("g", 500.0)], "g string, v double"
        )
        row = histogram_quantiles(
            df, ["g"], "v", [0.5], n_bins=10, bounds=(0.0, 10.0)
        ).first()
        assert row["n_rows"] == 3  # nothing dropped
        assert 0.0 <= row["p50"] <= 10.0


class TestStreamHeavyKeys:
    def test_heavy_keys_found_with_upper_bound_estimates(self, spark, tmp_path):
        import collections

        from tundradb_spark.streaming import read_heavy_hitters, stream_heavy_keys

        src = str(tmp_path / "hksrc")
        cm = str(tmp_path / "hkcm")
        cand = str(tmp_path / "hkcand")
        ckpt = str(tmp_path / "hkck")
        os.makedirs(src)
        schema = "k string"
        # zipf-ish: 'hot0'..'hot4' dominate, long tail of singletons
        def rows(epoch):
            out = []
            for i in range(5):
                out += [(f"hot{i}",)] * (40 - 6 * i)
            out += [(f"tail{epoch}-{j}",) for j in range(50)]
            return out

        all_rows = []
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        for e in range(3):
            spark.createDataFrame(rows(e), schema).coalesce(1).write.mode(
                "append").parquet(src)
            all_rows += rows(e)
        q = stream_heavy_keys(stream, cm, cand, ckpt, "k",
                              batch_threshold=5, d=4, w=512)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        top = read_heavy_hitters(spark, cm, cand, "k", k=5, d=4, w=512).collect()
        got = {r["k"]: r["est_count"] for r in top}
        true = collections.Counter(k for (k,) in all_rows)
        assert set(got) == {f"hot{i}" for i in range(5)}
        for k, est in got.items():
            assert est >= true[k]  # CM never undercounts

    def test_tail_keys_are_not_candidates(self, spark, tmp_path):
        from tundradb_spark.streaming import stream_heavy_keys

        src = str(tmp_path / "t2src")
        cm = str(tmp_path / "t2cm")
        cand = str(tmp_path / "t2cand")
        ckpt = str(tmp_path / "t2ck")
        os.makedirs(src)
        rows = [("hot",)] * 10 + [(f"tail{j}",) for j in range(30)]
        spark.createDataFrame(rows, "k string").coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema("k string").parquet(src)
        q = stream_heavy_keys(stream, cm, cand, ckpt, "k", batch_threshold=3)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        cands = {r["k"] for r in spark.read.parquet(cand).collect()}
        assert cands == {"hot"}  # bounded candidate state


class TestIngestDedupWithinBatchNear:
    def test_near_dups_in_one_batch_admit_one(self, spark, tmp_path):
        """Two near-identical (not byte-identical) docs arriving in the
        SAME micro-batch must not both be admitted — the corpus probe
        only sees previous batches, so the sink needs its own in-batch
        banding pass."""
        from tundradb_spark.streaming import stream_ingest_dedup

        src = str(tmp_path / "nisrc")
        out = str(tmp_path / "niout")
        sig = str(tmp_path / "nisig")
        ckpt = str(tmp_path / "nick")
        os.makedirs(src)
        base = "the quick brown fox jumps over the lazy dog " * 8
        rows = [
            (1, base + "ending one"),
            (2, base + "ending two"),  # near-dup of 1, same batch
            (3, "a completely different document about spark plans " * 6),
        ]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = stream_ingest_dedup(stream, out, sig, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert kept == [1, 3]  # min-id near-dup wins; distinct doc admitted
        # signature table only tracks admitted docs (banded r6 layout)
        sig_ids = sorted(
            {r["doc_id"] for r in spark.read.parquet(sig).collect()}
        )
        assert sig_ids == [1, 3]


class TestIngestDedupReplay:
    def test_partial_sig_epoch_from_failed_attempt_is_replaced(
        self, spark, tmp_path
    ):
        """r7 (advice): a crash mid-sig-write leaves partial epoch=E
        signature leaves; the replayed probe must NOT self-match against
        them (that would drop the batch's own docs and strand phantom
        signatures for documents absent from out_path).  The sink deletes
        the epoch=E subtree before probing, so the replay sees exactly
        what the original attempt saw."""
        import shutil

        from tundradb_spark.streaming import stream_ingest_dedup

        schema = "doc_id long, text string"
        doc1 = (1, "alpha beta gamma delta epsilon zeta eta theta " * 4)
        doc2 = (2, "one two three four five six seven eight nine " * 4)

        # fabricate the failed attempt: run the real sink over doc1 only,
        # then transplant its epoch=0 signature leaves as the partial state
        scratch = {k: str(tmp_path / f"s_{k}") for k in ("src", "out", "sig", "ck")}
        os.makedirs(scratch["src"])
        spark.createDataFrame([doc1], schema).coalesce(1).write.mode(
            "append"
        ).parquet(scratch["src"])
        st = spark.readStream.schema(schema).parquet(scratch["src"])
        q = stream_ingest_dedup(st, scratch["out"], scratch["sig"], scratch["ck"])
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        sig = str(tmp_path / "sig")
        ckpt = str(tmp_path / "ck")
        os.makedirs(src)
        shutil.copytree(f"{scratch['sig']}/epoch=0", f"{sig}/epoch=0")

        # the "replay": a fresh run whose epoch 0 carries both docs
        spark.createDataFrame([doc1, doc2], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_ingest_dedup(stream, out, sig, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert kept == [1, 2]  # doc1 NOT dropped by its own stale sigs
        sig_ids = sorted({r["doc_id"] for r in spark.read.parquet(sig).collect()})
        assert sig_ids == [1, 2]  # no phantom leaves beyond the rewrite


class TestStreamWeightedSample:
    def test_stream_merge_equals_batch_topk(self, spark, tmp_path):
        from tundradb_spark.pipeline.sampling import weighted_sample_topk
        from tundradb_spark.streaming import (
            read_weighted_sample,
            stream_weighted_sample,
        )

        src = str(tmp_path / "wssrc")
        res = str(tmp_path / "wsres")
        ckpt = str(tmp_path / "wsck")
        os.makedirs(src)
        schema = "doc_id long, wt double"

        def rows(lo, hi):
            return [(i, float((i * 13) % 97 + 1)) for i in range(lo, hi)]

        spark.createDataFrame(rows(0, 300), schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_weighted_sample(stream, res, ckpt, "wt", k=15)
        try:
            q.processAllAvailable()
            spark.createDataFrame(rows(300, 800), schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        got = [tuple(r) for r in read_weighted_sample(spark, res, 15).collect()]
        allrows = spark.createDataFrame(rows(0, 800), schema)
        want = [
            tuple(r) for r in weighted_sample_topk(allrows, "wt", 15).collect()
        ]
        assert got == want


class TestWeightedSampleKGuard:
    def test_read_k_above_writer_k_raises(self, spark, tmp_path):
        from tundradb_spark.streaming import (
            read_weighted_sample,
            stream_weighted_sample,
        )

        src = str(tmp_path / "kgsrc")
        res = str(tmp_path / "kgres")
        ckpt = str(tmp_path / "kgck")
        os.makedirs(src)
        spark.createDataFrame(
            [(i, float(i + 1)) for i in range(50)], "doc_id long, wt double"
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, wt double").parquet(src)
        q = stream_weighted_sample(stream, res, ckpt, "wt", k=10)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert read_weighted_sample(spark, res, 10).count() == 10
        with pytest.raises(ValueError):
            read_weighted_sample(spark, res, 11)

    def test_read_before_first_batch_returns_empty(self, spark, tmp_path):
        # r6 advice: a started-but-empty sample table (no non-empty batch
        # yet) must read as an empty frame, not TypeError on writer_k=None
        from tundradb_spark.streaming import read_weighted_sample

        res = str(tmp_path / "emptyres")
        spark.createDataFrame(
            [],
            "doc_id long, wt double, raw_priority double,"
            " writer_k int, epoch long",
        ).coalesce(1).write.parquet(res)
        out = read_weighted_sample(spark, res, 5)
        assert out.count() == 0
        assert "raw_priority" not in out.columns


class TestCompactSignatureIndex:
    def test_compaction_preserves_probe_and_layout(self, spark, tmp_path):
        # r6: the banded signature table compacts with its epoch-FIRST
        # layout preserved, so a still-running sink's next epoch appends
        # cleanly and probes return identical pairs
        from tundradb_spark.pipeline.dedup import (
            incremental_dup_pairs_indexed,
        )
        from tundradb_spark.streaming import (
            compact_stream_index,
            stream_ingest_dedup,
        )

        src = str(tmp_path / "csrc")
        out = str(tmp_path / "cout")
        sig = str(tmp_path / "csig")
        ckpt = str(tmp_path / "cck")
        os.makedirs(src)
        docs = [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "one two three four five six seven eight nine"),
        ]
        schema = "doc_id long, text string"
        spark.createDataFrame(docs, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_ingest_dedup(stream, out, sig, ckpt)
        try:
            q.processAllAvailable()
            spark.createDataFrame(
                [(2, "totally different content words here okay then")],
                schema,
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        probe = spark.createDataFrame(
            [(10, "alpha beta gamma delta epsilon zeta eta theta")], schema
        )
        before = sorted(
            map(tuple, incremental_dup_pairs_indexed(spark, probe, sig).collect())
        )
        assert before  # the near-dup of doc 0 must be found
        n = compact_stream_index(spark, sig)
        assert n > 0
        # single folded epoch, same probe result
        epochs = {
            r["epoch"] for r in spark.read.parquet(sig).select("epoch").collect()
        }
        assert epochs == {-1}
        after = sorted(
            map(tuple, incremental_dup_pairs_indexed(spark, probe, sig).collect())
        )
        assert after == before


class TestStreamCusumAlarms:
    def test_cross_batch_state_matches_batch_operator(self, spark, tmp_path):
        """Drift accumulated in micro-batch 1 must carry into batch 2's
        alarms, and the full alarm set must equal the batch operator's
        (same constant target) digit-for-digit."""
        from datetime import datetime, timedelta

        from tundradb_spark.operators.relational import cusum_alarms
        from tundradb_spark.streaming import stream_cusum_alarms

        src = str(tmp_path / "cusrc")
        ckpt = str(tmp_path / "cusck")
        os.makedirs(src)
        t0 = datetime(2026, 1, 1, 10, 0, 0)
        # user 1 drifts +3/obs vs target 10 (slack 1 → +2 net per obs);
        # user 2 stays on target and must never alarm
        batch1 = [
            (t0 + timedelta(seconds=i), 1, "view", 13.0) for i in range(4)
        ] + [(t0 + timedelta(seconds=i), 2, "view", 10.0) for i in range(4)]
        batch2 = [
            (t0 + timedelta(seconds=10 + i), 1, "view", 13.0) for i in range(4)
        ] + [(t0 + timedelta(seconds=10 + i), 2, "view", 10.0) for i in range(4)]
        kw = dict(slack=1.0, threshold=9.0, target=10.0)

        _write_json(spark, src, batch1, EVENT_SCHEMA)
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        out = stream_cusum_alarms(stream, **kw)
        q = (
            out.writeStream.format("memory")
            .queryName("cusumout")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            # batch 1 alone: S for user 1 = 2,4,6,8 — below threshold 9
            assert spark.table("cusumout").count() == 0
            _write_json(spark, src, batch2, EVENT_SCHEMA)
            q.processAllAvailable()
            got = sorted(
                (r.key, r.ts_us, r.value, r.cusum)
                for r in spark.table("cusumout").collect()
            )
        finally:
            q.stop()
        # batch 2 continues S = 10,12,14,16: state crossed batches
        assert [g[3] for g in got] == [10.0, 12.0, 14.0, 16.0]
        assert {g[0] for g in got} == {1}

        all_events = spark.createDataFrame(batch1 + batch2, EVENT_SCHEMA)
        want = sorted(
            (r.key, r.ts_us, r.value, r.cusum)
            for r in cusum_alarms(
                all_events, "user_id", "value", **kw
            ).collect()
        )
        assert got == want


class TestStreamFunnel:
    def test_stream_merge_equals_batch_funnel(self, spark, tmp_path):
        """Multi-epoch delivery must reproduce the batch funnel exactly,
        including the adversarial orderings the sink's reductions must
        survive: a user whose ENTRY arrives an epoch after their step-2
        event (no pruning bound yet), a later epoch improving a user's
        entry min (window moves earlier), duplicate rows across epochs,
        and step events outside the conversion window."""
        from tundradb_spark.operators.analytics import funnel
        from tundradb_spark.streaming import read_funnel, stream_funnel_events

        src = str(tmp_path / "fsrc")
        state = str(tmp_path / "fstate")
        ckpt = str(tmp_path / "fck")
        os.makedirs(src)
        schema = "user_id long, ts timestamp, event_type string"
        W = 100_000_000  # 100s conversion window, in µs

        def t(sec):
            from datetime import datetime, timezone

            return datetime.fromtimestamp(sec, tz=timezone.utc).replace(
                tzinfo=None
            )

        batch1 = [
            (1, t(10), "view"), (1, t(20), "click"), (1, t(30), "purchase"),
            # u2: click arrives BEFORE its view (next epoch) — the sink
            # must keep it unpruned even though no entry bound exists yet
            (2, t(50), "click"),
            # u3: click outside any possible window of its epoch-2 view
            (3, t(500), "click"),
            (4, t(40), "view"), (4, t(35), "click"),  # click before entry
        ]
        batch2 = [
            (2, t(45), "view"), (2, t(60), "purchase"),
            (3, t(300), "view"),
            (1, t(10), "view"), (1, t(20), "click"),  # exact duplicates
            # u1's entry min moves EARLIER: chain must re-anchor
            (1, t(5), "view"),
        ]
        steps = ["view", "click", "purchase"]
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_funnel_events(
            stream, state, ckpt, steps, within_us=W)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            map(tuple, read_funnel(spark, state, steps, within_us=W).collect())
        )
        allrows = spark.createDataFrame(batch1 + batch2, schema)
        want = sorted(
            map(tuple, funnel(allrows, steps, within_us=W).collect())
        )
        assert got == want
        # value sanity, not just self-consistency: all four users enter
        # (u4's pre-entry click never counts); u1 completes (5,20,30),
        # u2 completes (45,50,60 — the click arriving an epoch early
        # counts), u3's click at 500 is 200s past its 300 entry: out of
        # window
        assert [r for r in want if r[0] == 1][0][2] == 4
        assert [r for r in want if r[0] == 3][0][2] == 2

    def test_no_window_keeps_everything(self, spark, tmp_path):
        from tundradb_spark.operators.analytics import funnel
        from tundradb_spark.streaming import read_funnel, stream_funnel_events

        src = str(tmp_path / "f2src")
        state = str(tmp_path / "f2state")
        ckpt = str(tmp_path / "f2ck")
        os.makedirs(src)
        schema = "user_id long, ts timestamp, event_type string"
        from datetime import datetime, timezone

        def t(sec):
            return datetime.fromtimestamp(sec, tz=timezone.utc).replace(
                tzinfo=None
            )

        rows = [
            (1, t(0), "A"), (1, t(10_000), "B"),
            (2, t(5), "A"), (2, t(3), "B"),
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_funnel_events(stream, state, ckpt, ["A", "B"])
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(map(tuple, read_funnel(spark, state, ["A", "B"]).collect()))
        want = sorted(
            map(tuple, funnel(spark.createDataFrame(rows, schema), ["A", "B"]).collect())
        )
        assert got == want
        assert [r for r in want if r[0] == 2][0][2] == 1  # u1 only


class TestStreamCohort:
    def test_stream_merge_equals_batch_retention(self, spark, tmp_path):
        """Per-epoch distinct (user, period) pairs union-merge to the
        batch operator's retention table — including a user whose FIRST
        period arrives in a later epoch (cohort reassignment on merge)
        and duplicate pairs across epochs."""
        from tundradb_spark.operators.analytics import cohort_retention
        from tundradb_spark.streaming import (
            read_cohort_retention,
            stream_cohort_periods,
        )

        src = str(tmp_path / "csrc")
        state = str(tmp_path / "cstate")
        ckpt = str(tmp_path / "cck")
        os.makedirs(src)
        schema = "user_id long, ts timestamp"
        P = 10_000_000  # 10s periods, µs
        from datetime import datetime, timezone

        def t(sec):
            return datetime.fromtimestamp(sec, tz=timezone.utc).replace(
                tzinfo=None
            )

        batch1 = [(1, t(5)), (1, t(15)), (2, t(25)), (3, t(31))]
        batch2 = [
            (2, t(8)),            # u2's first period arrives late
            (1, t(15)), (1, t(17)),  # duplicate pair (1, period 1)
            (3, t(45)),
        ]
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_cohort_periods(stream, state, ckpt, period_us=P)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            map(tuple, read_cohort_retention(spark, state, period_us=P).collect())
        )
        allrows = spark.createDataFrame(batch1 + batch2, schema)
        want = sorted(
            map(tuple, cohort_retention(allrows, period_us=P).collect())
        )
        assert got == want
        # u2 must be cohorted at period 0 (the late-arriving t=8), so
        # cohort 0 has offsets {0 (u1,u2), 1 (u1), 2 (u2)}
        assert (0, 2, 1, 0.5) in want


class TestStreamMarkov:
    def test_stream_merge_equals_batch_matrix(self, spark, tmp_path):
        """Two micro-batches splitting every user's sequence mid-stream:
        the carried last-event state supplies the boundary transitions,
        and the summed pairs reproduce the batch matrix exactly
        (in-order delivery, the streaming contract)."""
        from tundradb_spark.operators.analytics import markov_transitions
        from tundradb_spark.streaming import (
            merge_markov_counts,
            stream_markov_pairs,
        )

        src = str(tmp_path / "mksrc")
        ckpt = str(tmp_path / "mkck")
        os.makedirs(src)
        schema = "user_id long, ts timestamp, event_type string, event_id long"
        from datetime import datetime, timezone

        def t(sec):
            return datetime.fromtimestamp(sec, tz=timezone.utc).replace(
                tzinfo=None
            )

        batch1 = [
            (1, t(1), "A", 1), (1, t(2), "B", 2),
            (2, t(1), "A", 3),
            (3, t(5), "C", 4),  # singleton so far — no transition yet
        ]
        batch2 = [
            (1, t(3), "A", 5),   # boundary: B->A crosses the batches
            (2, t(2), "A", 6),   # boundary: A->A
            (2, t(2), "B", 7),   # same ts as event 6: tiebreak orders A,B
            (3, t(6), "C", 8),
        ]
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        out = stream_markov_pairs(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("mkpairs")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            map(tuple, merge_markov_counts(spark.table("mkpairs")).collect())
        )
        allrows = spark.createDataFrame(batch1 + batch2, schema)
        want = sorted(map(tuple, markov_transitions(allrows).collect()))
        assert got == want
        # value sanity: u1 A->B->A, u2 A->A->B, u3 C->C
        d = {(r[0], r[1]): r[2] for r in want}
        assert d == {("A", "B"): 2, ("B", "A"): 1, ("A", "A"): 1,
                     ("C", "C"): 1}

    def test_min_count_prunes_after_totals(self, spark, tmp_path):
        from tundradb_spark.streaming import merge_markov_counts

        pairs = spark.createDataFrame(
            [("A", "B", 3), ("A", "C", 1)], "src string, dst string, cnt long"
        )
        out = {
            (r["src"], r["dst"]): (r["n_from_src"], r["prob"])
            for r in merge_markov_counts(pairs, min_count=2).collect()
        }
        # A->C pruned, but A->B's denominator still counts it
        assert out == {("A", "B"): (4, 0.75)}


class TestStreamEventNgrams:
    """r10: stream_event_ngrams — stream_markov_pairs generalized to a
    carried (n−1)-type trailing buffer, so the last analytics operator
    without a streaming twin gets one (r9 verdict item 6)."""

    SCHEMA = "user_id long, ts timestamp, event_type string, event_id long"

    @staticmethod
    def _t(sec):
        from datetime import datetime, timezone

        return datetime.fromtimestamp(sec, tz=timezone.utc).replace(
            tzinfo=None
        )

    def _run_stream(self, spark, tmp_path, batches, n):
        from tundradb_spark.streaming import stream_event_ngrams

        src = str(tmp_path / "ngsrc")
        ckpt = str(tmp_path / "ngck")
        os.makedirs(src)
        spark.createDataFrame(batches[0], self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = (
            stream_event_ngrams(stream, n=n)
            .writeStream.format("memory")
            .queryName("ngoccs")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            for b in batches[1:]:
                spark.createDataFrame(b, self.SCHEMA).coalesce(1).write.mode(
                    "append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()
        return spark.table("ngoccs")

    def test_stream_merge_equals_batch_grams(self, spark, tmp_path):
        """Three micro-batches splitting every user's sequence at
        adversarial points: the carried trailing buffer supplies the
        boundary grams (a trigram needs TWO carried types), and the
        merged counts reproduce the batch operator exactly."""
        from tundradb_spark.operators.analytics import event_ngrams
        from tundradb_spark.streaming import merge_event_ngrams

        t = self._t
        batches = [
            # u1 starts A,B — trigram A>B>C must straddle the boundary
            [(1, t(1), "A", 1), (1, t(2), "B", 2),
             (2, t(1), "X", 3)],
            # u1 continues C,A (two boundary trigrams A>B>C, B>C>A);
            # u2's whole window arrives split 1+2
            [(1, t(3), "C", 4), (1, t(4), "A", 5),
             (2, t(2), "Y", 6), (2, t(2), "Z", 7)],  # equal ts: tiebreak
            # u3 entirely in one late batch, u1 one more (C>A>B)
            [(1, t(5), "B", 8),
             (3, t(1), "A", 9), (3, t(2), "B", 10), (3, t(3), "C", 11)],
        ]
        occs = self._run_stream(spark, tmp_path, batches, n=3)
        got = sorted(map(tuple, merge_event_ngrams(occs).collect()))
        allrows = spark.createDataFrame(
            [r for b in batches for r in b], self.SCHEMA
        )
        want = sorted(
            map(
                tuple,
                event_ngrams(allrows, n=3, tiebreak_col="event_id").collect(),
            )
        )
        assert got == want
        d = {g: (o, u) for g, o, u in got}
        # A>B>C occurs for u1 AND u3 — support counts distinct users
        assert d["A>B>C"] == (2, 2)
        assert d["B>C>A"] == (1, 1) and d["C>A>B"] == (1, 1)
        assert d["X>Y>Z"] == (1, 1)  # equal-ts tiebreak ordered Y before Z

    def test_null_types_occupy_positions_but_form_no_grams(
        self, spark, tmp_path
    ):
        """A NULL event type crossing a batch boundary must ride the
        carried buffer as a real position and poison every window it
        touches — exactly the batch operator's all-parts-non-null gate."""
        from tundradb_spark.operators.analytics import event_ngrams
        from tundradb_spark.streaming import merge_event_ngrams

        t = self._t
        batches = [
            [(1, t(1), "A", 1), (1, t(2), None, 2)],
            [(1, t(3), "C", 3), (1, t(4), "D", 4), (1, t(5), "E", 5)],
        ]
        occs = self._run_stream(spark, tmp_path, batches, n=3)
        got = sorted(map(tuple, merge_event_ngrams(occs).collect()))
        allrows = spark.createDataFrame(
            [r for b in batches for r in b], self.SCHEMA
        )
        want = sorted(
            map(
                tuple,
                event_ngrams(allrows, n=3, tiebreak_col="event_id").collect(),
            )
        )
        assert got == want == [("C>D>E", 1, 1)]

    def test_merge_tail_matches_batch_cut(self, spark):
        from tundradb_spark.streaming import merge_event_ngrams

        occs = spark.createDataFrame(
            [(1, "A>B", 3), (2, "A>B", 1), (1, "B>C", 2), (3, "C>D", 1)],
            "u long, gram string, cnt long",
        )
        got = sorted(
            map(tuple, merge_event_ngrams(occs, min_count=2, top_n=1).collect())
        )
        assert got == [("A>B", 4, 2)]

    def test_validation(self, spark):
        from tundradb_spark.streaming import (
            merge_event_ngrams,
            stream_event_ngrams,
        )

        with pytest.raises(ValueError):
            stream_event_ngrams(
                spark.readStream.format("rate").load(), n=1
            )
        with pytest.raises(ValueError):
            merge_event_ngrams(
                spark.createDataFrame([], "u long, gram string, cnt long"),
                min_count=0,
            )


class TestStreamAnalyticsDirtyInputs:
    """r10 (ADVICE items 2-3): the streaming analytics sinks under the
    same pathological inputs the batch operators already survive."""

    def test_funnel_rejects_duplicate_steps(self, spark):
        from tundradb_spark.streaming import stream_funnel_events

        with pytest.raises(ValueError, match="distinct step names"):
            stream_funnel_events(
                spark.readStream.format("rate").load(),
                path="/tmp/never",
                checkpoint="/tmp/never-ck",
                steps=["view", "click", "view"],
            )

    def test_markov_survives_null_ts_and_type(self, spark, tmp_path):
        """NULL ts / tiebreak / event_type rows must not crash the state
        UDF, and the merged counts must match the batch matrix (NULL ts
        sorts first — Spark's NULLS FIRST — and NULL types drop
        transitions INTO them but keep transitions OUT, both engines)."""
        import os as _os

        from tundradb_spark.operators.analytics import markov_transitions
        from tundradb_spark.streaming import (
            merge_markov_counts,
            stream_markov_pairs,
        )

        schema = (
            "user_id long, ts timestamp, event_type string, event_id long"
        )
        t = TestStreamEventNgrams._t
        batch1 = [
            (1, None, "Z", 1),      # NULL ts: sorts first
            (1, t(2), "A", None),   # NULL tiebreak
            (1, t(3), None, 3),     # NULL type mid-sequence
        ]
        batch2 = [(1, t(4), "B", 4), (1, t(5), "C", 5)]
        src = str(tmp_path / "mdsrc")
        ckpt = str(tmp_path / "mdck")
        _os.makedirs(src)
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = (
            stream_markov_pairs(stream)
            .writeStream.format("memory")
            .queryName("mdpairs")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        def _key(t):  # src may be NULL — sort None first like the engine
            return tuple((x is not None, x) for x in t)

        got = sorted(
            map(tuple, merge_markov_counts(spark.table("mdpairs")).collect()),
            key=_key,
        )
        allrows = spark.createDataFrame(batch1 + batch2, schema)
        want = sorted(
            map(tuple, markov_transitions(allrows).collect()), key=_key
        )
        assert got == want
        # the NULL-type event carries across the boundary as src NULL:
        # Z->A, A->NULL dropped, NULL->B kept, B->C
        pairs = {(r[0], r[1]) for r in got}
        assert ("Z", "A") in pairs and (None, "B") in pairs
        assert ("B", "C") in pairs
        assert not any(dst is None for _, dst in pairs)


class TestStreamOutlierMoments:
    """r10: stream_outlier_moments — additive decimal moment partials per
    epoch; read-time sum-merge + the batch operator's shared scoring
    expressions make stream-maintained flagging == value_outliers
    exactly, including metric-domain glitch rows split across epochs."""

    SCHEMA = "event_id long, event_type string, value double"

    def _run_stream(self, spark, tmp_path, batches):
        src = str(tmp_path / "omsrc")
        sink = str(tmp_path / "omsink")
        ckpt = str(tmp_path / "omck")
        os.makedirs(src)
        from tundradb_spark.streaming import stream_outlier_moments

        spark.createDataFrame(batches[0], self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_outlier_moments(stream, sink, ckpt)
        try:
            q.processAllAvailable()
            for b in batches[1:]:
                spark.createDataFrame(b, self.SCHEMA).coalesce(1).write.mode(
                    "append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()
        return sink

    def test_stream_merge_equals_batch_operator(self, spark, tmp_path):
        from tundradb_spark.operators.analytics import value_outliers
        from tundradb_spark.streaming import read_outliers

        # group A's stats straddle the epochs (outlier + one glitch in
        # each); B is zero-variance; C is ALL glitches; NULLs drop
        batch1 = [
            (1, "A", 0.0), (2, "A", 0.0), (3, "A", 10.0),
            (4, "B", 7.0), (5, "A", 1e308), (6, "C", float("inf")),
        ]
        batch2 = [
            (7, "A", 0.0), (8, "A", 0.0),
            (9, "B", 7.0), (10, "A", float("nan")), (11, "C", -1e308),
            (12, "A", None),
        ]
        sink = self._run_stream(spark, tmp_path, [batch1, batch2])
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = sorted(
            map(tuple, read_outliers(
                spark, sink, allrows, z_threshold=2.0
            ).collect())
        )
        want = sorted(
            map(tuple, value_outliers(allrows, z_threshold=2.0).collect())
        )
        assert got == want
        # sanity: the z outlier survived the split and the glitches
        # surfaced as domain rows with per-group counts
        d = {r[0]: r for r in want}
        assert d[3][5] == "outlier" and d[3][3] == 5
        assert {i for i in d if d[i][5] == "domain"} == {5, 6, 10, 11}

    def test_history_scores_new_rows(self, spark, tmp_path):
        """The live-monitoring use: a NEW frame judged by the stream's
        all-time moments, not its own — a single fresh row can be an
        outlier against history even though alone it has zero variance."""
        from tundradb_spark.streaming import read_outliers

        history = [(i, "A", 0.0) for i in range(1, 5)] + [(5, "A", 10.0)]
        sink = self._run_stream(spark, tmp_path, [history])
        fresh = spark.createDataFrame([(99, "A", 10.0)], self.SCHEMA)
        got = read_outliers(spark, sink, fresh, z_threshold=2.0).collect()
        # history: mean 2, std 4 → z(10) = 2.0; n_group = 5 (history)
        assert [(r["event_id"], r["n_group"], r["z"], r["flag"])
                for r in got] == [(99, 5, 2.0, "outlier")]

    def test_unseen_group_domain_rows_stay_visible(self, spark, tmp_path):
        """r10 advisor: scoring a frame whose group NEVER appeared in the
        stream must not silently drop its metric-domain glitch rows — the
        stats join is LEFT, so flag='domain' visibility (the r10 batch
        policy) holds for unseen groups too.  Unseen-group OK rows have no
        moments to judge against and are dropped like any sub-threshold
        row; n_group for the surfaced domain row is 0 (the stream saw no
        domain rows for that group)."""
        from tundradb_spark.streaming import read_outliers

        history = [(i, "A", float(i)) for i in range(1, 6)]
        sink = self._run_stream(spark, tmp_path, [history])
        fresh = spark.createDataFrame(
            [(90, "Z", float("inf")), (91, "Z", 1.0), (92, "Z", 2.0)],
            self.SCHEMA,
        )
        got = read_outliers(spark, sink, fresh, z_threshold=2.0).collect()
        assert [(r["event_id"], r["event_type"], r["value"], r["n_group"],
                 r["z"], r["flag"]) for r in got] == [
            (90, "Z", None, 0, None, "domain")
        ]


class TestStreamCooccurrence:
    """r10: stream_cooccurrence_pairs — the cohort-periods discipline on
    event_cooccurrence's one corpus-sized intermediate: distinct
    (user, type) pairs per epoch, union-merged at read time."""

    SCHEMA = "user_id long, event_type string"

    def test_stream_merge_equals_batch_operator(self, spark, tmp_path):
        from tundradb_spark.operators.analytics import event_cooccurrence
        from tundradb_spark.streaming import (
            read_cooccurrence,
            stream_cooccurrence_pairs,
        )

        src = str(tmp_path / "cosrc")
        sink = str(tmp_path / "cosink")
        ckpt = str(tmp_path / "cock")
        os.makedirs(src)
        # u1's pair set straddles the epochs; (1, A) repeats across
        # epochs (the reader's distinct must collapse it); NULLs drop
        batch1 = [(1, "A"), (2, "A"), (2, "B"), (None, "C"), (3, None)]
        batch2 = [(1, "A"), (1, "B"), (3, "A"), (3, "B"), (3, "C")]
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_cooccurrence_pairs(stream, sink, ckpt)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = sorted(map(tuple, read_cooccurrence(
            spark, sink, min_users=2).collect()))
        want = sorted(map(tuple, event_cooccurrence(
            allrows, min_users=2).collect()))
        assert got == want
        # sanity: A-B done by u1 (cross-epoch), u2, u3 → 3 users
        d = {(r[0], r[1]): r[2] for r in want}
        assert d == {("A", "B"): 3}


class TestStreamBenford:
    """r10: stream_benford_counts — additive first-digit count partials
    per epoch; sum-merge + the batch operator's shared benford_score ==
    benford_deviation exactly."""

    SCHEMA = "event_type string, value double"

    def test_stream_merge_equals_batch_operator(self, spark, tmp_path):
        from tundradb_spark.operators.analytics import benford_deviation
        from tundradb_spark.streaming import (
            read_benford,
            stream_benford_counts,
        )

        src = str(tmp_path / "bfsrc")
        sink = str(tmp_path / "bfsink")
        ckpt = str(tmp_path / "bfck")
        os.makedirs(src)
        # group A reaches min_n=8 only ACROSS epochs (5 + 5 in-domain
        # rows); each epoch carries an excluded glitch; B stays under
        batch1 = [("A", float(100 + i)) for i in range(5)] + [
            ("A", 1e308), ("B", 42.0),
        ]
        batch2 = [("A", float(900 + i)) for i in range(5)] + [
            ("A", 0.5), ("B", 77.0),
        ]
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_benford_counts(stream, sink, ckpt)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = sorted(map(tuple, read_benford(
            spark, sink, min_n=8).collect()))
        want = sorted(map(tuple, benford_deviation(
            allrows, min_n=8).collect()))
        assert got == want
        assert len(want) == 1  # only A crosses min_n, and only merged
        r = want[0]
        # worst digit: 9 holds 50% of mass vs Benford's 4.6% (dev 0.454),
        # beating digit 1's 0.199
        assert (r[0], r[1], r[2], r[4]) == ("A", 10, 2, 9)


class TestStreamCalibration:
    """r11: stream_calibration_bins — additive per-bin partials per
    epoch; sum-merge + the batch operator's shared calibration_score ==
    calibration_bins exactly, including bins straddling epochs and the
    documented exclusions (NULL labels, probabilities outside [0, 1])."""

    SCHEMA = "row_id long, prob double, label boolean"

    def test_stream_merge_equals_batch_operator(self, spark, tmp_path):
        from tundradb_spark.pipeline.classify import calibration_bins
        from tundradb_spark.streaming import (
            read_calibration,
            stream_calibration_bins,
        )

        src = str(tmp_path / "calsrc")
        sink = str(tmp_path / "calsink")
        ckpt = str(tmp_path / "calck")
        os.makedirs(src)
        # bin 2 (0.2-0.3) and the top bin straddle the epochs; epoch 2
        # carries the excluded rows (NULL label, p out of range)
        batch1 = [
            (1, 0.05, False), (2, 0.22, False), (3, 0.28, True),
            (4, 1.0, True),   # p = 1.0 joins the TOP bin (documented)
        ]
        batch2 = [
            (5, 0.25, True), (6, 0.95, True), (7, 0.91, False),
            (8, 0.5, None),    # NULL label: excluded
            (9, -0.1, True),   # out of range: excluded
            (10, 1.5, False),  # out of range: excluded
        ]
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_calibration_bins(stream, sink, ckpt, n_bins=10)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = sorted(map(tuple, read_calibration(
            spark, sink, n_bins=10).collect()))
        want = sorted(map(tuple, calibration_bins(
            allrows, "prob", "label", n_bins=10).collect()))
        assert got == want
        d = {r[0]: r for r in want}
        # bin 2 merged across epochs: n=3, obs_rate 2/3
        assert d[2][3] == 3 and d[2][5] == 0.666667
        # top bin holds 0.91, 0.95 AND the exact 1.0
        assert d[9][3] == 3
        # excluded rows reached neither side
        assert sum(r[3] for r in want) == 7

    def test_thresholds_reader_equals_batch_curve(self, spark, tmp_path):
        """r13: read_precision_thresholds — the live operating-point
        curve from the SAME calibration state table, pinned row-for-row
        to the batch precision_thresholds over all delivered rows."""
        from tundradb_spark.pipeline.classify import precision_thresholds
        from tundradb_spark.streaming import (
            read_precision_thresholds,
            stream_calibration_bins,
        )

        src = str(tmp_path / "ptsrc")
        sink = str(tmp_path / "ptsink")
        ckpt = str(tmp_path / "ptck")
        os.makedirs(src)
        batch1 = [
            (1, 0.05, False), (2, 0.22, False), (3, 0.28, True),
            (4, 1.0, True),
        ]
        batch2 = [
            (5, 0.25, True), (6, 0.95, True), (7, 0.91, False),
            (8, 0.5, None), (9, -0.1, True), (10, 1.5, False),
        ]
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_calibration_bins(stream, sink, ckpt, n_bins=10)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = sorted(map(tuple, read_precision_thresholds(
            spark, sink, n_bins=10).collect()))
        want = sorted(map(tuple, precision_thresholds(
            allrows, "prob", "label", n_bins=10).collect()))
        assert got == want
        d = {r[0]: r for r in want}
        # every row admitted at edge 0.0: 7 kept, 4 positives
        assert (d[0][2], d[0][3]) == (7, 4)
        # top bin: {0.91 F, 0.95 T, 1.0 T} → precision 2/3, recall 2/4
        assert (d[9][2], d[9][3], d[9][4], d[9][5]) == (
            3, 2, 0.666667, 0.5)
        # empty mid-curve edges still inherit the cumulative top
        assert d[5][2] == 3 and d[5][4] == 0.666667


class TestStreamGateFunnel:
    """r13: stream_gate_funnel — per-epoch (gate, group) attrition
    partials from the recipe's own inline predicates; exact-long
    sum-merge == recipe.gate_funnel over every delivered row."""

    SCHEMA = "doc_id long, text string, lang string"

    def test_stream_merge_equals_batch_funnel(self, spark, tmp_path):
        from tundradb_spark.pipeline.recipe import gate_funnel
        from tundradb_spark.streaming import (
            read_gate_funnel,
            stream_gate_funnel,
        )

        src = str(tmp_path / "gfsrc")
        sink = str(tmp_path / "gfsink")
        ckpt = str(tmp_path / "gfck")
        os.makedirs(src)
        batch1 = [
            (1, "a clean well written document body here", "en"),
            (2, "contact me mail@example.com for details", "en"),
            (3, "spam spam spam spam spam spam spam spam", "en"),
        ]
        batch2 = [
            (4, "visit https://example.com now", "de"),
            (5, None, "de"),                     # NULL text → pii
            (6, "another ordinary document text", "de"),
            (7, "ham ham ham ham ham ham ham", "en"),  # rep, 2nd epoch
        ]
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_gate_funnel(stream, sink, ckpt)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = sorted(map(tuple, read_gate_funnel(spark, sink).collect()))
        want = sorted(map(tuple, gate_funnel(allrows).collect()))
        assert got == want
        d = {(r[0], r[1]): (r[2], r[3]) for r in got}
        # the repetition cell merges across epochs (doc 3 + doc 7)
        assert d[("repetition", "en")] == (2, 15)
        # NULL text died at the pii gate with 0 tokens
        assert d[("pii", "de")] == (2, 3)


class TestReadWinsorizeBounds:
    """r10: approximate streaming winsorization — clip bounds from the
    live histogram sketches, pinned to within one bin width of the
    batch operator's exact band."""

    SCHEMA = "event_id long, event_type string, value double"

    def test_bounds_within_bin_width_of_batch(self, spark, tmp_path):
        from tundradb_spark.operators.analytics import winsorize
        from tundradb_spark.streaming import (
            read_winsorize_bounds,
            stream_histogram_bins,
        )

        src = str(tmp_path / "wzsrc")
        sink = str(tmp_path / "wzsink")
        ckpt = str(tmp_path / "wzck")
        os.makedirs(src)
        rows = [(i, "A", float(i)) for i in range(1, 101)] + [
            (200, "A", 1e308), (201, "A", None),
        ]
        batch1, batch2 = rows[:50], rows[50:]
        bounds, n_bins = (0.0, 100.0), 1000
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_histogram_bins(
            stream, sink, ckpt, "event_type", "value", bounds, n_bins
        )
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(rows, self.SCHEMA)
        approx = {
            r["event_id"]: r
            for r in read_winsorize_bounds(
                spark, sink, allrows, bounds, p_lo=0.1, p_hi=0.9,
                n_bins=n_bins,
            ).collect()
        }
        exact = {
            r["event_id"]: r
            for r in winsorize(allrows, p_lo=0.1, p_hi=0.9).collect()
        }
        assert set(approx) == set(exact)
        bin_w = (bounds[1] - bounds[0]) / n_bins
        for i, er in exact.items():
            ar = approx[i]
            assert ar["flag"] == "domain" if er["flag"] == "domain" else True
            if er["flag"] == "domain":
                assert ar["clipped"] is None
            else:
                # clipped values agree to within one bin width
                assert abs(ar["clipped"] - er["clipped"]) <= bin_w + 1e-9
        # and the clamp actually fired on the tails
        assert approx[1]["flag"] == "clipped"
        assert approx[100]["flag"] == "clipped"
        assert approx[50]["flag"] == "kept"

    def test_equal_probs_collapse_to_one_quantile_column(
        self, spark, tmp_path
    ):
        """r10 advisor: p_lo == p_hi is allowed by the batch winsorize
        contract (clamp everything to the single quantile).  The reader
        used to pick quantile columns POSITIONALLY ([2]/[3]), which a
        deduped single-prob estimate breaks; columns are now picked by
        their computed labels and the probs deduped, so the degenerate
        band works: every in-band row clips to (within a bin width of)
        the median."""
        from tundradb_spark.streaming import (
            read_winsorize_bounds,
            stream_histogram_bins,
        )

        src = str(tmp_path / "wzesrc")
        sink = str(tmp_path / "wzesink")
        ckpt = str(tmp_path / "wzeck")
        os.makedirs(src)
        rows = [(i, "A", float(i)) for i in range(1, 101)]
        bounds, n_bins = (0.0, 100.0), 1000
        spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_histogram_bins(
            stream, sink, ckpt, "event_type", "value", bounds, n_bins
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(rows, self.SCHEMA)
        got = read_winsorize_bounds(
            spark, sink, allrows, bounds, p_lo=0.5, p_hi=0.5, n_bins=n_bins
        ).collect()
        assert len(got) == 100
        bin_w = (bounds[1] - bounds[0]) / n_bins
        # type-1 median of 1..100 is 50; every clipped value collapses to
        # the single estimated quantile, within one bin width of it
        clip_vals = {r["clipped"] for r in got}
        assert len(clip_vals) == 1
        (cv,) = clip_vals
        assert abs(cv - 50.0) <= bin_w + 1e-9
        assert sum(r["flag"] == "clipped" for r in got) == 99
        assert sum(r["flag"] == "kept" for r in got) == 1
        # and invalid bands still fail loudly
        import pytest as _pytest
        with _pytest.raises(ValueError, match="p_lo"):
            read_winsorize_bounds(
                spark, sink, allrows, bounds, p_lo=0.9, p_hi=0.1
            )


class TestStreamTokenCounts:
    """r10: stream_token_counts — additive token-count partials per
    epoch; sum-merge + the batch operator's shared vocab_coverage_curve
    == vocab_coverage exactly."""

    SCHEMA = "doc_id long, text string"

    def test_stream_merge_equals_batch_operator(self, spark, tmp_path):
        from tundradb_spark.pipeline.text import vocab_coverage
        from tundradb_spark.streaming import (
            read_vocab_coverage,
            stream_token_counts,
        )

        src = str(tmp_path / "tcsrc")
        sink = str(tmp_path / "tcsink")
        ckpt = str(tmp_path / "tcck")
        os.makedirs(src)
        # token 'b' overtakes 'a' only once both epochs merge
        batch1 = [(0, "a a b c"), (1, "a b")]
        batch2 = [(2, "b b B d"), (3, "  e ")]
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_token_counts(stream, sink, ckpt)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = sorted(map(tuple, read_vocab_coverage(
            spark, sink, sizes=[1, 2, 100]).collect()))
        want = sorted(map(tuple, vocab_coverage(
            allrows, sizes=[1, 2, 100]).collect()))
        assert got == want
        # sanity: merged counts a=3, b=5 (B lowercases in) → top-1 is
        # b with 5 of 11
        top1 = [r for r in want if r[0] == 1][0]
        assert (top1[1], top1[2], top1[3]) == (1, 5, 11)


class TestStreamDrift:
    """r11: stream_drift_bins — additive per-(group, bin) count partials
    per epoch; sum-merge + the batch operator's shared binning/scoring
    (drift_bin_counts / drift_score) == distribution_drift exactly."""

    SCHEMA = "event_type string, value double"
    BOUNDS, BINS = (0.0, 10.0), 5

    def test_stream_merge_equals_batch_operator(self, spark, tmp_path):
        from tundradb_spark.operators.analytics import distribution_drift
        from tundradb_spark.streaming import read_drift, stream_drift_bins

        src = str(tmp_path / "drsrc")
        sink = str(tmp_path / "drsink")
        ckpt = str(tmp_path / "drck")
        os.makedirs(src)
        ref = spark.createDataFrame(
            [("A", float(v % 10)) for v in range(20)]
            + [("A", float("nan"))],
            self.SCHEMA,
        )
        # group A reaches min_n=10 only ACROSS epochs (6 + 6 in-domain
        # rows); each epoch carries an excluded glitch
        batch1 = [("A", float(v)) for v in (1, 1, 3, 5, 7, 9)] + [
            ("A", float("inf"))
        ]
        batch2 = [("A", float(v)) for v in (2, 2, 4, 6, 8, 9)] + [
            ("A", -1e300)
        ]
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_drift_bins(stream, sink, ckpt, self.BOUNDS, self.BINS)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = sorted(map(tuple, read_drift(
            spark, sink, ref, self.BOUNDS, self.BINS, min_n=10).collect()))
        want = sorted(map(tuple, distribution_drift(
            ref, allrows, bounds=self.BOUNDS, n_bins=self.BINS,
            min_n=10).collect()))
        assert got == want
        assert len(want) == 1  # A crosses min_n only merged
        r = want[0]
        # domain visibility survives the merge: ref 1 NaN, cur 2 glitches
        # (r[1] is the r12 status column)
        assert (r[1], r[2], r[3], r[4], r[5]) == ("ok", 20, 12, 1, 2)

    def test_replay_idempotent(self, spark, tmp_path):
        from tundradb_spark.streaming import stream_drift_bins

        # dynamic partition overwrite: re-processing an epoch replaces
        # its partition rather than double-counting
        src = str(tmp_path / "drsrc2")
        sink = str(tmp_path / "drsink2")
        os.makedirs(src)
        rows = [("A", 1.0), ("A", 9.0)]
        spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).parquet(src)
        for attempt in ("ck1", "ck2"):  # fresh checkpoint → epoch 0 replays
            q = stream_drift_bins(
                stream, sink, str(tmp_path / attempt), self.BOUNDS, self.BINS
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        merged = (
            spark.read.parquet(sink)
            .groupBy("event_type", "__bin")
            .agg(F.sum("__c").alias("c"))
            .collect()
        )
        assert sorted((r["__bin"], r["c"]) for r in merged) == [
            (0, 1), (4, 1),
        ]


class TestReadTokenDrift:
    """r11: read_token_drift — the second reader over the
    stream_token_counts table (the first is read_vocab_coverage);
    sum-merged epoch counts + the batch scorer (token_drift_score,
    shared verbatim) == token_drift exactly."""

    SCHEMA = "doc_id long, text string"

    def test_stream_merge_equals_batch_operator(self, spark, tmp_path):
        from tundradb_spark.pipeline.text import token_drift
        from tundradb_spark.streaming import (
            read_token_drift,
            stream_token_counts,
        )

        src = str(tmp_path / "tdsrc")
        sink = str(tmp_path / "tdsink")
        ckpt = str(tmp_path / "tdck")
        os.makedirs(src)
        ref = spark.createDataFrame(
            [(0, "a a a b"), (1, "b c")], self.SCHEMA)
        # the 'd' type appears only in epoch 2; 'a' counts straddle epochs
        batch1 = [(10, "a a b"), (11, None)]
        batch2 = [(12, "a d d")]
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_token_counts(stream, sink, ckpt)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = [tuple(r) for r in read_token_drift(spark, sink, ref).collect()]
        want = [tuple(r) for r in token_drift(ref, allrows).collect()]
        assert got == want
        r = want[0]
        # new type 'd' (2 occurrences of 6 delivered tokens)
        assert (r[0], r[1], r[5]) == (6, 6, 1)


class TestStreamTrend:
    """r11: stream_trend_moments — additive per-group OLS moment
    partials per epoch; sum-merge + the batch operator's shared closed
    form (trend_score) == value_trend exactly."""

    SCHEMA = "event_type string, value double, ts long"
    DAY_NS = 86_400 * 1_000_000_000

    def test_stream_merge_equals_batch_operator(self, spark, tmp_path):
        from tundradb_spark.operators.analytics import value_trend
        from tundradb_spark.streaming import (
            read_trend,
            stream_trend_moments,
        )

        src = str(tmp_path / "trsrc")
        sink = str(tmp_path / "trsink")
        ckpt = str(tmp_path / "trck")
        os.makedirs(src)
        # A crosses min_n=6 only ACROSS epochs; each epoch carries a
        # domain glitch; the fitted line straddles the epoch boundary
        batch1 = [
            ("A", 10.0 + 2.0 * d, d * self.DAY_NS) for d in range(3)
        ] + [("A", float("inf"), 0)]
        batch2 = [
            ("A", 10.0 + 2.0 * d, d * self.DAY_NS) for d in range(3, 7)
        ] + [("A", -1e300, 0)]
        spark.createDataFrame(batch1, self.SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = stream_trend_moments(stream, sink, ckpt, epoch_us=0)
        try:
            q.processAllAvailable()
            spark.createDataFrame(batch2, self.SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        allrows = spark.createDataFrame(batch1 + batch2, self.SCHEMA)
        got = sorted(map(tuple, read_trend(
            spark, sink, min_n=6).collect()))
        want = sorted(map(tuple, value_trend(
            allrows, epoch_us=0, min_n=6).collect()))
        assert got == want
        assert len(want) == 1
        r = want[0]
        # the merged fit recovers the exact line, glitches counted
        assert (r[1], r[2], r[3], r[4], r[5]) == (7, 2, 2.0, 10.0, 1.0)


class TestCalibratedStreamGate:
    """r14 (r13 verdict item 2): the streaming gate's threshold SOURCE —
    the knob read from the live calibration state table with the batch
    selection rule, so the stream front door admits exactly what a
    batch prepare_corpus(quality_target_precision=...) replay admits."""

    # wide weights so the 10 texts spread across the prob range (probed:
    # 0.047 .. 0.818) — labels split AT a bin edge so a precision-1.0
    # operating point exists on the 10-bin curve
    W64 = [(-1, 0.0)] + [(b, 0.3 * (b % 5) - 0.6) for b in range(64)]
    TEXTS = [
        "solid careful analysis with detailed clear results",
        "buy cheap click now win free offer deal",
        "another genuinely informative research document body",
        "limited offer deal cheap cheap win now",
        "thorough methodical experiments reported with context",
        "free free win prize now click here fast",
        "careful detailed writeup of a reproducible finding",
        "spam deal offer click win free now cheap",
        "longform reasoned discussion of tradeoffs and evidence",
        "click click win offer free deal prize now",
    ]

    def _labeled_and_threshold(self, spark, target):
        """Labeled docs whose labels perfectly track the score median,
        plus the batch calibrated_threshold — the ground truth both
        sides must pick."""
        from tundradb_spark.pipeline.classify import (
            calibrated_threshold,
            lr_prob_col,
        )

        labeled = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)],
            "doc_id long, text string",
        )
        prob = lr_prob_col(self.W64, "text", n_buckets=64)
        probs = [r["p"] for r in labeled.select(prob.alias("p")).collect()]
        med = sorted(probs)[len(probs) // 2]
        edge = int(med * 10) / 10.0  # split exactly at a curve edge
        assert min(probs) < edge <= max(probs)  # both classes non-empty
        labeled = labeled.withColumn("label", prob >= F.lit(float(edge)))
        thr = calibrated_threshold(
            labeled.select(prob.alias("__prob"), F.col("label").alias("__label")),
            "__prob", "__label", target, n_bins=10,
        )
        return labeled, prob, thr

    def _write_state(self, spark, labeled, prob, src, sink, ckpt):
        """Build the live calibration state table the stream reads: the
        labeled predictions streamed through stream_calibration_bins."""
        from tundradb_spark.streaming import stream_calibration_bins

        os.makedirs(src, exist_ok=True)
        scored = labeled.select(
            F.col("doc_id").alias("row_id"),
            prob.alias("prob"),
            "label",
        )
        scored.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "row_id long, prob double, label boolean"
        ).parquet(src)
        q = stream_calibration_bins(stream, sink, ckpt, n_bins=10)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def test_threshold_source_equals_batch_rule(self, spark, tmp_path):
        from tundradb_spark.streaming import calibrated_gate_threshold

        labeled, prob, want = self._labeled_and_threshold(spark, 1.0)
        sink = str(tmp_path / "csink")
        self._write_state(
            spark, labeled, prob,
            str(tmp_path / "csrc"), sink, str(tmp_path / "cck"),
        )
        got = calibrated_gate_threshold(spark, sink, 1.0, n_bins=10)
        assert got == want

    def test_stream_gate_admits_equals_batch_prepare_corpus(
        self, spark, tmp_path
    ):
        """The done-condition pin: stream_gate_corpus with a measured
        knob admits the IDENTICAL doc set as the batch
        prepare_corpus(quality_target_precision=...) over the same
        documents (unique texts — dedup tie-breaking is not in play)."""
        from tundradb_spark.pipeline.recipe import prepare_corpus
        from tundradb_spark.streaming import stream_gate_corpus

        target = 1.0
        labeled, prob, thr = self._labeled_and_threshold(spark, target)
        sink = str(tmp_path / "psink")
        self._write_state(
            spark, labeled, prob,
            str(tmp_path / "psrc"), sink, str(tmp_path / "pck"),
        )
        # corpus docs: the labeled texts under fresh ids (all unique)
        docs = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(self.TEXTS)],
            "doc_id long, text string",
        )
        want = sorted(
            r["doc_id"]
            for r in prepare_corpus(
                docs,
                quality_weights=self.W64,
                n_quality_buckets=64,
                quality_labeled=labeled,
                quality_target_precision=target,
                sample_bp=10000,
            ).select("doc_id").distinct().collect()
        )
        # fixture must actually split on the measured knob
        n_total = docs.count()
        assert 0 < len(want) < n_total

        dsrc = str(tmp_path / "dsrc")
        os.makedirs(dsrc)
        sdocs = docs.withColumn(
            "ts", F.expr("timestamp_micros((doc_id + 7200) * 1000000)")
        )
        sdocs.coalesce(1).write.mode("append").parquet(dsrc)
        stream = spark.readStream.schema(sdocs.schema).parquet(dsrc)
        gated = stream_gate_corpus(
            stream,
            quality_weights=self.W64,
            n_quality_buckets=64,
            quality_target_precision=target,
            quality_calibration_path=sink,
            sample_bp=10000,
        )
        out, ckpt = str(tmp_path / "dout"), str(tmp_path / "dck")
        q = (gated.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(
            r["doc_id"] for r in spark.read.parquet(out).collect()
        )
        assert got == want

    def test_funnel_repicks_per_epoch_and_records_knob(
        self, spark, tmp_path
    ):
        """Per-epoch re-pick: the funnel reads the LIVE curve at every
        epoch, gates at the fresh pick, and records it as
        picked_min_quality — and when new labeled predictions shift the
        curve between epochs, the recorded knob moves with it."""
        from tundradb_spark.pipeline.classify import (
            calibrated_threshold,
            lr_prob_col,
        )
        from tundradb_spark.pipeline.recipe import gate_funnel
        from tundradb_spark.streaming import (
            stream_calibration_bins,
            stream_gate_funnel,
        )

        target = 1.0
        labeled, prob, thr1 = self._labeled_and_threshold(spark, target)
        csrc = str(tmp_path / "fcsrc")
        sink = str(tmp_path / "fcsink")
        self._write_state(
            spark, labeled, prob, csrc, sink, str(tmp_path / "fcck"),
        )

        dsrc = str(tmp_path / "fdsrc")
        os.makedirs(dsrc)
        docs1 = spark.createDataFrame(
            [(100 + i, t, "en") for i, t in enumerate(self.TEXTS[:5])],
            "doc_id long, text string, lang string",
        )
        docs1.coalesce(1).write.mode("append").parquet(dsrc)
        fsink, fck = str(tmp_path / "fsink"), str(tmp_path / "fck")
        stream = spark.readStream.schema(docs1.schema).option(
            "maxFilesPerTrigger", 1).parquet(dsrc)
        q = stream_gate_funnel(
            stream, fsink, fck,
            quality_weights=self.W64, n_quality_buckets=64,
            quality_target_precision=target,
            quality_calibration_path=sink,
        )
        try:
            q.processAllAvailable()
            # shift the curve: new perfectly-separated predictions in a
            # HIGHER band move the max-recall edge up
            extra = spark.createDataFrame(
                [(1000, 0.92, True), (1001, 0.95, True), (1002, 0.55, False),
                 (1003, 0.35, False), (1004, 0.25, False)],
                "row_id long, prob double, label boolean",
            )
            extra.coalesce(1).write.mode("append").parquet(csrc)
            cstream = spark.readStream.schema(
                "row_id long, prob double, label boolean"
            ).parquet(csrc)
            cq = stream_calibration_bins(
                cstream, sink, str(tmp_path / "fcck2"), n_bins=10)
            try:
                cq.processAllAvailable()
            finally:
                cq.stop()
            docs2 = spark.createDataFrame(
                [(200 + i, t, "en") for i, t in enumerate(self.TEXTS[5:])],
                docs1.schema,
            )
            docs2.coalesce(1).write.mode("append").parquet(dsrc)
            q.processAllAvailable()
        finally:
            q.stop()

        state = spark.read.parquet(fsink)
        picked = {
            r["epoch"]: r["picked_min_quality"]
            for r in state.select("epoch", "picked_min_quality")
            .distinct().collect()
        }
        # one knob per epoch, first epoch = the batch pick
        assert len(picked) == 2 and picked[0] == thr1
        # second epoch re-picked from the merged (shifted) curve
        allscored = labeled.select(
            F.col("doc_id").alias("row_id"), prob.alias("prob"), "label"
        ).unionByName(spark.createDataFrame(
            [(1000, 0.92, True), (1001, 0.95, True), (1002, 0.55, False),
             (1003, 0.35, False), (1004, 0.25, False)],
            "row_id long, prob double, label boolean",
        ))
        thr2 = calibrated_threshold(
            allscored.select(
                F.col("prob").alias("__prob"),
                F.col("label").alias("__label")),
            "__prob", "__label", target, n_bins=10,
        )
        assert picked[1] == thr2 and thr1 != thr2
        # each epoch's partials equal the batch funnel AT ITS OWN knob
        for epoch, docs_e, thr_e in ((0, docs1, thr1), (1, docs2, thr2)):
            got = sorted(map(tuple, state.filter(
                F.col("epoch") == epoch
            ).select("gate", "lang", "n_docs", "n_tokens").collect()))
            want = sorted(map(tuple, gate_funnel(
                docs_e, quality_weights=self.W64,
                n_quality_buckets=64, min_quality=thr_e,
            ).collect()))
            assert got == want

    def test_knob_validation_at_construction(self, spark, tmp_path):
        """Misconfigured knobs die BEFORE .start(), with the same
        contract prepare_corpus enforces."""
        from tundradb_spark.streaming import (
            stream_gate_corpus,
            stream_gate_funnel,
        )

        src = str(tmp_path / "vsrc")
        os.makedirs(src)
        spark.createDataFrame(
            [(1, "x", "en")], "doc_id long, text string, lang string"
        ).withColumn("ts", F.current_timestamp()).coalesce(1).write.mode(
            "append").parquet(src)
        schema = ("doc_id long, text string, lang string, ts timestamp")
        stream = spark.readStream.schema(schema).parquet(src)
        with pytest.raises(ValueError, match="needs quality_weights"):
            stream_gate_corpus(stream, quality_target_precision=0.9)
        with pytest.raises(ValueError, match="without"):
            stream_gate_corpus(
                stream, quality_weights=self.W64,
                quality_calibration_path=str(tmp_path / "nope"),
            )
        with pytest.raises(
            ValueError, match="needs quality_calibration_path"
        ):
            stream_gate_corpus(
                stream, quality_weights=self.W64,
                quality_target_precision=0.9,
            )
        with pytest.raises(ValueError, match="needs quality_weights"):
            stream_gate_funnel(
                stream, str(tmp_path / "o"), str(tmp_path / "c"),
                quality_target_precision=0.9,
            )

    def test_funnel_without_target_records_handset_knob(
        self, spark, tmp_path
    ):
        """No precision target: picked_min_quality carries the hand-set
        min_quality when a quality gate exists, NULL when none does —
        the state schema never forks on knob mode."""
        from tundradb_spark.streaming import stream_gate_funnel

        src = str(tmp_path / "hsrc")
        os.makedirs(src)
        docs = spark.createDataFrame(
            [(1, "plain useful text body", "en")],
            "doc_id long, text string, lang string",
        )
        docs.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = stream_gate_funnel(
            stream, str(tmp_path / "hsink"), str(tmp_path / "hck"),
            quality_weights=self.W64, n_quality_buckets=64,
            min_quality=0.42,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        vals = {r["picked_min_quality"] for r in spark.read.parquet(
            str(tmp_path / "hsink")).select(
            "picked_min_quality").distinct().collect()}
        assert vals == {0.42}
        q2 = stream_gate_funnel(
            stream, str(tmp_path / "h2sink"), str(tmp_path / "h2ck"),
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        vals2 = {r["picked_min_quality"] for r in spark.read.parquet(
            str(tmp_path / "h2sink")).select(
            "picked_min_quality").distinct().collect()}
        assert vals2 == {None}


class TestReadCurationReport:
    """r14: the live report reader — funnel/corpus/quality_gate
    sections composed from the state tables, pinned to the batch
    curation_report's corresponding sections over the same documents."""

    def test_matches_batch_report_sections(self, spark, tmp_path):
        from tundradb_spark.pipeline.recipe import curation_report
        from tundradb_spark.streaming import (
            read_curation_report,
            stream_gate_funnel,
        )

        W = TestCalibratedStreamGate.W64
        helper = TestCalibratedStreamGate()
        target = 1.0
        labeled, prob, thr = helper._labeled_and_threshold(spark, target)
        csink = str(tmp_path / "rcsink")
        helper._write_state(
            spark, labeled, prob,
            str(tmp_path / "rcsrc"), csink, str(tmp_path / "rcck"),
        )
        docs = spark.createDataFrame(
            [(100 + i, t, "en" if i % 2 else "de")
             for i, t in enumerate(helper.TEXTS)],
            "doc_id long, text string, lang string",
        )
        dsrc = str(tmp_path / "rdsrc")
        os.makedirs(dsrc)
        docs.coalesce(1).write.mode("append").parquet(dsrc)
        stream = spark.readStream.schema(docs.schema).parquet(dsrc)
        q = stream_gate_funnel(
            stream, str(tmp_path / "rfsink"), str(tmp_path / "rfck"),
            quality_weights=W, n_quality_buckets=64,
            quality_target_precision=target,
            quality_calibration_path=csink,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        live = sorted(map(tuple, read_curation_report(
            spark, str(tmp_path / "rfsink"),
            calibration_path=csink, target_precision=target,
        ).collect()))
        batch = sorted(map(tuple, curation_report(
            docs, quality_weights=W, n_quality_buckets=64,
            quality_labeled=labeled, quality_target_precision=target,
        ).filter(
            F.col("section").isin(
                "funnel_docs", "funnel_tokens", "corpus", "quality_gate"
            )
        ).collect()))
        assert live == batch and live

    def test_validation_and_funnel_only_mode(self, spark, tmp_path):
        from tundradb_spark.streaming import read_curation_report

        path = str(tmp_path / "fstate")
        spark.createDataFrame(
            [(0, "pass", "en", 3, 30), (1, "pii", "en", 1, 4)],
            "epoch long, gate string, lang string, n_docs long,"
            " n_tokens long",
        ).write.parquet(path)
        with pytest.raises(ValueError, match="go together"):
            read_curation_report(spark, path, calibration_path="x")
        rep = {(r[0], r[1], r[2]): r[3] for r in read_curation_report(
            spark, path).collect()}
        assert rep[("corpus", "n_docs", None)] == 4.0
        assert rep[("funnel_docs", "pii", "en")] == 1.0
        assert not any(k[0] == "quality_gate" for k in rep)
