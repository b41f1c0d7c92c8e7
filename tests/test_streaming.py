"""Structured Streaming: micro-batch CDC merge via foreachBatch (the
streaming face of the sync path) and a watermarked windowed aggregation —
the operators SURVEY.md §2.D maps onto Spark's streaming engine."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from seafowl_spark.streaming.sync import foreach_batch_merge
from tests.conftest import rows


class TestForeachBatchMerge:
    def test_stream_merges_into_deltalite(self, ctx, tmp_path):
        ctx.execute("CREATE TABLE tgt (pk bigint, v string)")
        ctx.execute("INSERT INTO tgt VALUES (1, 'old'), (2, 'keep')")
        root = ctx.table_root(ctx.catalog.get_table("default", "public", "tgt"))

        src = tmp_path / "stream_src"
        src.mkdir()
        (src / "batch0.json").write_text(
            json.dumps({"pk": 1, "v": "new"}) + "\n" + json.dumps({"pk": 3, "v": "ins"}) + "\n"
        )

        stream = (
            ctx.spark.readStream.schema("pk bigint, v string").json(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(foreach_batch_merge(root, ["pk"]))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = ctx.execute("SELECT pk, v FROM tgt ORDER BY pk")
        assert rows(out) == [(1, "new"), (2, "keep"), (3, "ins")]

        # second micro-batch from a new file; checkpoint resumes cleanly
        (src / "batch1.json").write_text(json.dumps({"pk": 2, "v": "upd"}) + "\n")
        q2 = (
            stream.writeStream.foreachBatch(foreach_batch_merge(root, ["pk"]))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        out = ctx.execute("SELECT pk, v FROM tgt ORDER BY pk")
        assert rows(out) == [(1, "new"), (2, "upd"), (3, "ins")]


class TestWindowedStream:
    def test_watermarked_tumbling_window(self, spark, tmp_path):
        """Event-time tumbling window with watermark over a file stream —
        late-data handling identical at any scale (state keyed by window)."""
        src = tmp_path / "events_src"
        src.mkdir()
        lines = [
            {"ts": "2024-01-01 00:05:00", "user": 1, "v": 10.0},
            {"ts": "2024-01-01 00:20:00", "user": 2, "v": 5.0},
            {"ts": "2024-01-01 01:10:00", "user": 1, "v": 2.0},
        ]
        (src / "b0.json").write_text("\n".join(json.dumps(l) for l in lines))

        stream = (
            spark.readStream.schema("ts string, user bigint, v double")
            .json(str(src))
            .withColumn("ts", F.to_timestamp("ts"))
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
            .select(F.col("w.start").cast("string").alias("start"), "n", "total")
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("win_out")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = rows(spark.sql("SELECT * FROM win_out"))
        assert got == [
            ("2024-01-01 00:00:00", 2, 15.0),
            ("2024-01-01 01:00:00", 1, 2.0),
        ]


class TestStreamingModelScoring:
    def test_nb_model_scores_a_stream(self, spark, tmp_path):
        """Classifier-as-stream-stage: a model trained batch-side scores a
        document STREAM via stream-static broadcast joins (the model is
        two vocab-bounded DataFrames, so nb_scores composes with
        Structured Streaming unchanged — the per-(doc, class) aggregate
        runs per micro-batch in complete/update semantics via
        foreachBatch here, the deployment shape for corpus-ingest
        scoring)."""
        import json

        from seafowl_spark.operators.classifier import fit_nb, nb_predict

        train = spark.createDataFrame(
            [
                (1, "spark shuffle executor task stage", "eng"),
                (2, "task stage spark shuffle shuffle", "eng"),
                (3, "butter flour oven sugar bake", "food"),
                (4, "oven bake butter sugar sugar", "food"),
            ],
            ["doc_id", "text", "label"],
        )
        model = fit_nb(train)

        src = tmp_path / "docs_src"
        src.mkdir()
        (src / "b0.json").write_text(
            json.dumps({"doc_id": 10, "text": "spark task stage"}) + "\n"
            + json.dumps({"doc_id": 11, "text": "butter oven bake"}) + "\n"
        )
        stream = spark.readStream.schema("doc_id long, text string").json(
            str(src)
        )
        got = {}

        def score_batch(batch_df, _bid):
            for r in nb_predict(batch_df, model).collect():
                got[r.doc_id] = r.predicted

        q = (
            stream.writeStream.foreachBatch(score_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt_nb"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert got == {10: "eng", 11: "food"}

        # a second micro-batch scores incrementally with the same model
        (src / "b1.json").write_text(
            json.dumps({"doc_id": 12, "text": "sugar flour oven"}) + "\n"
        )
        q2 = (
            stream.writeStream.foreachBatch(score_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt_nb"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        assert got[12] == "food"


# slow tier (r14): multi-minute stress/matrix class, excluded
# from the default gate (opt in with --runslow / -m slow)
@pytest.mark.slow
class TestStreamingIndexMaintenance:
    def test_stream_appends_to_bm25_index(self, spark, tmp_path):
        """Ingest-to-index: each micro-batch appends its documents to the
        persisted BM25 index (append_bm25_index inside foreachBatch);
        after two batches, retrieval equals an index built over the union
        in one shot — the mergeable-stats design is what makes this
        streaming sink exact."""
        import json

        from seafowl_spark.operators.bm25 import (
            append_bm25_index,
            bm25_topk_indexed,
            write_bm25_index,
        )

        idx = str(tmp_path / "stream_idx")
        # bootstrap with an empty corpus so the stream owns every doc
        empty = spark.createDataFrame([], "doc_id long, text string")
        write_bm25_index(empty, idx, n_buckets=8)

        src = tmp_path / "ingest_src"
        src.mkdir()
        batch0 = [
            {"doc_id": 1, "text": "spark shuffle executor task"},
            {"doc_id": 2, "text": "butter flour oven"},
        ]
        batch1 = [
            {"doc_id": 3, "text": "spark task stage spark"},
            {"doc_id": 4, "text": "oven bake sugar"},
        ]
        (src / "b0.json").write_text(
            "\n".join(json.dumps(r) for r in batch0) + "\n"
        )
        stream = spark.readStream.schema("doc_id long, text string").json(
            str(src)
        )

        def to_index(batch_df, _bid):
            if batch_df.count():
                append_bm25_index(batch_df, idx)

        def run_once():
            q = (
                stream.writeStream.foreachBatch(to_index)
                .option("checkpointLocation", str(tmp_path / "ckpt_idx"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        (src / "b1.json").write_text(
            "\n".join(json.dumps(r) for r in batch1) + "\n"
        )
        run_once()

        queries = spark.createDataFrame(
            [(1, "spark task"), (2, "oven sugar")], ["query_id", "query_text"]
        )
        got = {
            (r.query_id, r.rank): (r.doc_id, r.score)
            for r in bm25_topk_indexed(spark, idx, queries, k=5).collect()
        }

        oneshot = str(tmp_path / "oneshot_idx")
        all_docs = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in batch0 + batch1],
            ["doc_id", "text"],
        )
        write_bm25_index(all_docs, oneshot, n_buckets=8)
        expect = {
            (r.query_id, r.rank): (r.doc_id, r.score)
            for r in bm25_topk_indexed(spark, oneshot, queries, k=5).collect()
        }
        assert got == expect and got
        # sanity: the spark-y query ranks the spark-heavy doc first
        assert got[(1, 1)][0] == 3


    def test_stream_appends_to_ivfpq_index(self, spark, tmp_path):
        """Vector ingest-to-index: micro-batches append to the persisted
        IVF-PQ index (append_ivfpq_index inside foreachBatch, encoding
        with the index's frozen model); after two batches retrieval
        equals a one-shot index over the union with the same model."""
        import json

        import numpy as np
        from pyspark.sql import functions as F

        from seafowl_spark.operators.kmeans import fit_kmeans
        from seafowl_spark.operators.pq import (
            append_ivfpq_index,
            fit_pq_residual,
            ivf_pq_topk_indexed,
            normalized,
            write_ivfpq_index,
        )

        rng = np.random.RandomState(7)
        vecs = {i: rng.randn(64).tolist() for i in range(40)}
        all_df = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()], "vec_id long, emb array<double>"
        )
        cn = normalized(all_df)
        cents = fit_kmeans(cn, k=4, max_iter=2)
        books = fit_pq_residual(cn, cents, m=8, ksub=16, max_iter=1)

        idx = str(tmp_path / "vec_idx")
        first = all_df.where(F.col("vec_id") < 20)
        write_ivfpq_index(first, idx, cents, books)

        src = tmp_path / "vec_src"
        src.mkdir()
        (src / "b0.json").write_text(
            "\n".join(
                json.dumps({"vec_id": i, "emb": vecs[i]}) for i in range(20, 30)
            )
            + "\n"
        )
        stream = spark.readStream.schema("vec_id long, emb array<double>").json(
            str(src)
        )

        def to_index(batch_df, _bid):
            if batch_df.count():
                append_ivfpq_index(batch_df, idx)

        def run_once():
            q = (
                stream.writeStream.foreachBatch(to_index)
                .option("checkpointLocation", str(tmp_path / "ckpt_vec"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        (src / "b1.json").write_text(
            "\n".join(
                json.dumps({"vec_id": i, "emb": vecs[i]}) for i in range(30, 40)
            )
            + "\n"
        )
        run_once()

        queries = all_df.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "emb"
        )
        got = {
            (r.query_id, r.rank): (r.vec_id, round(r.cosine, 9))
            for r in ivf_pq_topk_indexed(
                spark, idx, queries, k=8, nprobe=2, shortlist=40
            ).collect()
        }
        oneshot = str(tmp_path / "vec_oneshot")
        write_ivfpq_index(all_df, oneshot, cents, books)
        expect = {
            (r.query_id, r.rank): (r.vec_id, round(r.cosine, 9))
            for r in ivf_pq_topk_indexed(
                spark, oneshot, queries, k=8, nprobe=2, shortlist=40
            ).collect()
        }
        assert got == expect and got




class TestStreamingCountMin:
    def test_sketch_is_fixed_state_streaming_aggregate(self, spark, tmp_path):
        """Count-Min over a stream: the cell mapping is stateless and the
        groupBy key space IS the sketch (<= depth x width), so the same
        count_min_build expression runs as a native streaming aggregation
        with bounded state regardless of distinct-item cardinality.
        Two micro-batches accumulate; estimates from the final sketch
        must dominate the exact cross-batch counts."""
        import json

        from seafowl_spark.operators.countmin import (
            count_min_build,
            count_min_estimate,
        )

        W, D = 512, 4
        src = tmp_path / "cm_src"
        src.mkdir()
        (src / "b0.json").write_text(
            "".join(
                json.dumps({"token": t}) + "\n"
                for t in ["spark"] * 5 + ["task"] * 2 + ["oven"]
            )
        )
        stream = spark.readStream.schema("token string").json(str(src))
        sketch = count_min_build(stream, "token", width=W, depth=D)
        q = (
            sketch.writeStream.format("memory")
            .queryName("cm_sketch")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_cm"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        (src / "b1.json").write_text(
            "".join(
                json.dumps({"token": t}) + "\n"
                for t in ["spark"] * 3 + ["task"] + ["bake"] * 2
            )
        )
        q2 = (
            sketch.writeStream.format("memory")
            .queryName("cm_sketch")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_cm"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)

        final = spark.sql("SELECT * FROM cm_sketch")
        assert final.count() <= W * D
        exact = {"spark": 8, "task": 3, "oven": 1, "bake": 2}
        qdf = spark.createDataFrame([(t,) for t in exact], ["token"])
        got = {
            r.token: r.est_count
            for r in count_min_estimate(final, qdf, "token", width=W, depth=D).collect()
        }
        for t, n in exact.items():
            assert got[t] >= n, (t, got[t], n)
        # tiny live-cell count vs the 512x4 table: no collisions expected
        assert got == exact


class TestStreamStreamJoin:
    def test_watermarked_interval_join(self, spark, tmp_path):
        """Stream-stream inner join with watermarks + an event-time
        interval condition — the Structured Streaming capability the
        batch as-of/join family doesn't exercise: BOTH sides are
        unbounded, state is bounded by the watermark + interval, and
        matches land incrementally as micro-batches arrive."""
        import json

        impressions = tmp_path / "imp"
        clicks = tmp_path / "clk"
        impressions.mkdir(), clicks.mkdir()
        (impressions / "b0.json").write_text(
            json.dumps({"ad": 1, "its": "2026-01-01T00:00:00"}) + "\n"
            + json.dumps({"ad": 2, "its": "2026-01-01T00:00:05"}) + "\n"
        )
        (clicks / "b0.json").write_text(
            # ad 1 clicked 8 s after impression (inside the 10 s window);
            # ad 2 clicked 30 s after (outside) — must NOT join
            json.dumps({"ad": 1, "cts": "2026-01-01T00:00:08"}) + "\n"
            + json.dumps({"ad": 2, "cts": "2026-01-01T00:00:35"}) + "\n"
        )
        imp = (
            spark.readStream.schema("ad long, its string")
            .json(str(impressions))
            .select("ad", F.col("its").cast("timestamp").alias("its"))
            .withWatermark("its", "20 seconds")
        )
        clk = (
            spark.readStream.schema("ad long, cts string")
            .json(str(clicks))
            .select(
                F.col("ad").alias("c_ad"),
                F.col("cts").cast("timestamp").alias("cts"),
            )
            .withWatermark("cts", "20 seconds")
        )
        joined = imp.join(
            clk,
            F.expr(
                "ad = c_ad AND cts >= its AND cts <= its + INTERVAL 10 SECONDS"
            ),
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ssj")
            .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = [
            (r["ad"], r["cts"].second)
            for r in spark.sql("SELECT * FROM ssj").collect()
        ]
        assert got == [(1, 8)]  # within-interval click only


class TestNativeSessionWindow:
    def test_session_window_aggregate_with_watermark(self, spark, tmp_path):
        """Spark's NATIVE session_window aggregate (dynamic gap-based
        windows merged at aggregation time) — the third streaming window
        mechanism next to tumbling window() and the
        applyInPandasWithState custom sessionizer; state is bounded by
        the watermark, sessions close after the 10 s gap."""
        import json

        src = tmp_path / "sess_src"
        src.mkdir()
        rows = [
            {"u": 1, "ts": "2026-01-01T00:00:00", "v": 1.0},
            {"u": 1, "ts": "2026-01-01T00:00:06", "v": 2.0},  # same session
            {"u": 1, "ts": "2026-01-01T00:00:30", "v": 4.0},  # gap > 10s
            {"u": 2, "ts": "2026-01-01T00:00:02", "v": 8.0},
        ]
        (src / "b0.json").write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )
        stream = (
            spark.readStream.schema("u long, ts string, v double")
            .json(str(src))
            .select("u", F.col("ts").cast("timestamp").alias("ts"), "v")
            .withWatermark("ts", "30 seconds")
        )
        agg = stream.groupBy(
            "u", F.session_window("ts", "10 seconds").alias("w")
        ).agg(F.sum("v").alias("v_sum"), F.count(F.lit(1)).alias("n"))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("native_sess")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["u"], r["w"]["start"].second, r["v_sum"], r["n"])
            for r in spark.sql("SELECT * FROM native_sess").collect()
        )
        assert got == [
            (1, 0, 3.0, 2),   # 00:00 + 00:06 merged into one session
            (1, 30, 4.0, 1),  # the post-gap event is its own session
            (2, 2, 8.0, 1),
        ]


class TestStreamSyncEndstate:
    """The graded q_stream_sync_endstate row's machinery: one merge
    commit per batch file (maxFilesPerTrigger honored under
    Trigger.AvailableNow), batch-id txn versions recorded for
    exactly-once, and the end state equal to global last-wins."""

    SF = "/root/testdata/sf0.001"

    def test_one_merge_per_batch_and_last_wins(self, spark, tmp_path):
        from seafowl_spark.engine.deltalite import DeltaLiteTable
        from seafowl_spark.queries.pipeline import (
            _SYNC_BATCHES,
            q_stream_sync_endstate,
        )

        work = str(tmp_path / "endstate")
        out = q_stream_sync_endstate(spark, self.SF, work_dir=work)
        got = {(r["pk"], r["last_seq"], r["val"]) for r in out.collect()}

        # commit history: CREATE + one MERGE per micro-batch
        t = DeltaLiteTable(spark, os.path.join(work, "tgt"))
        assert t.snapshot().version == _SYNC_BATCHES
        # exactly-once bookkeeping: the last applied batch id is recorded
        assert t.last_app_txn_version("stream") == _SYNC_BATCHES - 1

        # global last-change-wins recomputed batch-free
        from pyspark.sql.window import Window

        ch = (
            spark.read.parquet(os.path.join(self.SF, "orders.parquet"))
            .select(
                F.col("o_custkey").alias("pk"),
                F.col("o_orderkey").alias("seq"),
                F.col("o_totalprice").alias("val"),
                (F.col("o_orderkey") % 7 == 0).alias("is_delete"),
            )
        )
        w = Window.partitionBy("pk").orderBy(F.desc("seq"))
        expect = {
            (r["pk"], r["seq"], r["val"])
            for r in ch.withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") == 1) & ~F.col("is_delete"))
            .collect()
        }
        assert got == expect and got

    def test_null_lsn_row_is_dropped(self, spark, tmp_path):
        """A change with a NULL LSN has no batch: it is dropped, not merged
        into the last batch (where it would set pk 99's end state)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from seafowl_spark.queries.pipeline import q_stream_sync_endstate

        sf = tmp_path / "sf"
        sf.mkdir()
        pq.write_table(
            pa.table({
                "o_orderkey": pa.array([1, 2, 3, 4, 5, 6, None], pa.int64()),
                "o_custkey": pa.array([10, 11, 10, 12, 11, 13, 99], pa.int64()),
                "o_totalprice": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 9.9],
            }),
            str(sf / "orders.parquet"),
        )
        out = q_stream_sync_endstate(spark, str(sf), work_dir=str(tmp_path / "w"))
        got = sorted((r["pk"], r["last_seq"], r["val"]) for r in out.collect())
        assert got == [(10, 3, 3.0), (11, 5, 5.0), (12, 4, 4.0), (13, 6, 6.0)]
