"""Physical-plan quality gates: the properties that matter at 100 TB must
hold in the plans Catalyst actually produces — filter/column pushdown into
parquet scans, broadcast joins for dims, top-k without global sort,
map-side partial aggregation. These are assertions on .explain output, so
a regression that silently de-optimizes a query fails CI."""

import re

import pytest

from seafowl_spark.queries import load_all

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(spark, registry, name: str) -> str:
    df = registry[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


class TestPushdown:
    def test_q06_filters_reach_parquet_scan(self, spark, registry):
        df = registry["q06_forecast_revenue"].fn(spark, SF)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "PushedFilters:" in formatted
        m = re.search(r"PushedFilters: \[(.*?)\]", formatted)
        assert m and "l_discount" in m.group(1) and "l_quantity" in m.group(1)

    def test_q01_reads_only_needed_columns(self, spark, registry):
        df = registry["q01_pricing_summary"].fn(spark, SF)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        m = re.search(r"ReadSchema: struct<([^>]*)>", formatted)
        assert m, formatted
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        # 11-column table; the query needs only 7
        assert "l_orderkey" not in cols and "l_partkey" not in cols
        assert {"l_returnflag", "l_linestatus", "l_quantity"} <= cols


class TestJoinStrategy:
    def test_q05_dims_broadcast(self, spark, registry):
        plan = plan_of(spark, registry, "q05_region_revenue")
        # every dim side broadcasts; the only shuffle join key is orderkey
        assert plan.count("BroadcastHashJoin") >= 3
        assert "CartesianProduct" not in plan

    def test_q03_no_cartesian(self, spark, registry):
        plan = plan_of(spark, registry, "q03_shipping_priority")
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_ann_bruteforce_broadcasts_queries(self, spark, registry):
        plan = plan_of(spark, registry, "s_ann_cosine_bruteforce")
        assert "BroadcastNestedLoopJoin" in plan  # tiny query side x corpus


class TestTopKAndAggs:
    def test_topk_uses_take_ordered(self, spark, registry):
        plan = plan_of(spark, registry, "q_explode_words")
        assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT

    def test_window_topk_group_limit_pushdown(self, spark, registry):
        plan = plan_of(spark, registry, "q_window_topk")
        assert "WindowGroupLimit" in plan  # per-mapper k rows pre-shuffle

    def test_q01_partial_aggregation(self, spark, registry):
        plan = plan_of(spark, registry, "q01_pricing_summary")
        # two-phase hash agg: partial before the exchange, final after
        assert plan.count("HashAggregate") >= 2
        assert "partial_" in plan


class TestSessionDefaults:
    def test_aqe_and_zstd(self, spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


class TestPipelineOpPlans:
    """Stage-2 pipeline operators keep their scale-critical plan shapes."""

    def test_contamination_broadcasts_eval_side(self, spark, registry):
        # below the source-size threshold: eval side broadcasts
        p = plan_of(spark, registry, "t_contamination")
        assert "BroadcastHashJoin" in p or "BroadcastExchange" in p

    def test_contamination_debroadcasts_above_threshold(
        self, spark, registry, monkeypatch
    ):
        """r4 verdict: the eval split is a FRACTION of the corpus, so at
        scale the join must shuffle on `h`, not ship the eval side to
        every executor. Force the threshold to 0 and assert the plan has
        no broadcast on the contamination join. Spark's own size-based
        auto-broadcast (which scales correctly) is disabled for the
        check, since at sf0.001 it would legitimately broadcast the tiny
        side — the gate is about the unconditional HINT, which would
        override size-based planning at any scale."""
        from seafowl_spark.queries import pipeline

        monkeypatch.setattr(pipeline, "_BROADCAST_EVAL_MAX_SOURCE_BYTES", 0)
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
            )
        }
        try:
            for k in saved:
                spark.conf.set(k, "-1")
            df = registry["t_contamination"].fn(spark, SF)
            p = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in p
            assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_sample_is_pushed_filter_no_shuffle(self, spark, registry):
        # the graded row is a union of the rate branch and the DSIR branch
        # since r7 — the no-shuffle property belongs to the rate branch;
        # gate the SHIPPED branch function, not a replica
        from seafowl_spark.io import table
        from seafowl_spark.queries.pipeline import _stratified_rate_branch

        df = _stratified_rate_branch(table(spark, SF, "documents"))
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "PushedFilters:" in formatted
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p

    def test_dsir_scoring_rowlocal_and_join_plans(
        self, spark, registry
    ):
        # DSIR scoring, r13: bounded models (<= 1024 buckets) score
        # ROW-LOCALLY — the lam table constant-folds into an array
        # literal, so the plan has NO join, NO Python and NO
        # per-instance Generate (the explode + per-INSTANCE shuffle was
        # t_sample_stratified's dominant stress growth term). The one
        # allowed shuffle is the per-DOC hash aggregate (review fix:
        # duplicate ids must sum exactly like the join path's groupBy —
        # rows = docs, one decimal column, map-side combined). Models
        # above the threshold keep the broadcast-join shape — the model
        # must BROADCAST (never shuffle the corpus on bucket) and never
        # fall back to a cartesian product.
        import pyspark.sql.functions as F

        from seafowl_spark.io import table
        from seafowl_spark.operators import dsir as dsir_mod
        from seafowl_spark.operators.dsir import dsir_score, fit_dsir

        d = table(spark, SF, "documents").select("doc_id", "text", "lang")
        model = fit_dsir(
            d.where(F.col("lang") == "en"), d, n_buckets=64
        )
        p = (
            dsir_score(d, model, n_buckets=64)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in p
        assert "Python" not in p
        assert "Generate" not in p  # no per-instance explode
        # every shuffle in the plan is the per-doc aggregate, keyed on
        # the id — nothing per-instance ever hits the wire
        ex_lines = [ln for ln in p.splitlines() if "Exchange" in ln]
        assert ex_lines and all("doc_id" in ln for ln in ex_lines)
        # the large-model path keeps the broadcast-join discipline
        orig = dsir_mod._ROWLOCAL_MODEL_MAX_BUCKETS
        dsir_mod._ROWLOCAL_MODEL_MAX_BUCKETS = 0
        try:
            pj = (
                dsir_score(d, model, n_buckets=64)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            dsir_mod._ROWLOCAL_MODEL_MAX_BUCKETS = orig
        assert "BroadcastHashJoin" in pj
        assert "CartesianProduct" not in pj
        assert "Python" not in pj
        # and the full graded row: Gumbel top-k fuses into
        # TakeOrderedAndProject (no global sort materialized), still no
        # cartesian products or Python anywhere
        full = plan_of(spark, registry, "t_sample_stratified")
        assert "TakeOrderedAndProject" in full
        assert "CartesianProduct" not in full
        assert "Python" not in full

    def test_pii_scan_jvm_only_no_shuffle(self, spark, registry):
        p = plan_of(spark, registry, "t_pii_scan")
        assert "Exchange" not in p
        assert "Python" not in p  # regexp work stays in codegen


class TestRound5Graduates:
    """Plan gates for the r5-graduated registry rows."""

    def test_repetition_no_shuffle_no_python(self, spark, registry):
        # every metric comes out of ONE Arrow-vectorized projection (r14,
        # guide §4.2 — the old JVM higher-order-function folds executed
        # interpreted per element: 53 s of task CPU at sf0.1): no
        # data-dependent shuffle and no row-pickling Python. (The graded
        # query adds exactly one widen() repartition hashed on doc_id as
        # a local-mode split-widening accommodation, guide §2.5 — a
        # REPARTITION_BY_NUM over the unique key, so it carries no
        # aggregation/join semantics; no other exchange may appear.)
        p = plan_of(spark, registry, "t_repetition")
        widens = re.findall(
            r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\), "
            r"REPARTITION_BY_NUM",
            p,
        )
        assert len(widens) <= 1, p
        assert len(re.findall(r"Exchange hashpartitioning", p)) == len(widens)
        assert "Exchange rangepartitioning" not in p
        assert "Exchange SinglePartition" not in p
        assert "BatchEvalPython" not in p
        assert p.count("ArrowEvalPython") == 1

    def test_quantize_reference_vector_broadcasts(self, spark, registry):
        # the 1-row min-vec_id reference joins as a broadcast; the corpus
        # side must not shuffle for it
        p = plan_of(spark, registry, "s_quantize_int8")
        assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
        assert "CartesianProduct" not in p
        assert "SortMergeJoin" not in p

    def test_pack_sequences_single_shard_shuffle(self, spark, registry):
        # the cumsum windows per `source` shard: exactly one
        # hash-partitioning exchange (plus nothing global) and no
        # whole-corpus global sort outside the shard-local window sort
        p = plan_of(spark, registry, "p_pack_sequences")
        assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
        assert "Exchange rangepartitioning" not in p
        assert "Exchange SinglePartition" not in p

    def test_chunk_documents_row_local(self, spark):
        # sequence+slice chunking is row-local: no shuffle of any kind.
        # The former p_chunk_documents row merged into p_pack_sequences'
        # 'chunk' branch in r7; gate the shipped operator directly (the
        # merged row's single-exchange gate above proves the union adds
        # nothing on top).
        from seafowl_spark.io import table
        from seafowl_spark.operators.packing import chunk_documents

        df = chunk_documents(
            table(spark, SF, "documents").select("doc_id", "text"),
            chunk_tokens=128,
            overlap=16,
        )
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in p
        assert "Python" not in p


class TestRound6Graduates:
    """Plan gates for the r6-graduated registry rows."""

    def test_clean_lines_corpus_never_shuffles(self, spark, registry):
        # line rules are row-local JVM lambdas. Since r7 the frequent-line
        # finder is the Misra-Gries path: the only Python node is the
        # per-partition MG summarizer (MapInPandas), whose output bounds
        # BOTH hash exchanges (summary merge + survivor exact recount) at
        # capacity x partitions rows; the frequent set comes back as a
        # 1-row broadcast (BNLJ). Corpus text rows never hash-shuffle.
        # Since the r7 double-subtree fix the finder materializes behind
        # localCheckpoints, so the COMPOSED plan shows only the strip:
        # one corpus scan, the 1-row frequent-set broadcast (BNLJ), and
        # no DATA-DEPENDENT hash exchange of corpus text. (Since r14 the
        # graded query adds exactly one widen() repartition hashed on
        # doc_id right after the scan — a local-mode split-widening
        # REPARTITION_BY_NUM over the unique key, guide §2.5, carrying
        # no aggregation/join semantics; nothing else may shuffle.)
        p = plan_of(spark, registry, "t_clean_lines")
        widens = re.findall(
            r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\), "
            r"REPARTITION_BY_NUM",
            p,
        )
        assert len(widens) <= 1, p
        assert len(re.findall(r"Exchange hashpartitioning", p)) == len(widens)
        assert "BroadcastNestedLoopJoin" in p
        assert "CartesianProduct" not in p
        assert "SortMergeJoin" not in p
        # the finder's own (un-materialized) plan keeps the MG shape:
        # Python appears only as the summarizer, every hash exchange is
        # item-keyed or the broadcast-pruned survivor recount on line,
        # and the recount prune is a broadcast join
        from pyspark.sql import functions as F

        from seafowl_spark.operators.heavy_hitters import approx_top_k

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        lines = docs.select(
            F.explode(F.split(F.col("text"), "\n")).alias("line")
        )
        fp = (
            approx_top_k(lines, "line", k=64, capacity=64, materialize=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        ex = re.findall(r"Exchange hashpartitioning\(([^,)]*)", fp)
        assert ex and all(k.startswith(("item", "line")) for k in ex), ex
        assert "MapInPandas" in fp
        assert "BroadcastHashJoin" in fp
        assert "SortMergeJoin" not in fp

    def test_vocab_scoring_broadcasts_capped_vocab(self, spark, registry):
        # the top-K vocabulary joins into token scoring as a broadcast
        # hash join (moved here from test_vocab.py per the r5 review) —
        # a sort-merge join would shuffle every token instance by token.
        # The final per-doc uni x bi merge is exempt: both sides are
        # doc_id-keyed aggregates sharing one hash partitioning, so a
        # sort-merge there adds no exchange and stays corpus-scalable
        # (broadcasting either side would not — r13 localization of the
        # vocab changed the size estimate that used to pick broadcast).
        p = plan_of(spark, registry, "t_vocab_unigram")
        assert "BroadcastHashJoin" in p
        assert not re.search(r"SortMergeJoin \[(token|prev|cur)", p)
        assert "CartesianProduct" not in p
        assert "Python" not in p

    def test_bm25_corpus_side_never_shuffles_for_joins(self, spark, registry):
        # all joins broadcast (BNLJ only for the 1-row stats); every hash
        # exchange sits over aggregated or group-limited data, so corpus
        # token instances never shuffle (detailed structural variant in
        # test_bm25.py)
        p = plan_of(spark, registry, "q_bm25_search")
        assert "SortMergeJoin" not in p
        assert "CartesianProduct" not in p
        assert "BroadcastHashJoin" in p
        assert "Python" not in p

    def test_bm25_shares_one_per_doc_scan(self, spark, registry):
        # r13: the bm25/bm25_all/rrf-overlap/hardneg branches rank ONE
        # materialized per-doc score table (localCheckpoint inside the
        # invocation). The declared plan may scan the corpus only for
        # the fielded branch (postings + stats = 2 scans); the before
        # plan carried 13 — each a full corpus pass at 100 TB.
        df = registry["q_bm25_search"].fn(spark, SF)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        n_corpus = formatted.count("documents.parquet]")
        assert n_corpus <= 2, f"corpus rescans crept back in: {n_corpus}"
        # the shared table is re-read, not recomputed, by the branches
        assert "Scan ExistingRDD" in formatted

    def test_nb_model_broadcasts_into_scoring(self, spark, registry):
        # the vocab-capped model must join scoring as broadcast hash joins;
        # a sort-merge join would shuffle every token instance by token
        p = plan_of(spark, registry, "q_nb_classify")
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p
        assert "CartesianProduct" not in p
        assert "Python" not in p

    def test_substring_dedup_single_corpus_shuffle_no_python(
        self, spark, registry
    ):
        # span hashing is row-local — one Arrow-vectorized pass per
        # branch since r14 (guide §4.2; the JVM transform lambda ran
        # interpreted per window: 14 s task CPU at sf0.1); the
        # hash-keyed windows are the one corpus-sized shuffle (plus the
        # doc-keyed removal join); no row-pickling Python and nothing
        # cartesian
        p = plan_of(spark, registry, "t_substring_dedup")
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p
        assert len(re.findall(r"Exchange hashpartitioning\(span_hash", p)) == 1

    def test_mixture_sample_is_pure_filter(self, spark, registry):
        # rates are driver constants; the sample is one scan + codegen
        # predicate — no shuffle, no Python, no rand()
        p = plan_of(spark, registry, "t_mixture_sample")
        assert "Exchange" not in p
        assert "Python" not in p
        assert "rand" not in p
        assert "Filter" in p


class TestIndexServing:
    """Pruning/plan gates for the index-serving shapes. The graded
    q_index_serving row (SQL plane since r10: CREATE SEARCH INDEX +
    the search_index() relation) must prune BOTH persisted-index scans;
    the vector shapes (vector_serving_shapes — not a registry row, its
    numpy-fit models have no SQL mirror) must prune on cell and serve
    whitening through Arrow batches. Operator-level twins live in
    test_bm25.py / test_pq.py; these run against the exact shapes the
    graded row / the sweep exercise, so they can never silently lose
    the pruning."""

    @staticmethod
    def _captured_probe_plans(spark, registry, monkeypatch):
        """Run the graded row with the probe-plan capture hook on and
        return (final_plan, internal_probe_plans). Since the r14 lookup
        batching, the statement's final plan is all LocalTableScans —
        the partition pruning the gates assert lives in the INTERNAL
        batched probe plans lookup_many executes."""
        from seafowl_spark.engine import search_index as si

        monkeypatch.setenv("SFS_CAPTURE_PROBE_PLANS", "1")
        si.CAPTURED_PROBE_PLANS.clear()
        df = registry["q_index_serving"].fn(spark, SF)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plans = list(si.CAPTURED_PROBE_PLANS)
        si.CAPTURED_PROBE_PLANS.clear()
        return formatted, plans

    def test_sql_plane_scans_partition_pruned(
        self, spark, registry, monkeypatch
    ):
        formatted, plans = self._captured_probe_plans(
            spark, registry, monkeypatch
        )
        # the statement fans 12 search_index() calls over 4 indexes; the
        # r14 batching runs 4 internal probe plans whose k-bounded
        # results re-bind as LocalRelations — the final plan must carry
        # no index scan at all
        assert len(plans) == 4, len(plans)
        assert "Scan parquet" not in formatted
        # EVERY postings/bands scan inside every probe plan must be
        # bucket-pruned: walk each scan block (Location ... ->
        # PartitionFilters) and require a non-empty bucket filter on the
        # index dirs; at least one per probe plan overall
        for p in plans:
            loc = None
            pruned_here = 0
            for line in p.splitlines():
                lm = re.search(r"Location:.*\[(.*)\]", line)
                if lm:
                    loc = lm.group(1)
                fm = re.search(r"PartitionFilters: \[([^\]]*)\]", line)
                if fm and loc and ("/postings" in loc or "/bands" in loc):
                    assert "bucket" in fm.group(1), (loc, p)
                    pruned_here += 1
            assert pruned_here >= 1, p
            assert "CartesianProduct" not in p
            assert "BatchEvalPython" not in p
        assert "CartesianProduct" not in formatted
        assert "BatchEvalPython" not in formatted

    def test_vector_shapes_cell_pruned_and_arrow(self, spark):
        from seafowl_spark.queries.similarity import vector_serving_shapes

        df = vector_serving_shapes(spark, SF)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", formatted)
        non_empty = [f for f in filters if f.strip()]
        # IVF-PQ vectors prune on cell (two scans of the vectors dir:
        # coarse codes + shortlist rerank)
        assert any("cell" in f for f in non_empty), filters
        # whitening applies through the Arrow-batched UDF, never
        # row-at-a-time Python
        assert "ArrowEvalPython" in formatted
        assert "BatchEvalPython" not in formatted
        assert "CartesianProduct" not in formatted

    def test_lsh_cap_constant_in_lockstep(self):
        # the graded oracle bakes the index-side bucket cap as a literal
        # (importing lsh_index at module import would cycle); keep it
        # equal to the operator's real cap
        from seafowl_spark.operators.lsh_index import MAX_BUCKET_ROWS
        from seafowl_spark.queries.similarity import _LSH_INDEX_CAP

        assert _LSH_INDEX_CAP == MAX_BUCKET_ROWS

    def test_bm25_bucket_filter_bounded_by_query_terms(
        self, spark, registry, monkeypatch
    ):
        import glob

        from seafowl_spark.queries.similarity import _seed_sql_serving

        root = _seed_sql_serving(spark, SF)
        _formatted, plans = self._captured_probe_plans(
            spark, registry, monkeypatch
        )
        n_all = len(
            glob.glob(f"{root}/*/_search/bidx/postings/bucket=*")
        )
        # every batched probe plan's bucket filter is an explicit
        # IN/INSET list from the BATCH's term hashes (3 few-word queries
        # -> a handful of distinct terms); the engine index has up to 64
        # buckets and no probe list may cover it
        matches = [
            m
            for p in plans
            for m in re.finditer(
                r"bucket#\d+ (?:IN \(([^)]*)\)|INSET ([0-9, ]+))", p
            )
        ]
        assert matches  # explicit IN-list from the query batch's terms
        for m in matches:
            n_probed = len((m.group(1) or m.group(2)).split(","))
            assert n_probed < max(n_all, 2), (n_probed, n_all)

    def test_probe_plan_capture_is_bounded(self, monkeypatch):
        """A server that inherits SFS_CAPTURE_PROBE_PLANS keeps only the
        newest maxlen plans (the list used to grow on every lookup)."""
        from types import SimpleNamespace

        from seafowl_spark.engine import search_index as si

        monkeypatch.setenv("SFS_CAPTURE_PROBE_PLANS", "1")
        n = si.CAPTURED_PROBE_PLANS.maxlen
        seq = iter(range(2 * n))
        utils = SimpleNamespace(explainString=lambda qe, mode: f"plan {next(seq)}")
        df = SimpleNamespace(
            _sc=SimpleNamespace(_jvm=SimpleNamespace(PythonSQLUtils=utils)),
            _jdf=SimpleNamespace(queryExecution=lambda: None),
        )
        si.CAPTURED_PROBE_PLANS.clear()
        try:
            for _ in range(2 * n):
                si._maybe_capture_probe_plan(df)
            assert list(si.CAPTURED_PROBE_PLANS) == [
                f"plan {i}" for i in range(n, 2 * n)
            ]
        finally:
            si.CAPTURED_PROBE_PLANS.clear()

class TestRegistryWideHygiene:
    def test_no_cartesian_no_row_python_anywhere(self, spark, registry):
        """Registry-wide invariant sweep: NO graded query may plan a
        CartesianProduct or row-at-a-time Python evaluation
        (BatchEvalPython) — the two plan shapes that do not survive a
        100x scale-up. Per-query gates above catch specific regressions;
        this net catches a violation introduced by ANY future row
        without needing a bespoke gate first. Since r10 the sweep also
        covers the NON-registry vector serving shapes (they left the
        graded window because numpy-fit models have no SQL mirror — not
        to escape the plan invariants)."""
        from seafowl_spark.queries.similarity import vector_serving_shapes

        swept = dict(registry)
        swept["__vector_serving_shapes"] = type(
            "E", (), {"fn": staticmethod(vector_serving_shapes)}
        )
        offenders = {}
        for name, ent in swept.items():
            p = (
                ent.fn(spark, SF)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            flags = [
                f
                for f, tok in (
                    ("cartesian", "CartesianProduct"),
                    ("row-python", "BatchEvalPython"),
                )
                if tok in p
            ]
            if flags:
                offenders[name] = flags
        assert offenders == {}, offenders


class TestRound7SessionCGraduates:
    """Plan gates for the r7 session-C graduations (COVERAGE.md round-8
    candidates: time-series, GK quantiles, the sampling family)."""

    def test_timeseries_single_corpus_scan(self, spark, registry):
        # resample truncates at the bucket-level aggregate, so the dense
        # grid's two consumers (span + join) share ONE materialized RDD
        # instead of re-scanning the events source per consumer (the
        # double-subtree trap). The plan must show the checkpoint scans
        # and NO residual parquet scan of the corpus.
        p = plan_of(spark, registry, "q_timeseries")
        assert "Scan parquet" not in p
        assert p.count("Scan ExistingRDD") == 2
        # the LOCF window sorts within the key partitions — never a
        # global range exchange; nothing drops to Python
        assert "Exchange rangepartitioning" not in p
        assert "Python" not in p

    def test_grouping_multi_gk_uses_sketch_aggregate(self, spark, registry):
        # the 'gk' branch must go through the Greenwald-Khanna sketch
        # aggregate (mergeable partial state — the 100 TB path), not the
        # exact sort-based percentile the 'pct' branch demonstrates
        p = plan_of(spark, registry, "q_grouping_multi")
        assert "approx_percentile" in p or "percentile_approx" in p

    def test_shuffle_prefix_is_top_k_not_global_sort(self, spark):
        # the deterministic-shuffle branch takes its K-row prefix via
        # TakeOrderedAndProject (per-partition top-k + k-row merge);
        # a global rangepartitioning sort of the corpus would not
        # survive a 100x scale-up
        import pyspark.sql.functions as F

        from seafowl_spark.io import table
        from seafowl_spark.operators.sampling import (
            deterministic_shuffle_key,
        )

        base = table(spark, SF, "documents").select("doc_id")
        df = (
            base.withColumn(
                "skey", deterministic_shuffle_key(F.col("doc_id"))
            )
            .orderBy("skey", "doc_id")
            .limit(100)
        )
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "TakeOrderedAndProject" in p
        assert "Exchange rangepartitioning" not in p

    def test_wsample_is_top_k_not_global_sort(self, spark):
        # weighted_sample's k-smallest-keys select must execute as
        # TakeOrderedAndProject too (the operator's documented contract)
        from seafowl_spark.io import table
        from seafowl_spark.operators.sampling import weighted_sample

        df = weighted_sample(
            table(spark, SF, "documents").select("doc_id", "n_chars"),
            100,
            "n_chars",
        )
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "TakeOrderedAndProject" in p
        assert "Exchange rangepartitioning" not in p


class TestRound8Graduates:
    """Plan gates for the r8 graded rows' 100 TB claims."""

    def test_quality_classifier_model_stays_literal(self, spark, registry):
        """The trained model is dim+1 plain literals — scoring must plan
        as a projection over the featurized aggregate: no join to any
        model table, no Python on corpus rows."""
        from pyspark.sql import functions as F

        from seafowl_spark.operators.logreg import (
            hashed_features,
            logreg_scores,
            train_logreg,
        )
        from seafowl_spark.io import table

        d = table(spark, SF, "documents").select("doc_id", "text", "lang")
        feat = hashed_features(
            d, label=(F.col("lang") == "en").cast("int"), dim=8
        ).localCheckpoint()
        w, b, _ = train_logreg(feat, dim=8, epochs=1)
        p = (
            logreg_scores(feat, w, b, 8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in p  # weights are literals, not a joined table
        assert "BatchEvalPython" not in p
        assert "Exchange" not in p  # pure projection over the checkpoint

    def test_quality_classifier_epoch_is_one_aggregate(self, spark):
        """Each training epoch is ONE map-side-combined aggregate: the
        gradient plan carries exactly one shuffle (partial -> final),
        JVM-only."""
        from pyspark.sql import functions as F

        from seafowl_spark.operators.logreg import (
            _p_quantized,
            hashed_features,
        )
        from seafowl_spark.io import table

        d = table(spark, SF, "documents").select("doc_id", "text", "lang")
        feat = hashed_features(
            d, label=(F.col("lang") == "en").cast("int"), dim=8
        ).localCheckpoint()
        r = _p_quantized([0.0] * 8, 0.0, 8) - F.col("y")
        g = feat.select(r.alias("__r"), *[f"x{j}" for j in range(8)]).agg(
            *[
                F.sum((F.col("__r") * F.col(f"x{j}")).cast("decimal(25,12)"))
                .cast("double")
                .alias(f"g{j}")
                for j in range(8)
            ]
        )
        p = g._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange", p)) == 1
        assert "partial" in p.lower()  # map-side combine before the shuffle
        assert "BatchEvalPython" not in p

    def test_paragraph_dedup_single_hash_shuffle(self, spark):
        """The para branch's corpus shuffle carries (hash, doc, pos) —
        one window shuffle on the paragraph hash plus the per-doc
        reassembly aggregate; no Python, no cartesian."""
        from seafowl_spark.operators.paragraph_dedup import dedup_paragraphs
        from seafowl_spark.io import table

        d = table(spark, SF, "documents").select(
            "doc_id", "text"
        )
        p = (
            dedup_paragraphs(d)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in p
        assert "CartesianProduct" not in p
        # hash-partition shuffles only: dedup window (+AQE may reuse) and
        # the doc-keyed reassembly — never a global range sort
        assert "rangepartitioning" not in p.lower()


class TestWhiteningMoments:
    def test_gram_partial_aggregates_before_shuffle(self, spark):
        """The whitening Gram pass (graded as s_quantize_int8's 'gram'
        branch) must map-side combine: partial_sum BEFORE the (i, j)
        exchange, so the shuffle carries d(d+1)/2 scalars per partition
        instead of exploded per-row cells; the scan reads ONLY the
        embedding column; floor stays in codegen (no Python)."""
        import pyspark.sql.functions as F

        from seafowl_spark.io import table
        from seafowl_spark.operators.whiten import moment_sums

        emb = table(spark, SF, "embeddings").select(
            F.col("embedding").cast("array<double>").alias("emb")
        )
        p = (
            moment_sums(emb, "emb", 64)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "partial_sum" in p
        assert p.index("partial_sum") > p.index("Exchange")  # plan prints top-down
        assert "ReadSchema: struct<embedding:array<float>>" in p
        assert "BatchEvalPython" not in p and "CartesianProduct" not in p
