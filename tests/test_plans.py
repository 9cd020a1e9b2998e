"""Physical-plan audits: the scale contract, asserted.

These tests pin the plan shapes that make the operators viable at
100 TB — predicate pushdown into the parquet scan, column pruning,
broadcast joins for dims, semi/anti join strategies, and absence of
cartesian products where a broadcast is intended. A refactor that
silently regresses one of these still passes the value checks; this
file is what catches it.
"""

import contextlib
import io

from sql_flow_spark.operators import QUERIES


def plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    p = plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: o_orderkey etc. absent; only the 7 needed columns read
    assert "l_comment" not in p
    assert "ReadSchema" in p
    # partial aggregation before the exchange (map-side combine)
    assert p.count("HashAggregate") >= 2


def test_q6_all_predicates_pushed(spark, sf_dir):
    p = plan(spark, sf_dir, "q6_selective_agg")
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in p or col in p.split("PushedFilters")[1].split("]")[0]


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("dim_join", "q3_shipping_priority", "q5_local_supplier",
                 "orders_enrich_scd", "rollup_regional_sales"):
        p = plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in p, f"{name} lost its broadcast join"
        assert "CartesianProduct" not in p, f"{name} degraded to cartesian"


def test_semi_and_anti_join_strategies(spark, sf_dir):
    assert "LeftSemi" in plan(spark, sf_dir, "q4_semi_join")
    assert "LeftAnti" in plan(spark, sf_dir, "anti_join_inactive")


def test_ann_broadcasts_queries(spark, sf_dir):
    p = plan(spark, sf_dir, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_whole_stage_codegen_on_text_ops(spark, sf_dir):
    # text analysis must stay JVM-side: no python UDF nodes in the plan
    for name in ("text_quality", "lang_id", "token_count", "doc_fingerprint"):
        p = plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            f"{name} fell back to python execution"
        )
        # formatted mode marks whole-stage-codegen operators with '* '.
        # r13: the small-scan spread (tables._SPREAD_SCAN_TABLES) adds
        # one doc_id-hash exchange on the tiny local documents file,
        # which wraps the plan in AdaptiveSparkPlan — codegen
        # annotations then only appear in the final (post-execution)
        # plan, so accept the adaptive wrapper as long as the only
        # exchange is the spread's doc_id hash (never a shuffle the
        # narrow map itself introduced).
        import re

        foreign = [
            k for k in re.findall(r"hashpartitioning\((\w+)", p)
            if not k.startswith("doc_id")
        ]
        assert (
            "* Project" in p
            or "* HashAggregate" in p
            or (
                "AdaptiveSparkPlan" in p
                and not foreign
                and "rangepartitioning(" not in p
            )
        )


def test_multimodal_is_arrow_not_row_python(spark, sf_dir):
    # the one intentional python stage must be Arrow-batched (mapInPandas)
    p = plan(spark, sf_dir, "multimodal_features")
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_minhash_bucket_cap_exchange_shape(spark, sf_dir, monkeypatch):
    """The bucket-cap window must cost its (band, bkey) exchange ONCE,
    paid inside the checkpoint-materialized bands relation that both
    sides of the candidate self-join read (r2 verdict item 10; r5 moved
    the materialization from cache() to materialize_once so nothing
    leaks in the CacheManager). Spark 4 additionally inserts
    WindowGroupLimit, which truncates each bucket to the cap map-side
    BEFORE the shuffle — the cap reduces shuffle volume rather than
    adding a pass over the full band table."""
    from sql_flow_spark.functions.mat import lazy_plans

    # Lazy twin (materialization disabled via the official plan-only
    # escape hatch): the window pipeline is visible — map-side
    # WindowGroupLimit before the band exchange, no cartesian, and the
    # un-materialized bands subtree would pay its band shuffle once
    # PER JOIN SIDE (the cost materialize_once collapses).
    with lazy_plans():
        lazy = plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "WindowGroupLimit" in lazy  # map-side bucket truncation
    assert "CartesianProduct" not in lazy
    assert lazy.count("hashpartitioning(band") == 2

    # Production shape: the band exchange was already paid once at
    # materialization time — the final plan re-reads the materialized
    # bands on both join sides and caches nothing.
    spark.catalog.clearCache()
    p = plan(spark, sf_dir, "dedup_minhash_lsh")
    assert p.count("hashpartitioning(band") == 0
    assert p.count("Scan ExistingRDD") >= 2
    assert "InMemoryRelation" not in p
    assert "CartesianProduct" not in p


def test_no_corpus_cardinality_broadcasts(spark, sf_dir):
    """curation_pipeline's `keepers` (one row per DISTINCT fingerprint)
    and cohort_retention's `firsts` (one row per user) are
    corpus/user-cardinality — billions of rows at 100 TB. Neither may
    carry a broadcast HINT (r3 verdict items 2-3). With the auto
    threshold disabled, a hint-free plan has zero BroadcastExchange;
    a surviving hint would still force one."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("cohort_retention",):
            p = plan(spark, sf_dir, name)
            assert "BroadcastExchange" not in p, f"{name} broadcasts a big table"
            assert "CartesianProduct" not in p
        # curation_pipeline: the keepers join must shuffle on f; the
        # plan may contain no broadcast at all (its dims are derived)
        p = plan(spark, sf_dir, "curation_pipeline")
        assert "BroadcastExchange" not in p, "keepers side must shuffle-join"
        assert "hashpartitioning(f" in p  # dup check is the one shuffle on f
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_embedding_builders_trigger_no_driver_jobs(
    spark, sf_dir, monkeypatch, job_ids
):
    """load_tables attaches {"dim": N} metadata to the embedding column
    (from one pyarrow-decoded value — a driver file read, not a Spark
    job), so ANN / embedding-dedup BUILDERS are fully lazy: constructing
    the plan must never fire the .first() dimensionality probe
    (r2 verdict item 8). After a warm load the tables' footer records
    carry their schemas, so the builders' own load_tables runs no
    schema-inference job either: plan construction runs no Spark job
    beyond dedup_embedding_lsh's deliberate eager checkpoint
    (materialize_once), counted under its own job group."""
    from pyspark.sql import DataFrame

    from sql_flow_spark.functions import mat
    from sql_flow_spark.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    md = emb.schema["embedding"].metadata
    assert md.get("dim", 0) > 0
    # the attached values are the file's: dim is the first vector's
    # length, nrows the table's row count
    import duckdb
    import pyarrow.parquet as pq

    path = f"{sf_dir}/embeddings.parquet"
    first = pq.read_table(path, columns=["embedding"]).column(0)[0].as_py()
    assert md["dim"] == len(first)
    count = duckdb.sql(f"select count(*) from '{path}'").fetchone()[0]
    assert md["nrows"] == count

    def _no_probe(self, *a, **k):
        raise AssertionError("builder fired a driver-side probe job")

    monkeypatch.setattr(DataFrame, "first", _no_probe)
    monkeypatch.setattr(DataFrame, "head", _no_probe)
    monkeypatch.setattr(DataFrame, "collect", _no_probe)
    checkpoint_jobs = []
    real_materialize = mat.materialize_once

    def own_group(df):
        with job_ids() as ids:
            out = real_materialize(df)
        checkpoint_jobs.extend(ids)
        return out

    monkeypatch.setattr(mat, "materialize_once", own_group)
    with job_ids() as ids:
        for name in ("ann_lsh_topk", "ann_cosine_topk", "dedup_embedding_lsh"):
            QUERIES[name](spark, sf_dir)  # plan construction only
    assert ids == []
    assert checkpoint_jobs


def test_ivf_trainer_plan_has_no_exchange(spark, sf_dir):
    """VERDICT r5 item 6: the IVF centroid training sample must not
    shuffle FOR THE ORDERING — the hash-ordered bounded sample compiles
    to TakeOrderedAndProject (per-partition top-k, driver merge), never
    a range/hash Exchange + global Sort. The r13 single-row-group scan
    spread (tables._SPREAD_SCAN_TABLES) adds an id-keyed exchange at
    the SCAN on the tiny test files — that is the deliberate,
    scale-guarded input-parallelism fix, not an ordering shuffle, so
    only a range exchange / global Sort is forbidden here."""
    from pyspark.sql import functions as F

    from sql_flow_spark.functions.similarity import _IVF_TRAIN_SAMPLE
    from sql_flow_spark.tables import load_tables

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    sample_df = (
        e.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")), "vec_id")
        .limit(_IVF_TRAIN_SAMPLE)
    )
    p = sample_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "Sort " not in p


def test_lazy_plans_escape_hatch(spark):
    """materialize_once is EAGER by contract (building an operator
    executes checkpoint jobs); lazy_plans() must make it an identity
    pass-through for plan-only consumers, and restore eagerness on
    exit (even via exception)."""
    import pytest

    from sql_flow_spark.functions.mat import lazy_plans, materialize_once

    df = spark.range(3)
    with lazy_plans():
        assert materialize_once(df) is df
    assert materialize_once(df) is not df  # eager again

    with pytest.raises(RuntimeError):
        with lazy_plans():
            raise RuntimeError("boom")
    assert materialize_once(df) is not df  # restored after exception


def test_r6_operators_plan_hygiene(spark, sf_dir):
    """The r6 additions keep the global invariants: no cartesian
    products, no python fallback, and the q9 star join broadcasts its
    dims while cross_split_contamination stays a single-shuffle
    aggregate."""
    for name in (
        "q9_product_profit", "q11_important_stock", "q16_parts_suppliers",
        "q20_dominant_supplier", "cross_split_contamination",
        "unigram_logprob",
    ):
        p = plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name} degraded to cartesian"
        assert "EvalPython" not in p, f"{name} fell back to python"
    assert "BroadcastHashJoin" in plan(spark, sf_dir, "q9_product_profit")
    p = plan(spark, sf_dir, "cross_split_contamination")
    assert "BroadcastHashJoin" not in p  # narrow scan + one agg exchange
    assert p.count("HashAggregate") >= 2  # map-side partials


def test_r6b_operators_plan_hygiene(spark, sf_dir):
    """Plan pins for the second r6 batch: zero-shuffle rule filters,
    bounded exchange counts on the dedup/temporal shapes, top-k via
    TakeOrderedAndProject, and the global no-cartesian/no-python
    invariants."""
    # pure-codegen projection: no exchange of its OWN (r13: the
    # small-scan spread may add one doc_id-hash exchange on the tiny
    # local documents file so the regex-heavy projection uses all
    # cores; at scale the guard is false and the plan is
    # exchange-free — see tables._SPREAD_SCAN_TABLES)
    import re

    p = plan(spark, sf_dir, "gopher_quality")
    foreign = [
        k for k in re.findall(r"hashpartitioning\((\w+)", p)
        if not k.startswith("doc_id")
    ]
    assert not foreign and "rangepartitioning(" not in p
    assert "EvalPython" not in p

    # chunk dedup: exactly the two hash shuffles the design claims
    # (global chunk count + per-doc agg); join-back may be broadcast at
    # toy scale, but never cartesian
    p = plan(spark, sf_dir, "chunk_dedup")
    assert p.count("Arguments: hashpartitioning(") <= 3
    assert "CartesianProduct" not in p

    # q2: ordered top-100 must be TakeOrderedAndProject, dims broadcast
    p = plan(spark, sf_dir, "q2_min_cost_supplier")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p

    # temporal + ML shapes: no cartesian, no row-python anywhere
    for name in (
        "asof_attribution",
        "range_join_attribution",
        "events_gapfill",
        "embedding_centroids",
        "value_quartiles",
        "knn_classify",
        "time_weighted_avg",
        "embedding_outliers",
    ):
        p = plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name} degraded to cartesian"
        assert "EvalPython" not in p, f"{name} fell back to row python"

    # centroids: single shuffle onto (label, dim) — the r13 spread's
    # vec_id exchange on the tiny local embeddings file is not the
    # operator's own (guard-disabled at scale)
    p = plan(spark, sf_dir, "embedding_centroids")
    own = [
        k for k in re.findall(r"Arguments: hashpartitioning\((\w+)", p)
        if not k.startswith("vec_id")
    ]
    assert len(own) == 1


def test_r8_operators_plan_hygiene(spark, sf_dir):
    """Plan pins for the r8 additions: heavy_hitters must never
    shuffle the full vocabulary to a sort-merge join (the whole point
    is MG candidates + broadcast recount); the trend pair collapses to
    types x days before its pair joins; triangle_count_sparse shares
    the oriented-edge exchange like its exact twin."""
    p = plan(spark, sf_dir, "heavy_hitters")
    assert "SortMergeJoin" not in p, "recount must broadcast candidates"
    assert p.count("BroadcastHashJoin") >= 1
    assert "MapInPandas" in p  # the per-partition MG summaries
    assert "CartesianProduct" not in p

    for name in ("theil_sen_trend", "mann_kendall_trend"):
        p = plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name} degraded to cartesian"
        assert "EvalPython" not in p, f"{name} fell back to python"

    # sparse twin keeps the exact pipeline's plan shape (same joins /
    # exchanges — only the edge-source HAVING differs; exchange REUSE
    # materializes under AQE at runtime, not in the static plan)
    ps = plan(spark, sf_dir, "triangle_count_sparse")
    pe = plan(spark, sf_dir, "triangle_count")
    assert "CartesianProduct" not in ps
    assert ps.count("SortMergeJoin") == pe.count("SortMergeJoin")
    assert ps.count("Exchange") == pe.count("Exchange")


def test_r8b_operators_plan_hygiene(spark, sf_dir):
    """Plan pins for the second r8 batch (retrieval + panels): global
    no-cartesian/no-python invariants everywhere; the retrieval and
    path top-ks materialize as distributed TakeOrderedAndProject (the
    rank window only ever sees the survivors); the Pareto/Lorenz pair
    must show the rangepartitioning exchange of the distributed-rank
    pattern (a bare global window would be a one-task sort)."""
    keys = (
        "bm25_topk", "rrf_fusion", "kaplan_meier_retention",
        "next_event_prediction", "supplier_scorecard",
        "hhi_concentration", "abc_classification", "tokenizer_fertility",
        "fulfillment_latency", "session_path_topk", "dau_mau_stickiness",
        "lorenz_curve_deciles", "embedding_quantization",
        "growth_accounting", "skyline_parts", "conversion_ab_test",
        "lang_confusion", "frequent_triples", "transition_latency",
        "daily_peaks", "doc_language_purity", "weighted_median_price",
        "bm25_self_retrieval_mrr", "dup_rate_by_source",
        "pii_density_by_source", "shingle_novelty_curve",
    )
    plans = {}
    for name in keys:
        p = plans[name] = plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name} degraded to cartesian"
        assert "EvalPython" not in p, f"{name} fell back to python"

    # top-k via sort-limit, not a full-set global rank window
    for name in ("bm25_topk", "rrf_fusion", "session_path_topk"):
        assert "TakeOrderedAndProject" in plans[name], name

    # distributed global rank/cumsum: range partition on the sort
    # order (materialize_once checkpoints eagerly, so audit the
    # pre-materialization plan via the lazy_plans escape hatch)
    from sql_flow_spark.functions.mat import lazy_plans

    with lazy_plans():
        for name in ("abc_classification", "lorenz_curve_deciles"):
            assert "rangepartitioning" in plan(spark, sf_dir, name), name

    # holt's sequential recurrence is the sanctioned grouped-map
    # escape hatch — but it must sit ABOVE the month aggregation
    # (calendar-bounded input), never on raw orders
    p = plan(spark, sf_dir, "holt_linear_forecast")
    assert "FlatMapGroupsInPandas" in p
    assert p.count("HashAggregate") >= 2  # months collapse first

    # aggregate-then-join: the scorecard broadcasts nation, and the
    # fertility panel is a narrow map + one tiny agg exchange (no join)
    assert "BroadcastHashJoin" in plans["supplier_scorecard"]
    p = plans["tokenizer_fertility"]
    assert "Join" not in p
    assert p.count("HashAggregate") >= 2  # map-side partials


def test_r10_curation_panels_plan_hygiene(spark, sf_dir):
    """r10 additions: the context-fit panel is a pure codegen scan +
    sources-sized agg (no join, map-side partials); the filter-survival
    panel broadcasts its languages-sized share table (never a
    sort-merge join on the bounded key) and keeps the Gopher
    conjunction JVM-side."""
    p = plan(spark, sf_dir, "context_fit_report")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "Join" not in p
    assert p.count("HashAggregate") >= 2  # map-side combine

    p = plan(spark, sf_dir, "quality_filter_survival")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p

    # the r10 Kaplan-Meier rewrite: grouped-map recurrence must sit
    # ABOVE the distinct-times aggregation (calendar-bounded input),
    # with zero ln/exp in the plan
    p = plan(spark, sf_dir, "kaplan_meier_retention")
    assert "FlatMapGroupsInPandas" in p
    assert p.count("HashAggregate") >= 2
    assert "LOG(" not in p.upper().replace("CATALOG", "")
    assert "EXP(" not in p.upper()


def test_r10_selection_and_overlap_plan_hygiene(spark, sf_dir):
    """r10 additions #2: the budget/packing panels are single-window
    per-language scans (no join, no Python); the source-overlap
    self-join is keyed on the fingerprint (equi-join, never cartesian);
    the diversity panel stays entirely JVM-side with map-side partials
    and a broadcast count join."""
    for name in ("token_budget_select", "packing_efficiency"):
        p = plan(spark, sf_dir, name)
        assert "EvalPython" not in p and "CartesianProduct" not in p
        assert "Join" not in p
        assert "Window" in p  # the one per-language window
        assert p.count("HashAggregate") >= 2  # map-side combine

    p = plan(spark, sf_dir, "source_overlap_matrix")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # equi-join on the fingerprint (broadcast at test scale, SMJ at
    # corpus scale — either is keyed, never a cross product)
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)

    p = plan(spark, sf_dir, "embedding_diversity_by_label")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # labels-sized count side
    assert p.count("HashAggregate") >= 4  # two agg stages, partials each


def test_r12_dedup_keys_plan_hygiene(spark, sf_dir):
    """r12 additions: the duplicate-n-gram panel stays JVM-side with
    equi-joins only (the gram probe join and per-doc rollup), and the
    SemDeDup pair stage is an equi-join on the cluster key — quadratic
    only within a cluster, never a cross product — with the Lloyd
    centroids broadcast."""
    p = plan(spark, sf_dir, "dup_ngram_fraction")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)
    assert p.count("HashAggregate") >= 2  # gram index + per-doc rollup

    p = plan(spark, sf_dir, "semdedup_prune")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the assignment table is localCheckpoint-ed (three consumers), so
    # the explain only shows the post-checkpoint lineage: the pair
    # stage must still be a KEYED equi-join on the cluster (the
    # checkpointed RDD has no size stats, so SMJ is the expected
    # strategy; what matters is that it is never a cross product)
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)


def test_r12_funnel_mix_pq_plan_hygiene(spark, sf_dir):
    """r12 additions (second batch): the funnel and temperature mix
    stay JVM-side — their only nested-loop joins are the broadcast
    one-row/3-row normalizer frames (the tiny-literal exception) — and
    the PQ trainer joins are all keyed with the codebook broadcast."""
    p = plan(spark, sf_dir, "filter_funnel")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    # keepers groupBy, drop_idx agg, funnel agg (partials each)
    assert p.count("HashAggregate") >= 4

    p = plan(spark, sf_dir, "temperature_mix_weights")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2  # source agg + t_fp normalizer

    p = plan(spark, sf_dir, "pq_quantization_audit")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p  # every join is keyed
    assert "BroadcastHashJoin" in p  # codebook/centroid joins broadcast


def test_r12_ann_keys_plan_hygiene(spark, sf_dir):
    """IVF-PQ and the recall panel: no cartesian products anywhere
    (candidate generation is the cell equi-join; the panel's joins are
    keyed on (qid, nid)); the per-query tables (LUT, cell term,
    shortlist rerank queries) broadcast. ArrowEvalPython appears only
    for the IVF assign pandas_udf — never row-at-a-time EvalPython."""
    p = plan(spark, sf_dir, "ann_ivfpq_topk")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p  # Arrow-batched assign only

    p = plan(spark, sf_dir, "ann_recall_report")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # dedup_eval_report: the blocked-truth join carries non-equi
    # conjuncts (size band) on top of the block equi-key, the method
    # legs stay band-bucket equi-joins, and the only nested-loop joins
    # are the broadcast one-row count frames; SimHash's signature UDF
    # is the family's Arrow-batched one, never row-at-a-time
    p = plan(spark, sf_dir, "dedup_eval_report")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
