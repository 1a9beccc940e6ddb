"""Physical-plan quality gates: the properties that make these queries
scale must survive refactors.  Each assertion is a scale invariant the
100 TB design depends on (ARCHITECTURE.md 'verified plan properties')."""

from __future__ import annotations

import re

import pytest

from data_engineer_project_weather_analytics_spark.plans.registry import REGISTRY

from .conftest import SF_DIR


def _formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize(
    "name",
    ["p7_filter_projection", "p10_range_filter", "tpch_q1_pricing_summary",
     "tpch_q6_forecast_revenue"],
)
def test_filters_push_into_scan(spark, name):
    plan = _formatted_plan(spark, name)
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert pushed, f"{name}: no PushedFilters section"
    assert any("[]" not in l for l in pushed), f"{name}: scan has empty pushdown: {pushed}"


def test_column_pruning_reaches_scan(spark):
    plan = _formatted_plan(spark, "p7_filter_projection")
    read = [l for l in plan.splitlines() if "ReadSchema:" in l][0]
    # only the 4 referenced columns, not all 6 event columns
    assert "props" not in read and "ts" not in read, read


@pytest.mark.parametrize(
    "name",
    ["j1_dim_join_agg", "tpch_q3_shipping_priority", "tpch_q5_local_volume",
     "a5_latest_join_dim", "tpch_q18_top_customers",
     "tpch_q17_small_quantity_revenue", "tpch_q7_volume_shipping",
     "tpch_q10_returned_items"],
)
def test_dimension_joins_broadcast(spark, name):
    plan = _formatted_plan(spark, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"


def test_topk_avoids_global_sort(spark):
    plan = _formatted_plan(spark, "o2_topk")
    assert "TakeOrderedAndProject" in plan, "top-k should plan TakeOrderedAndProject"


@pytest.mark.parametrize(
    "name",
    ["k2_upsert_lww", "a3_latest_per_key", "w2_moving_avg", "j3_asof_join",
     "j1_dim_join_agg", "tpch_q1_pricing_summary", "x2b_lsh_candidate_pairs",
     "a11_salted_agg", "w3_session_windows", "x2f_lsh_verified_neardup",
     "x3b_embedding_neardup", "tpch_q4_order_priority",
     "tpch_q13_order_distribution"],
)
def test_no_cartesian_products(spark, name):
    plan = _formatted_plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join in plan"


def test_whole_stage_codegen_covers_scan_pipeline(spark):
    # formatted mode under AQE hides codegen spans; codegen mode lists them
    df = REGISTRY["tpch_q1_pricing_summary"].fn(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "WholeStageCodegen" in plan


def test_aggregates_have_mapside_partials(spark):
    plan = _formatted_plan(spark, "tpch_q1_pricing_summary")
    assert "partial_sum" in plan, "no map-side partial aggregation before the exchange"


def test_tpch_q1_scan_is_column_and_predicate_pruned(spark):
    """tpch_q1's lineitem scan must stay minimal (VERDICT r12 task 6,
    examined and closed in r13: the plan was already optimal — this
    gate makes the property permanent): ReadSchema carries exactly the
    seven columns the aggregation needs, and the shipdate cutoff
    reaches PushedFilters (guide §6 — a filter that misses the scan
    re-reads the whole fact table at 100 TB)."""
    plan = _formatted_plan(spark, "tpch_q1_pricing_summary")
    schema_lines = [
        l for l in plan.splitlines() if l.strip().startswith("ReadSchema:")
    ]
    assert len(schema_lines) == 1, schema_lines
    schema = schema_lines[0].split("struct<", 1)[1]
    cols = [c.split(":")[0] for c in schema.rstrip(">").split(",")]
    assert cols == [
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    ], cols
    pushed = [
        l for l in plan.splitlines() if l.strip().startswith("PushedFilters:")
    ]
    assert pushed and "LessThanOrEqual(l_shipdate" in pushed[0], pushed


def test_window_queries_single_shuffle(spark):
    # one Exchange for the per-key window — no hidden repartitions
    plan = _formatted_plan(spark, "w2_moving_avg")
    exchanges = [l for l in plan.splitlines() if l.strip().startswith("(") and "Exchange" in l]
    assert len(exchanges) <= 1, exchanges


def test_salted_agg_two_phase(spark):
    plan = _formatted_plan(spark, "a11_salted_agg")
    # two aggregation phases (salted partial + final), each with its own
    # partial/final HashAggregate pair
    assert plan.count("HashAggregate") >= 3


def test_lsh_verifier_is_candidate_pruned(spark):
    """x2f's exact-Jaccard stage must take the candidate pair table as
    a join input — a full-corpus shingle self-join followed by an
    intersect would defeat LSH pruning at scale.  The candidate-pruned
    shape joins shingles twice THROUGH the pair table: the logical plan
    then references the documents scan three times (shingles for id_a,
    shingles for id_b, sizes) downstream of the candidate subplan,
    and crucially contains no shingle-on-shingle equi-join between two
    full doc_shingles scans outside the candidate branch."""
    from data_engineer_project_weather_analytics_spark.operators import dedup
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    ds = dedup.doc_shingles(docs, "doc_id", "text", n=3)
    # a tiny literal candidate set: the verify work must scale with it
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = dedup.jaccard_for_candidates(ds, "doc_id", cand, threshold=0.0)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    # the candidate-pruned shape's signature: the second shingle join is
    # keyed on BOTH the pair's id_b AND the shingle (composite key) —
    # the full-corpus formulation joins on shingle alone
    key_lines = [
        l for l in plan.splitlines()
        if "keys" in l and "shingle" in l and "id_b" in l
    ]
    assert key_lines, plan
    # and with 1 candidate pair the result is bounded by it
    assert out.count() <= 1


def test_packed_verifier_is_aggregation_free(spark):
    """x2f/x53's packed verify must score each candidate pair IN-ROW
    (array_intersect over the two packed hash sets): no aggregation
    node anywhere in the verify subplan — the exploded form's
    post-join corpus-wide groupBy is exactly what spilled past disk at
    the 5 M-doc 1000x point (round 10).  The widest intermediate is
    |candidates| rows by construction."""
    from data_engineer_project_weather_analytics_spark.operators import dedup
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    doc_sets = dedup.doc_shingle_hash_sets(docs, "doc_id", "text", n=3)
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = dedup.jaccard_for_candidates_packed(doc_sets, "doc_id", cand, threshold=0.0)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    assert "array_intersect" in plan
    assert "Aggregate" not in plan, plan  # no Hash/Sort/ObjectAggregate
    assert out.count() <= 1
    # and the registered x2f pipeline carries the packed verify
    x2f_plan = _formatted_plan(spark, "x2f_lsh_verified_neardup")
    assert "array_intersect" in x2f_plan


def test_stored_pq_query_plan_has_no_training_stages(spark):
    """x50b's per-query plan must be the pure READ path: scan the
    stored codes parquet + the filter-pruned 8-row query slice of
    embeddings, distance tables from the STORED quantizer max.  The
    training stages x50 re-runs in-query — the corpus-wide
    ``max(array_max(...))`` quantizer aggregate and the per-vector
    code assignment — must be absent (build once, probe forever; the
    100 TB ANN read shape, VERDICT r10 task 3)."""
    plan = _formatted_plan(spark, "x50b_pq_topk_stored")
    assert "spark_graft_pq_index" in plan  # stored codes are scanned
    # exactly ONE embeddings scan: the vec_id<8 query side (pushed)
    assert plan.count("embeddings.parquet") == 1, plan
    pushed = [
        l for l in plan.splitlines()
        if "PushedFilters:" in l and "vec_id" in l
    ]
    assert pushed, plan
    # no quantizer training: the corpus max aggregate is x50-only
    assert "array_max" not in plan, plan
    # the stored IVF sibling: same invariants, plus the probe joins
    # stored codes BY CELL (posting-list pruning survives storage)
    ivf = _formatted_plan(spark, "x51b_ivfpq_topk_stored")
    assert "spark_graft_pq_index" in ivf
    # the cell-partitioned codes scan carries a dynamic-pruning
    # SUBQUERY that re-prints the probe side below the main plan (it
    # REUSES the probe's broadcast at runtime — not a second scan), so
    # count embeddings scans in the main section only
    ivf_main = ivf.split("===== Subqueries =====")[0]
    assert ivf_main.count("embeddings.parquet") == 1, ivf
    assert "array_max" not in ivf, ivf
    assert re.search(r"Left keys \[1\]: \[cell", ivf), ivf


def test_stored_index_partition_pruned_layouts(spark):
    """The stored-index pruning layouts (VERDICT r11 task 1): IVF codes
    are written ``partitionBy(cell)``, so x51b's probe join prunes at
    the FILE level — the codes scan must carry a
    ``dynamicpruningexpression(cell IN ...)`` PartitionFilter (each
    query opens only its probed cells' posting-list files, not the
    whole codes artifact filtered after the read).  LSH signatures are
    written ``partitionBy(band)``: the sigs scan's ReadSchema must NOT
    contain ``band`` (it arrives from the directory layout, not the
    file bytes), proving the partitioned layout is live."""
    ivf = _formatted_plan(spark, "x51b_ivfpq_topk_stored")
    assert re.search(
        r"dynamicpruningexpression\(cell#\d+ IN dynamicpruning", ivf
    ), ivf
    lsh = _formatted_plan(spark, "x53b_incremental_neardup_stored")
    lines = lsh.splitlines()
    sig_schemas = []
    for i, line in enumerate(lines):
        if "/sigs" in line and "Location" in line:
            for nb in lines[i : i + 6]:
                if "ReadSchema" in nb:
                    sig_schemas.append(nb)
    assert sig_schemas, lsh
    assert all("band" not in s for s in sig_schemas), sig_schemas


def test_stored_lsh_index_query_uses_stored_corpus_side(spark):
    """x53b's per-query plan must take the corpus side from the stored
    signature + packed-set parquets (both scanned) and shingle/sign
    ONLY the incoming batch; every documents scan in the plan carries
    the batch-side split filter, so the corpus text is never
    re-shingled at query time.  The verify stays packed
    (array_intersect in-row)."""
    plan = _formatted_plan(spark, "x53b_incremental_neardup_stored")
    assert "spark_graft_lsh_index" in plan
    assert "/sigs" in plan and "/sets" in plan, plan
    assert "array_intersect" in plan
    # each documents scan is the batch slice: the split predicate
    # prints as NOT((md5(..) < cd) <=> true); a corpus-side scan would
    # carry the same comparison WITHOUT the NOT
    split_lines = [l for l in plan.splitlines() if "< cd" in l]
    assert split_lines, plan
    assert all("NOT ((md5" in l for l in split_lines), split_lines


def test_stored_semdedup_query_plan_has_no_training_stages(spark):
    """x54b's per-query plan must take the corpus side (survivors +
    codebook) from the stored parquets and assign/verify ONLY the
    incoming batch: exactly one embeddings scan, carrying the
    batch-side split filter (the NOT form — x53b's gate recipe), and
    no k-means iteration stages (the stored codebook arrives by scan,
    not by training aggregates over the corpus)."""
    plan = _formatted_plan(spark, "x54b_incremental_semdedup_stored")
    assert "spark_graft_sem_index" in plan
    assert "/survivors" in plan and "/cents" in plan, plan
    # the probe tail consumes the assigned batch twice (candidate agg
    # + left-join back), so two BATCH-side scans are the expected
    # shape; a third scan would be a corpus-side leak
    assert plan.count("embeddings.parquet") == 2, plan
    split_lines = [l for l in plan.splitlines() if "< cd" in l]
    assert len(split_lines) >= 2, plan
    assert all("NOT ((md5" in l for l in split_lines), split_lines


def test_decontamination_scan_is_one_broadcast_pass(spark):
    """x61's train shingle stream must close in ONE pass: a broadcast
    hash join against the eval shingle set (never a shuffled join of
    two exploded shingle streams) followed by the per-doc hash
    aggregate — the corpus side shuffles only the aggregated doc rows,
    not the shingle stream."""
    plan = _formatted_plan(spark, "x61_decontamination")
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"Left keys \[1\]: \[sh#", plan), plan
    assert "SortMergeJoin" not in plan, plan
    # the eval side is deduped BEFORE the broadcast (distinct shingle
    # set), so the build side stays minimal
    assert plan.count("HashAggregate") >= 2, plan


def test_lsh_hot_bucket_capped(spark):
    """A planted mega-bucket (every doc sharing one band signature) must
    emit ZERO pairs when max_bucket caps it — not O(n²)."""
    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.operators import dedup

    n = 300
    sigs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("deadbeef").alias("minhash"),  # one bucket holds ALL docs
    )
    capped = dedup.lsh_candidate_pairs(sigs, "doc_id", max_bucket=100)
    assert capped.count() == 0
    # sanity: uncapped would have emitted n*(n-1)/2 pairs from that bucket
    uncapped = dedup.lsh_candidate_pairs(sigs, "doc_id", max_bucket=None)
    assert uncapped.count() == n * (n - 1) // 2


# ---------------------------------------------------------------------------
# broadcast hygiene: forced hints must never pin an SF-scaling side
# ---------------------------------------------------------------------------

#: tables whose size grows with the scale factor — a forced broadcast of
#: any of these OOMs executors at the 100 TB target scale.
_SF_SCALING_SCANS = (
    "customer.parquet", "part.parquet", "supplier.parquet",
    "orders.parquet", "lineitem.parquet", "events.parquet",
    "documents.parquet", "embeddings.parquet",
)

#: queries whose *forced* broadcast side is structurally bounded even
#: though it derives from an SF-scaling scan, so it legitimately
#: survives `autoBroadcastJoinThreshold=-1`:
#:   x3_cosine_topk   — the query-vector probe set (fixed id list)
#:   x3e_ivf_topk     — the IVF centroid table (n_cells rows) probe
#:   x9_tfidf_keywords / tpch_q22_dormant_customers — 1-row aggregates
_BOUNDED_BROADCAST_QUERIES = {
    "x3_cosine_topk",
    "x3e_ivf_topk",
    "x3f_semantic_neardup",  # vector x codebook product (|cells| rows)
    "x3g_kmeans_clusters",  # vector x k-row codebook product per Lloyd pass
    "x45_semdedup_keep",  # same k-row codebook product (kmeans substrate)
    "x45_semdedup_auto",  # two-level kmeans: coarse-codebook products
    "x54_incremental_semdedup",  # corpus kmeans + batch probe: k-row codebook products
    # stored-index probe: the same k-row codebook product, read from
    # the materialized index instead of trained in-query
    "x54b_incremental_semdedup_stored",
    "x54_incremental_semdedup_auto",  # two-level index + probe: coarse/fine codebook products
    # stored auto probe: the same coarse/fine codebook products, read
    # from the materialized index instead of fit in-query
    "x54c_incremental_semdedup_auto_stored",
    "x56_curation_materialize",  # composes x45's k-row codebook products
    "x56_curation_auto",  # composes x45_auto's two-level codebook products
    "x59_ingest_curation",  # composes x54's k-row codebook products
    "x59_ingest_curation_auto",  # composes x54_auto's two-level codebook products
    "x60_ingest_funnel",  # one agg over x59: inherits its codebook products
    "x9_tfidf_keywords",
    "tpch_q22_dormant_customers",
    "tpch_q15_top_supplier",   # 1-row max join
    "tpch_q11_important_parts",  # 1-row total join
    "x18_source_quality_filter",  # 1-row global-mean join
    "x19_unigram_prob_score",  # 1-row corpus-total join
    "x20_boilerplate_detect",  # 1-row corpus-count join
    "x22_bigram_pmi",  # 1-row corpus-token-count join
    "x23_sq8_topk",  # 1-row quantizer-scale join + fixed query-vector set
    "x50_pq_topk",  # 1-row codebook product + fixed query distance tables
    # stored-index read path: 1-row stored-codebook product + the
    # 8-row broadcast distance tables (both scale-constant)
    "x50b_pq_topk_stored",
    "x51_ivfpq_topk",  # same codebook product + |cells|-row centroid probe
    # stored IVF read path: 1-row stored codebook + stored |cells|-row
    # centroid probe (both scale-constant broadcasts)
    "x51b_ivfpq_topk_stored",
    # decontamination broadcasts the eval slice's distinct shingle set:
    # in production the eval/benchmark suite is FIXED while the corpus
    # grows, so the broadcast side is scale-constant by contract (the
    # synthetic stand-in slices documents, hence the allowlisting)
    "x61_decontamination",
    "x52_pq_recall",  # composes x50's codebook product + x3's exact probe
    "x55_ivfpq_recall",  # x51's probe chain + a 3-row nprobe dial broadcast
    "x57_reduced_recall",  # 1-row sign-matrix + fixed query-vector set + 2-row method dial
    "x58_sq8_recall",  # 1-row quantizer-scale join + fixed query-vector set + 2-row method dial
    "j9_bloom_prune_join",  # 2048-word bloom bitmap + 1-row count join
    "g1_triangle_count",  # 1-row count joins
    "a22_hll_distinct",  # 1-row sketch-total x 1-row exact-count join
    "x26_balanced_downsample",  # |languages|-row counts + 1-row min join
    "mb2_association_rules",  # 1-row basket-total join
    "x27_adaptive_stopword_strip",  # 1-row corpus-count join (as x20)
    "a25_kmv_distinct",  # 1-row sketch-summary x 1-row exact-count join
    "x30_ann_recall",  # composes x3's fixed query-vector probe set
    "x36_bm25_retrieval",  # 1-row (N, T) corpus-totals join
    "x42_hybrid_rrf",  # 1-row query-vector probe + x36's totals join
    "j12_scd2_pit_join",  # 1-row horizon join closing open intervals
    "dq4_chisq_drift",  # 1-row split-day + 1-row totals joins
    "dq5_benford_deviation",  # 1-row digit-total join
    "o4_pareto_cumshare",  # 1-row grand-total join
    "x40_domain_mixing",  # 1-row corpus-totals + 1-row grand-total joins
}


def _walk_physical(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        ch = n.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))


#: queries whose forced broadcast side is bounded by construction but
#: KEYED, so ``_bounded_subtree`` cannot see it; unlike the set above
#: they stay under the nested-loop gate:
#:   x3d_ann_lsh         — the fixed query-vector probe set (as x3)
#:   x44_dsir_importance — the 64-row hashed-bucket weight table
_KEYED_BOUNDED_BROADCASTS = {"x3d_ann_lsh", "x44_dsir_importance"}


@pytest.fixture(scope="module")
def registry_physical_plans(spark):
    """Physical plan of every registered query outside
    ``_BOUNDED_BROADCAST_QUERIES``, built ONCE with auto-broadcast
    disabled and shared by the two registry-wide gates below: name →
    (plan string, the subtree string of each BroadcastExchange).

    The plan is the one exchanges are inserted into (AQE's initial
    plan): ``sparkPlan()`` holds no BroadcastExchange node at all.
    With auto-broadcast off, a BroadcastExchange can only come from an
    explicit hint, and an unhinted non-equi inner join plans as
    CartesianProduct instead of BroadcastNestedLoopJoin — both of which
    the nested-loop gate flags."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plans = {}
        for name, spec in REGISTRY.items():
            if name in _BOUNDED_BROADCAST_QUERIES:
                continue
            plan = spec.fn(spark, SF_DIR)._jdf.queryExecution().executedPlan()
            if plan.nodeName() == "AdaptiveSparkPlan":
                plan = plan.executedPlan()
            plans[name] = (
                plan.toString(),
                [
                    n.toString()
                    for n in _walk_physical(plan)
                    if "BroadcastExchange" in n.nodeName()
                ],
            )
        return plans
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _bounded_subtree(sub: str) -> bool:
    """A broadcast subtree is scale-bounded if its output cannot grow
    with the input: a grand (keys=[]) aggregate or an explicit limit."""
    return (
        "keys=[], " in sub
        or "GlobalLimit" in sub
        or "TakeOrderedAndProject" in sub
    )


def test_forced_broadcasts_only_on_scale_constant_sides(registry_physical_plans):
    """With auto-broadcast disabled, any BroadcastExchange left in a
    plan comes from an explicit `F.broadcast()` hint — which Spark will
    honor at ANY size.  Assert no such forced hint pins a subtree that
    scans an SF-scaling table (unless the subtree provably bounds its
    output: 1-row aggregate or limit).  This is the regression gate for
    the size-conditional `maybe_broadcast` mechanism."""
    offenders = []
    for name, (_, subtrees) in registry_physical_plans.items():
        if name in _KEYED_BOUNDED_BROADCASTS:
            continue
        for sub in subtrees:
            if _bounded_subtree(sub):
                continue
            hit = [t for t in _SF_SCALING_SCANS if t in sub]
            if hit:
                offenders.append((name, hit, sub.splitlines()[0]))
    assert not offenders, offenders


def test_no_nested_loop_joins_registry_wide(registry_physical_plans):
    """BroadcastNestedLoopJoin is only acceptable when one side is
    structurally bounded (1-row scalar aggregates, the IVF centroid
    probe, a fixed query-vector set) — everywhere else it signals a
    missing equi-join key and O(n·m) work at scale."""
    offenders = [
        name
        for name, (plan, _) in registry_physical_plans.items()
        if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    ]
    assert not offenders, offenders


def test_maybe_broadcast_is_size_conditional(spark):
    """The hint must respond to the threshold: forced under it, absent
    (and overridable by stats/AQE) above it."""
    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.plans.hints import (
        maybe_broadcast,
        parse_byte_size,
    )
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

    assert parse_byte_size("10485760b") == 10 * 1024 * 1024
    assert parse_byte_size("10MB") == 10 * 1024 * 1024
    assert parse_byte_size("-1") == -1
    assert parse_byte_size("512") == 512

    fact = load_table(spark, SF_DIR, "orders")
    dim = load_table(spark, SF_DIR, "customer")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = fact.join(
            maybe_broadcast(dim, threshold_bytes=1 << 40),
            fact["o_custkey"] == dim["c_custkey"],
        )
        assert "BroadcastHashJoin" in hinted._jdf.queryExecution().sparkPlan().toString()
        unhinted = fact.join(
            maybe_broadcast(dim, threshold_bytes=1),
            fact["o_custkey"] == dim["c_custkey"],
        )
        assert "BroadcastHashJoin" not in unhinted._jdf.queryExecution().sparkPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_maybe_broadcast_warns_on_jvm_stats_error(spark, monkeypatch):
    """A failed JVM stats call must surface as a RuntimeWarning and
    leave the side unhinted — both shapes a Py4J call fails with: a JVM
    exception pyspark converts (NumberFormatException) and one it
    passes through raw (Py4JJavaError).  A healthy dashboard
    dimension join (a5) must not warn."""
    import warnings

    from data_engineer_project_weather_analytics_spark.plans import hints
    from data_engineer_project_weather_analytics_spark.plans.registry import REGISTRY
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

    dim = load_table(spark, SF_DIR, "customer")
    jlang = spark._jvm.java.lang
    for fail in (
        lambda _df: jlang.Integer.parseInt("x"),
        lambda _df: jlang.Class.forName("no.such.StatsClass"),
    ):
        monkeypatch.setattr(hints, "estimated_size_bytes", fail)
        with pytest.warns(RuntimeWarning, match="broadcast hint dropped"):
            out = hints.maybe_broadcast(dim, threshold_bytes=1 << 40)
        assert out is dim
    monkeypatch.undo()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        REGISTRY["a5_latest_join_dim"].fn(spark, SF_DIR)


def test_embedding_lsh_bucket_cap_precedes_pair_join(spark):
    """embedding_neardup_lsh must drop over-cap buckets BEFORE the
    within-bucket self-join: 300 identical vectors collapse into one
    bucket per table and would otherwise emit ~45k candidate pairs."""
    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.operators import similarity

    vecs = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i % 3 + 1)) for i in range(8)]).alias("embedding"),
    )
    capped = similarity.embedding_neardup_lsh(
        vecs, "vec_id", "embedding", threshold=0.5,
        n_planes=4, dim=8, n_tables=2, max_bucket=100,
    )
    assert capped.count() == 0
    plan = capped._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "LeftSemi" in plan, plan


def test_lsh_bucket_cap_precedes_collect(spark):
    """The cap must be enforced BEFORE collect_set builds any id array:
    the plan's signature is a LeftSemi join (kept-bucket filter) feeding
    the array aggregation — a post-collect ``size(ids)`` filter bounds
    pair emission but still materializes a mega-bucket's full id array
    in one reducer buffer."""
    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.operators import dedup

    sigs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("deadbeef").alias("minhash"),
    )
    capped = dedup.lsh_candidate_pairs(sigs, "doc_id", max_bucket=5)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = capped._jdf.queryExecution().explainString(mode)
    assert "LeftSemi" in plan, plan
    # the width pre-count is a plain long-state aggregate, present once
    assert "count(1)" in plan, plan


def test_salted_skew_join_shuffles_on_widened_key(spark):
    """j7's whole point: the 3-key returnflag join must NOT broadcast
    (that would hide the skew pattern) — it plans a ShuffledHashJoin on
    the salted (key, salt) pair, with the small side exploded n_salts×
    (a Generate node) so every salt partition finds its dim rows."""
    plan = _formatted_plan(spark, "j7_salted_skew_join")
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    # the Generate node and its explode() argument print on separate lines
    assert "Generate" in plan and "explode(" in plan, plan


@pytest.mark.parametrize("name", ["o3_topk_per_group", "x21_minwise_sample"])
def test_rank_filter_plans_window_group_limit(spark, name):
    """row_number() ≤ k must hit Spark's WindowGroupLimit rewrite: each
    partition forwards only its local top-k per group to the shuffle —
    the distributed-heap shape that makes per-group top-k O(groups×k)
    exchanged rows instead of O(rows)."""
    plan = _formatted_plan(spark, name)
    assert "WindowGroupLimit" in plan, plan


def test_unpivot_plans_single_expand_no_extra_shuffle(spark):
    """u3's melt is an Expand (bounded ×4 replication) feeding one
    aggregate exchange — a UNION-of-four-scans shape would read the
    fact table four times."""
    plan = _formatted_plan(spark, "u3_unpivot_metrics")
    assert "Expand" in plan, plan
    exchanges = [
        l for l in plan.splitlines() if l.strip().startswith("(") and "Exchange" in l
    ]
    assert len(exchanges) <= 1, exchanges
    # one scan node = one "(n) Scan parquet" detail header (the bare node
    # name also appears once in the tree rendering)
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_incremental_merge_is_partial_agg_union(spark):
    """mv1 merges two partial aggregates: the plan must show the
    union of two aggregated slices feeding a final re-aggregate (3+
    HashAggregate pairs), not a join or a recompute-after-union."""
    plan = _formatted_plan(spark, "mv1_incremental_agg_merge")
    assert "Union" in plan, plan
    assert plan.count("HashAggregate") >= 6, plan


def test_bigram_pmi_never_broadcasts_vocabulary(spark):
    """x22's unigram-count table is vocabulary-sized (unbounded on a
    real corpus): both count joins must shuffle (SortMergeJoin); the
    only broadcast is the whitelisted 1-row corpus total."""
    plan = _formatted_plan(spark, "x22_bigram_pmi")
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_dq_scalar_rules_share_one_scan(spark):
    """dq1's four scalar rules fold into one conditional aggregation:
    exactly two orders scans in the whole plan (rules + FK anti-join),
    never one scan per rule."""
    import re

    plan = _formatted_plan(spark, "dq1_expectations")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 3, plan  # orders x2 + customer x1


def test_ewma_single_window_per_key(spark):
    """w7's eight lag taps must collapse into ONE Window node over one
    sort (all share the same (flag, day) spec) — eight separate window
    exchanges would be the naive shape."""
    import re

    plan = _formatted_plan(spark, "w7_ewma")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_grid_spatial_join_is_equijoin_with_exploded_probes(spark):
    """geo1's radius search must plan as a hash/merge EQUI-join on the
    grid-cell key with the 3x3 neighborhood exploded on the center
    side — the direct distance theta-join would be a nested loop over
    |points| x |centers|."""
    import re

    plan = _formatted_plan(spark, "geo1_grid_join")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert re.search(r"\(\d+\) Generate", plan), "probe side not exploded to cells"
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), "cell join is not an equi-join"


def test_nearest_event_join_single_window_shuffle(spark):
    """j8 carries both as-of directions through ONE window over one
    per-user exchange — a second sort or a self-join would double the
    shuffled bytes."""
    import re

    plan = _formatted_plan(spark, "j8_nearest_event_join")
    exchanges = [
        l
        for l in plan.splitlines()
        if l.strip().startswith("(") and "Exchange" in l and "Reused" not in l
    ]
    assert len(exchanges) <= 1, exchanges
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_sq8_rescore_is_candidate_bounded(spark):
    """x23's exact rescore must sit above the quantized top-20 filter
    (row_number <= 20), so only |queries| x 20 float dot products run —
    rescoring the whole scored product would void the quantization."""
    plan = _formatted_plan(spark, "x23_sq8_topk")
    assert plan.count("RunningWindowFunction") >= 1 or plan.count("Window") >= 2, plan
    # candidate cap present as a filter on the first window's rank
    assert "<= 20" in plan, "no top-20 candidate cap before rescore"


def test_compaction_plan_aggregates_inventory_before_window(spark):
    """c1's cumsum must run over the (type, hour) file inventory (one
    partial-agg shuffle of inventory-sized rows), never over raw
    events."""
    import re

    plan = _formatted_plan(spark, "c1_compaction_plan")
    agg_ids = [m.start() for m in re.finditer(r"\(\d+\) HashAggregate", plan)]
    win_ids = [m.start() for m in re.finditer(r"\(\d+\) Window", plan)]
    assert agg_ids and win_ids, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_market_basket_self_join_reuses_exchange(spark):
    """mb1's pair self-join must reuse the single (order, part) items
    exchange on both sides — two independent scans+shuffles of
    lineitem would double the dominant cost — and the top-20 must be
    TakeOrderedAndProject, not a global sort."""
    static = _formatted_plan(spark, "mb1_market_basket")
    assert "TakeOrderedAndProject" in static, static
    # exchange reuse is an AQE runtime decision — inspect the executed plan
    df = REGISTRY["mb1_market_basket"].fn(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, "items exchange not shared across the self-join"


def test_resample_interpolation_single_window(spark):
    """w9's four ignore-nulls carries (prev/next day and value) must
    collapse into ONE Window node over one per-user sort."""
    import re

    plan = _formatted_plan(spark, "w9_resample_interpolate")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_countmin_sketch_has_mapside_partials(spark):
    """x24's sketch counters must partial-aggregate map-side (CMS
    mergeability IS Spark partial aggregation) — the shuffle then
    carries at most d*w rows per task, not the token stream."""
    plan = _formatted_plan(spark, "x24_countmin_heavy_hitters")
    assert "partial_count" in plan, plan


def test_stopword_strip_never_broadcasts_vocabulary(spark):
    """x27's document-frequency table is vocabulary-sized: the token
    join must shuffle (SortMergeJoin); only the 1-row corpus count may
    broadcast."""
    plan = _formatted_plan(spark, "x27_adaptive_stopword_strip")
    assert "SortMergeJoin" in plan, plan


def test_pagerank_iterations_reuse_checkpointed_adjacency(spark):
    """g2's iteration loop must touch ONLY the localCheckpoint-ed
    adjacency — if 'lineitem' appears in the final plan, an iteration
    is re-deriving the edge list from the fact table every step."""
    plan = _formatted_plan(spark, "g2_pagerank")
    assert "lineitem" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_pagerank_persisted_adjacency_consumed_from_cache(spark):
    """adjacency_mode='persist' must actually change the execution
    strategy, not just the row values: the AQE FINAL executed plan
    reads the adjacency through InMemoryTableScan, satisfies the
    iteration joins with at least as many ReusedExchange nodes as the
    checkpoint form (4 at the default 4 iterations), and plans at most
    ONE hash exchange on src — the cache-population repartition, which
    executes once (round-6 probe: checkpoint 4 reuses / persist 5,
    both 1 src-exchange, sf0.01)."""
    from data_engineer_project_weather_analytics_spark.plans import corpus

    df = corpus.g2_pagerank(spark, SF_DIR, adjacency_mode="persist")
    try:
        df.collect()
        executed = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
    finally:
        spark.catalog.clearCache()
    assert "InMemoryTableScan" in executed, executed
    # was >= 4 before r12: one of the counted reuses was INSIDE the
    # adjacency build (the eligible-items self-join shuffled the same
    # subtree twice and AQE deduplicated it); the r12 edge derivation
    # replaced that self-join with one shared exchange + in-row pair
    # expansion, so the reuse disappeared because the duplicate
    # exchange itself did — the iteration-side reuses are unchanged
    assert executed.count("ReusedExchange") >= 3, executed
    assert executed.count("Exchange hashpartitioning(src") <= 1, executed


def test_lpa_iterations_reuse_checkpointed_adjacency(spark):
    """g3's LPA loop must touch ONLY the localCheckpoint-ed adjacency
    (lineitem absent from the final plan, the g2 gate), and the
    adjacency side must not be re-shuffled per iteration: in the
    EXECUTED plan (exchange reuse is an AQE runtime decision) at most
    one exchange hash-partitions on src — every other adjacency
    consumption is a ReusedExchange or a runtime broadcast.  The
    label-side exchange per round is inherent (labels change every
    iteration); pre-partitioning the adjacency before the checkpoint
    cannot remove it either, because localCheckpoint does NOT preserve
    outputPartitioning (probed in round 5: a checkpointed
    repartition('x') still re-exchanges under groupBy('x'))."""
    df = REGISTRY["g3_label_propagation"].fn(spark, SF_DIR)
    static = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "lineitem" not in static, static
    df.collect()
    # executedPlan().toString() prints BOTH the AQE final and initial
    # plans — count only the final section or every node doubles
    executed = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert executed.count("Exchange hashpartitioning(src") <= 1, executed


def test_kmv_bottom_k_avoids_global_sort(spark):
    """a25's bottom-k must be TakeOrderedAndProject (per-partition
    top-k + merge), never a global Sort of the distinct-hash set."""
    plan = _formatted_plan(spark, "a25_kmv_distinct")
    assert "TakeOrderedAndProject" in plan, plan


def test_autocorr_single_window_pass(spark):
    """w13 derives all three lags from ONE window — a second Window
    node means the lag columns each pay their own sort."""
    import re

    plan = _formatted_plan(spark, "w13_autocorr")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_chunk_dedup_survivor_selection_streams(spark):
    """x33 picks survivors with a streaming row_number window (one
    Window node; WindowGroupLimit pushdown nodes are the rank<=1
    filter streaming map-side — desirable, not extra windows), then
    reassembles with one per-doc aggregation."""
    import re

    plan = _formatted_plan(spark, "x33_chunk_dedup")
    assert len(re.findall(r"\(\d+\) Window(?!GroupLimit)", plan)) == 1, plan
    # the rank<=1 survivor filter must push into WindowGroupLimit so
    # losers are dropped before the exchange
    assert "WindowGroupLimit" in plan, plan


def test_kmv_overlap_pair_join_is_hash_join(spark):
    """x34's sketch-vs-pair-list joins must be broadcast hash joins on
    the bounded pair dimension (assert the join node name on the
    sparkPlan — the formatted plan elides BroadcastExchange)."""
    plan = (
        REGISTRY["x34_kmv_source_overlap"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .sparkPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_contrastive_pairs_keep_positives_on_empty_bucket(spark):
    """x31's negative lookup is a LEFT join: a positive pair may never
    be dropped because its hash bucket is unpopulated."""
    plan = _formatted_plan(spark, "x31_contrastive_pairs")
    assert "LeftOuter" in plan, plan


def test_pareto_cumsum_is_range_partitioned_not_single_reducer(spark):
    """o4's global cumsum must plan a range repartition with the
    full-data window PARTITIONed (parallel); the only SinglePartition
    exchange allowed is the parallelism-sized totals/offsets table."""
    plan = _formatted_plan(spark, "o4_pareto_cumshare")
    assert "rangepartitioning" in plan, plan
    singles = plan.count("Exchange SinglePartition")
    assert singles <= 1, plan


def test_sequence_packing_is_range_partitioned_not_single_reducer(spark):
    """x48's packing layout rides the distributed prefix sum: range
    repartition + PARTITIONed local windows; the only SinglePartition
    exchange allowed is the parallelism-sized offsets table — a naive
    Window.orderBy over the corpus would single-reduce 100 TB."""
    plan = _formatted_plan(spark, "x48_sequence_packing")
    assert "rangepartitioning" in plan, plan
    singles = plan.count("Exchange SinglePartition")
    assert singles <= 1, plan


def test_hybrid_rrf_rankers_close_before_fusion(spark):
    """x42's scale contract: each ranker's list is cut by
    TakeOrderedAndProject (no global sort) BEFORE its rank window, so
    the unpartitioned row_number windows only ever see <= _FUSE_DEPTH
    rows, and the final fused top-10 is a third TakeOrdered close."""
    plan = _formatted_plan(spark, "x42_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    # the fusion must keep docs present in only one list (RRF's 0
    # contribution convention) — a full outer join, not inner
    assert "FullOuter" in plan, plan


def test_duplicate_span_fraction_single_corpus_scan(spark):
    """x43 must read + explode the corpus exactly ONCE: the
    distinct-doc count is a window over the (span, doc)-combined
    stream, not a join-back of a separate aggregate (which would plan
    a second FileScan+Generate of documents — the dominant cost,
    doubled, at 100 TB)."""
    static = _formatted_plan(spark, "x43_duplicate_span_fraction")
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", static))
    gen_ids = set(re.findall(r"\((\d+)\) Generate", static))
    assert len(scan_ids) == 1, (
        f"expected 1 corpus scan, got {sorted(scan_ids)}:\n{static}"
    )
    assert len(gen_ids) == 1, (
        f"expected 1 span explode, got {sorted(gen_ids)}:\n{static}"
    )


def test_dsir_bucket_table_broadcasts(spark):
    """x44's global bucket table is 64 rows BY CONSTRUCTION — it must
    reach the per-doc counts as a broadcast hash join (a shuffle join
    here would re-partition the whole doc-count stream against a
    dimensionality-bounded side)."""
    static = _formatted_plan(spark, "x44_dsir_importance")
    assert "BroadcastHashJoin" in static, static


def test_mixture_sample_is_shuffle_free(spark):
    """x46 is a pure map-side streaming pass: the mixture spec joins
    as a broadcast and the hash-threshold filter evaluates per-row —
    any `Exchange hashpartitioning` here means the sampler would
    shuffle 100 TB to keep a subset of it."""
    static = _formatted_plan(spark, "x46_mixture_sample")
    assert "BroadcastHashJoin" in static, static
    assert "Exchange hashpartitioning" not in static, static


def test_semdedup_pair_join_shuffles_on_cell_only(spark):
    """x45's within-cell pair join must be a hash join keyed on the
    cluster id (the IVF trade: pair work bounded by Σ cell²), never a
    nested-loop over the corpus; the k-row codebook products inside
    the kmeans substrate are the only nested-loop sites (bounded
    broadcast allowlist)."""
    static = _formatted_plan(spark, "x45_semdedup_keep")
    joins = [
        ln for ln in static.splitlines() if "SortMergeJoin" in ln or
        ("BroadcastHashJoin" in ln) or "ShuffledHashJoin" in ln
    ]
    assert joins, "no hash join found for the cell pair join:\n" + static


def test_two_level_kmeans_fine_codebook_shards_past_broadcast_ceiling(spark):
    """The two-level assignment removes the flat form's single point
    of failure — one broadcast of ALL k×dim centroid doubles (dead
    near 10⁶ cells).  Past FINE_CODEBOOK_BROADCAST_MAX_K the fine
    join must plan as a SHUFFLED hash join on the coarse id (the
    codebook shards across executors); under it, a broadcast join
    (latency at bench scale).  Exercised via the broadcast_fine
    override because no local testdata has 65k+ vectors (the x22
    forced-SMJ precedent: assert the strategy switch, not the size)."""
    from data_engineer_project_weather_analytics_spark.operators import similarity
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    sharded = similarity.kmeans_assign(
        emb, "vec_id", "embedding", k=32, two_level=True, broadcast_fine=False
    )
    plan = sharded._jdf.queryExecution().sparkPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    bcast = similarity.kmeans_assign(
        emb, "vec_id", "embedding", k=32, two_level=True, broadcast_fine=True
    )
    plan_b = bcast._jdf.queryExecution().sparkPlan().toString()
    assert "ShuffledHashJoin" not in plan_b and "BroadcastHashJoin" in plan_b, plan_b
    # the default is size-conditional on k itself
    assert similarity.FINE_CODEBOOK_BROADCAST_MAX_K == 65536


def test_two_level_kmeans_agrees_with_flat_when_one_coarse_cell(spark):
    """Degenerate-routing equivalence: with a single coarse cell every
    fine centroid is routed to it and every vector sees the FULL fine
    codebook — the two-level argmax must then reproduce the flat
    assignment bit-for-bit (same seeds, same quantized ordering, same
    µ-quantized centroid updates).  This pins the two forms to one
    algorithm so the hierarchical path can't silently drift."""
    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.operators import similarity
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    flat = similarity.kmeans_assign(emb, "vec_id", "embedding", k=8)
    two = similarity.kmeans_assign(
        emb, "vec_id", "embedding", k=8, two_level=True, coarse_k=1
    )
    h = lambda df: df.select(  # noqa: E731
        F.bit_xor(F.xxhash64("vec_id", "cluster_id", "sim"))
    ).first()[0]
    assert flat.count() == two.count()
    assert h(flat) == h(two)


def test_span_rewrite_single_corpus_scan(spark):
    """x49 (removal manifest) inherits x43's single-scan rule AND the
    equal-length interval-union trick: no second FileScan of documents,
    no extra Generate to explode covered token indices (the union is a
    gap sum over one ignore-nulls window), and at most the two planned
    exchanges (span-hash window, per-doc window — whose partitioning
    the final doc_id rollup reuses)."""
    static = _formatted_plan(spark, "x49_span_dedup_rewrite")
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", static))
    gen_ids = set(re.findall(r"\((\d+)\) Generate", static))
    assert len(scan_ids) == 1, (
        f"expected 1 corpus scan, got {sorted(scan_ids)}:\n{static}"
    )
    assert len(gen_ids) == 1, (
        f"expected 1 span explode, got {sorted(gen_ids)}:\n{static}"
    )
    hash_exchanges = [
        ln for ln in static.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) <= 2, hash_exchanges


def test_ivfpq_candidate_join_is_broadcast_on_cell(spark):
    """x51's candidate restriction must reach the coded corpus as a
    BroadcastHashJoin ON THE CELL ID (probes are |queries|·n_probe
    rows) — a shuffle here would re-partition the whole corpus to
    prune it; the ranking window still group-limits map-side."""
    static = _formatted_plan(spark, "x51_ivfpq_topk")
    assert "BroadcastHashJoin" in static, static
    assert "WindowGroupLimit" in static, static


def test_pq_adc_coding_is_mapside_with_window_group_limit(spark):
    """x50's candidate coding must stay map-side — a one-row broadcast
    codebook product evaluated in HOFs, never a shuffle of the corpus —
    so the ONLY hash exchange is the final per-query ranking window,
    and rank<=k must plan WindowGroupLimit (map-side group-limit before
    that exchange)."""
    static = _formatted_plan(spark, "x50_pq_topk")
    assert "WindowGroupLimit" in static, static
    hash_exchanges = [
        ln for ln in static.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) <= 1, hash_exchanges


def test_x56_composition_adds_no_shuffle_exchanges(spark):
    """The curation materialization (x56) stacks x45 + x49 + the x46
    sampler + in-row quality gates: its STATIC plan must carry no
    shuffle exchange beyond the sum of its stages' own — the composed
    joins are id-equi (broadcast or reusing stage partitioning) and
    every added signal is narrow.  Broadcast exchanges may grow by the
    composing joins (bounded allowance of 3)."""
    import re

    def n_shuffles(name: str) -> int:
        plan = _formatted_plan(spark, name)
        return len(
            [
                l
                for l in plan.splitlines()
                if re.match(r"^\(\d+\) Exchange", l.strip())
            ]
        )

    composed = n_shuffles("x56_curation_materialize")
    stages = (
        n_shuffles("x45_semdedup_keep")
        + n_shuffles("x49_span_dedup_rewrite")
        + n_shuffles("x46_mixture_sample")
    )
    # +1: the quality side's doc_id exchange for the sem SMJ — the one
    # genuinely composition-owned shuffle (the sem side reuses its
    # __vid partitioning via the vec_id=doc_id alias; the manifest
    # side's doc_id exchange is x49's own).  It was always in the
    # physical plan, but before the r12 codebook pinning the x45 fit
    # subtree was exponentially duplicated (40 exchanges standalone vs
    # 39 composed — pure tree-dedup noise) and the noise masked it;
    # with the fit pinned (x45: 40 → 10 exchanges) the accounting is
    # exact and the single real added shuffle is visible.
    # EXACT equality (r13, the r12 ADVICE): examined for removal — the
    # quality stream derives from an unpartitioned documents scan and
    # the sem side is corpus-sized (no broadcast at scale), so the SMJ
    # must co-partition quality; ReusedExchange cannot apply (the two
    # sides are different subtrees).  Irreducible, so pin it exactly:
    # any NEW composition-owned shuffle now trips this gate.
    assert composed == stages + 1, (composed, stages)
