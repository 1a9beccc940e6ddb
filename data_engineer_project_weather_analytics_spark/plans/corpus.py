"""Round-4 widening: sketch estimators, graph ranking, and corpus
curation self-evaluation queries.

Everything here follows the repo's cross-engine determinism rules:
hashes come from md5 hex prefixes (`conv` / `'0x'||...` — the portable
hash→int idiom), estimates close with exact integer arithmetic (DIV)
or a single shared-tree double op, and no float aggregation ever
crosses rows (accumulation order is engine-dependent).

Reference parity: the reference repo has no sketch/graph surface (it is
a ~400-line pandas/psycopg2 weather ETL, see PARITY.md §1); this module
is part of the charter's "operations a large-scale training-data
pipeline would need" mandate, extending the X-family (extensions.py)
and the sketch family (lakeops.py a22/x24/j9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineer_project_weather_analytics_spark.operators import dedup, similarity
from data_engineer_project_weather_analytics_spark.operators.prefix_sum import distributed_cumsum
from data_engineer_project_weather_analytics_spark.plans.analytics import ORACLES_ANALYTICS
from data_engineer_project_weather_analytics_spark.operators.dedup import SHINGLE_HASH_HEX
from data_engineer_project_weather_analytics_spark.plans.oracles_extensions import (
    _OK_BUCKETS,
    _SHINGLES,
    ORACLES_EXT,
)
from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

# 48-bit hash space: first 12 hex chars of md5.  2^48 fits int64 with
# headroom for the (k-1)·2^48 estimator numerator (255·2^48 ≈ 7.2e16).
_H48 = 1 << 48
_KMV_K = 256


def _h48(col):
    """Portable 48-bit hash: Spark side of the md5-prefix idiom."""
    return F.expr(
        f"CAST(conv(substring(md5({col}), 1, 12), 16, 10) AS BIGINT)"
    )


# --------------------------------------------------------------------------
# A25 — KMV (bottom-k) distinct sketch, graded against the exact count
# --------------------------------------------------------------------------

def a25_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-id cardinality via a KMV (k-minimum-values) sketch — the
    second portable distinct estimator next to the HyperLogLog (a22),
    and the one whose sketches also support set-intersection estimates
    (x34 uses exactly that).

    Construction (Bar-Yossef et al., "Counting distinct elements in a
    data stream"): hash every key into [0, 2^48), keep the k smallest
    DISTINCT hash values; if the k-th smallest is h_k, the density
    estimate is (k-1)·2^48 / h_k.  Everything is exact int64 — the
    estimator closes with one integer DIV, so the result is
    engine-exact (no float anywhere).

    Scale shape: distinct-hash is one partial-aggregated shuffle;
    bottom-k is a TakeOrderedAndProject (per-partition top-k, never a
    global sort); the closing join is two 1-row sides.  When the
    stream has fewer than k distinct hashes the sketch IS the exact
    set and the estimate degenerates to k_used (saturation flag
    `sketch_full` = 0 makes that visible).  Error is graded in-query:
    `err_ppm` vs the exact count (σ ≈ 1/√k ≈ 6.2% at k=256).
    """
    events = load_table(spark, sf_dir, "events")
    hashes = events.select(
        _h48("CAST(event_id AS STRING)").alias("h")
    ).distinct()
    bottom = hashes.orderBy("h").limit(_KMV_K)
    sk = bottom.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("h_k")
    )
    exact = events.agg(F.count_distinct("event_id").alias("n_exact"))
    # integer DIV, never float division — the estimate is engine-exact
    est = F.expr(
        f"CASE WHEN k_used < {_KMV_K} THEN k_used"
        f" ELSE ((k_used - 1) * {_H48}) DIV h_k END"
    )
    return (
        exact.join(F.broadcast(sk))
        .select(
            "n_exact",
            F.col("k_used").alias("kmv_k"),
            est.alias("kmv_est"),
            F.expr(
                f"CASE WHEN k_used < {_KMV_K} THEN 0 ELSE 1 END"
            ).alias("sketch_full"),
        )
        .select(
            "n_exact",
            "kmv_k",
            "kmv_est",
            "sketch_full",
            F.expr(
                "abs(kmv_est - n_exact) * 1000000 DIV n_exact"
            ).alias("err_ppm"),
        )
    )


# --------------------------------------------------------------------------
# X34 — KMV source-overlap estimate (sketch twin of the exact x29)
# --------------------------------------------------------------------------

def x34_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source Jaccard ESTIMATED from per-source KMV sketches —
    the 100 TB form of the exact overlap matrix (x29).  At corpus
    scale the exact matrix shuffles the full distinct (source,
    shingle) set; the sketch path reduces each source to k=256 hashes
    first, so the pairwise comparison touches |sources|·k rows — a
    catalog-sized quantity — no matter how large the corpus grows.

    Estimator (Beyer et al., SIGMOD'07): for sources A, B take the k
    smallest hashes of (sketch_A ∪ sketch_B); the fraction of those
    that appear in BOTH sketches estimates J(A,B).  Reported as exact
    integer ppm (`jaccard_est_ppm = n_both·1e6 DIV k_used`) — no
    float, engine-exact.

    Scale shape: shingle-hash distinct is one shuffle (tokenize-once
    via ``doc_shingles``); per-source bottom-k is ONE window sort over
    |sources|·|distinct shingles| rows — bounded reducer state because
    row_number streams, nothing collects; the pair expansion joins the
    k-row sketches against a |sources|²-row pair list (broadcast-safe:
    scale-constant catalog dimension).
    """
    docs = load_table(spark, sf_dir, "documents")
    # no string-level distinct before hashing (r12): the hash-level
    # distinct below subsumes it (same output set whether or not the
    # strings were pre-deduped — collisions merge identically), so the
    # widest stream shuffles ONCE instead of twice
    sh = dedup.doc_shingles(
        docs.select(F.col("source").alias("doc_id"), "text"),
        "doc_id",
        "text",
    ).withColumnRenamed("doc_id", "source")
    hv = sh.select(
        "source", _h48("shingle").alias("h")
    ).distinct()
    rn = Window.partitionBy("source").orderBy("h")
    # the sketch is |sources|·k rows — a catalog-bounded constant — but
    # its SUBTREE is the full shingle-stream pass, and it is consumed
    # three times below (both pair sides + the source list): pin it
    # (LAZY localCheckpoint, the r13 _pin_codebook rationale) so the
    # expensive pass plans and executes exactly once instead of 4×
    # statically / ReusedExchange-dependent at runtime — lazily, so
    # no separate pin job runs; the upstream shingle pass still runs
    # at construction under AQE, so harnesses must time construction
    sk = (
        hv.select("source", "h", F.row_number().over(rn).alias("__r"))
        .filter(F.col("__r") <= _KMV_K)
        .select("source", "h")
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    # pair list from ONE keys=[] aggregate + in-row expansion (the x29
    # shape): never a cross join, and the broadcast subtree is provably
    # bounded (grand aggregate), which is what the plan gate requires
    srcs_row = sk.select("source").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pair_expr = F.expr(
        """
        flatten(transform(srcs, (x, i) ->
            transform(slice(srcs, i + 2, size(srcs) - i - 1), y ->
                named_struct('src_a', x, 'src_b', y))))
        """
    )
    pairs = srcs_row.select(F.explode(pair_expr).alias("p")).select(
        "p.src_a", "p.src_b"
    )
    # pair MEMBERSHIP table: each pair exploded to one row per side,
    # keyed by the member source — so ONE equi-join of the sketch
    # against this broadcast replaces the former side_a/side_b pair of
    # joins (guide §2.4: two scans of the pinned sketch — which raced
    # the lazily-pinned single partition within one union stage — were
    # one scan wearing two hats; the joined row multiset is identical:
    # every (pair, sketch-row) membership appears exactly once with
    # the same in_a/in_b flags, so the downstream merge aggregation
    # sees byte-identical input)
    mem = F.broadcast(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src_a").alias("source"),
                        F.col("src_a"),
                        F.col("src_b"),
                        F.lit(1).alias("in_a"),
                        F.lit(0).alias("in_b"),
                    ),
                    F.struct(
                        F.col("src_b").alias("source"),
                        F.col("src_a"),
                        F.col("src_b"),
                        F.lit(0).alias("in_a"),
                        F.lit(1).alias("in_b"),
                    ),
                )
            ).alias("m")
        ).select("m.source", "m.src_a", "m.src_b", "m.in_a", "m.in_b")
    )
    merged = (
        sk.join(mem, "source")
        .select("src_a", "src_b", "h", "in_a", "in_b")
        .groupBy("src_a", "src_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    rn2 = Window.partitionBy("src_a", "src_b").orderBy("h")
    kept = merged.select(
        "src_a", "src_b", "in_a", "in_b", F.row_number().over(rn2).alias("__r")
    ).filter(F.col("__r") <= _KMV_K)
    return (
        kept.groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
        .select(
            "src_a",
            "src_b",
            "k_used",
            "n_both",
            F.expr("n_both * 1000000 DIV k_used").alias("jaccard_est_ppm"),
        )
    )


# --------------------------------------------------------------------------
# G2 — integer-quantized PageRank (fixed iterations)
# --------------------------------------------------------------------------

_PR_ITERS = 4
_PR_INIT = 1_000_000  # integer rank mass per node
_PR_TELEPORT = 150_000  # (1-d)·INIT with d = 0.85


def eligible_basket_items(li: DataFrame) -> DataFrame:
    """Distinct (order, part) items restricted to baskets of 2-10
    items — the shared first stage of every co-purchase derivation
    (mb1/mb2 support counts and the g1/g2/g3 graph substrate).  The
    cap bounds per-basket pair fan-out at 45, so a mega-order can't
    emit O(n²) pairs downstream."""
    items = li.select("l_orderkey", "l_partkey").distinct()
    sizes = items.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    return items.join(
        sizes.filter(F.col("n_items").between(2, 10)), "l_orderkey"
    ).select("l_orderkey", "l_partkey")


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Basket-capped undirected co-purchase edge list — the ONE shared
    graph substrate of g1 (triangles), g2 (PageRank) and g3 (LPA):
    each undirected edge emitted once as (p1 < p2), distinct across
    orders.

    Shape (r12 optimization, guide §2.4): ONE exchange on the basket
    key serves both the width guard and the per-basket collection —
    the previous distinct + count + join + self-join chain paid four.
    The width pre-count keeps the hot-bucket hardening (its per-group
    agg state is constant, and ``collect_set`` runs only on KEPT
    baskets, so its buffer is ≤ 10 distinct parts by construction —
    a mega-order is dropped before anything collects); pairs then
    expand IN-ROW from the sorted part array (p1 < p2 falls out of the
    sort — the lsh_candidate_pairs flatten/transform shape), replacing
    the basket self-join entirely.  Edge set identical by construction
    (hash-verified against the old form at sf0.1: 1,170,335 edges,
    same xxhash64 reduce; 3.27 s → 1.64 s)."""
    items = li.select("l_orderkey", "l_partkey").repartition("l_orderkey")
    kept = (
        items.groupBy("l_orderkey")
        .agg(F.count_distinct("l_partkey").alias("__n"))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= 10))
        .select("l_orderkey")
    )
    baskets = (
        items.join(kept, "l_orderkey", "left_semi")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = F.expr(
        """
        flatten(transform(parts, (x, i) ->
            transform(slice(parts, i + 2, size(parts) - i - 1), y ->
                struct(x AS p1, y AS p2))))
        """
    )
    return (
        baskets.select(F.explode(pairs).alias("pr"))
        .select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .distinct()
    )


def copurchase_adjacency(li: DataFrame) -> DataFrame:
    """Symmetric (src, dst) adjacency over :func:`copurchase_edges` —
    the directed-both-ways view the iterative algorithms (g2 PageRank,
    g3 LPA) propagate over; g1 orients the undirected edge list
    directly."""
    edges = copurchase_edges(li)
    return edges.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionAll(
        edges.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )


def g2_pagerank(
    spark: SparkSession, sf_dir: str, adjacency_mode: str = "checkpoint"
) -> DataFrame:
    """PageRank over the co-purchase graph (same basket-capped edge
    list as the triangle count, g1) — the graph-centrality primitive
    for "which items anchor the catalog".

    Cross-engine determinism: classic PageRank iterates float sums
    whose value depends on accumulation order — unreplayable.  This is
    the INTEGER-QUANTIZED surrogate: ranks are int64 mass (init 1e6
    per node), each step propagates ``(rank·85) DIV (100·deg)`` along
    every edge and adds the 150 000 teleport mass — exact integer
    arithmetic end to end, bit-identical in both engines (truncation
    loss is deterministic and identical).  Fixed ``_PR_ITERS``
    iterations, unrolled as CTE stages on the oracle side (no
    aggregate-in-recursion limits to fight).  Headroom: ``rank·85``
    needs rank < 10¹⁷; a node's rank is bounded by 0.85·(inbound
    mass)+teleport ≤ ~0.85·|V|·10⁶, so int64 holds to ~10¹⁰ nodes —
    beyond any catalog (the a20-style documented bound).

    Scale shape: the adjacency (+degree) is built once and
    ``localCheckpoint``-ed — the iteration then touches ONLY the
    checkpointed edge list (one shuffle join + one partial-agg
    per step), never re-derives it from lineitem; that is the x2e
    pointer-jumping pattern.  Per step cost is |E| join rows — linear,
    no fan-out.  Closing top-k is TakeOrderedAndProject on
    (rank desc, node) — a total order, so the cut is deterministic.

    Probed alternative (round 5, re-measured round 6):
    ``repartition('src').persist()`` instead of the checkpoint keeps
    the build plan lazy and the partitioning visible.  In the AQE
    FINAL executed plan (sf0.01, 4 iterations) the two forms are
    nearly identical — 6 exchanges either way — but the persisted
    form consumes the adjacency through an ``InMemoryTableScan`` with
    one MORE ``ReusedExchange`` (5 vs 4), and its single
    ``src`` hash-exchange is the cache-population repartition, which
    executes ONCE, whereas checkpoint's ``src`` exchange is re-read
    per consuming stage from shuffle files.  Measured end-to-end at
    sf0.1 it is a wash (5.9 s vs 6.2 s — adjacency construction and
    the per-step partial aggs dominate), and persist prints the cached
    build plan inside every explain, breaking the simple 'lineitem
    absent from the iteration plan' gate.  Since r6 both forms are
    first-class via ``adjacency_mode`` (default stays
    ``"checkpoint"``: same one-materialization guarantee, simpler
    gate); on a real cluster, where cache locality beats shuffle-file
    re-reads, pass ``"persist"`` — both modes are hash-identical by
    test (tests/test_corpus.py) and the persisted form's cache
    consumption + reuse counts are plan-gated (tests/test_plans.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    adjd = prepared_adjacency(li, mode=adjacency_mode)
    return pagerank_over_adjacency(adjd).limit(20)


def prepared_adjacency(li: DataFrame, mode: str = "checkpoint") -> DataFrame:
    """Materialize the (``src``, ``dst``, ``deg``) co-purchase
    adjacency the iterative algorithms loop over, pinned so iterations
    never re-derive it from the fact table.

    ``mode="checkpoint"`` (default): ``localCheckpoint()`` — eager,
    truncates the logical plan (simple 'lineitem absent' plan gate)
    but loses outputPartitioning, so every iteration join re-exchanges
    the adjacency on ``src``.

    ``mode="persist"``: ``repartition('src').persist()`` — lazy, keeps
    the plan visible; iterations consume the adjacency from the
    InMemoryRelation (executed plan: InMemoryTableScan + one more
    ReusedExchange than checkpoint; the only ``src`` hash-exchange is
    the cache-population repartition, which runs once).  The caller
    owns the cache entry (``.unpersist()`` when done)."""
    if mode not in ("checkpoint", "persist"):
        raise ValueError(
            f"adjacency_mode must be checkpoint|persist, got {mode!r}"
        )
    adj = copurchase_adjacency(li)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    adjd = adj.join(deg, "src")
    if mode == "persist":
        return adjd.repartition("src").persist()
    return adjd.localCheckpoint()


def pagerank_over_adjacency(
    adjd: DataFrame, iters: int = _PR_ITERS
) -> DataFrame:
    """The iteration core of :func:`g2_pagerank` over a prepared
    (``src``, ``dst``, ``deg``) adjacency (deg = out-degree of src;
    pass a localCheckpoint-ed frame so iterations don't re-derive
    it).  Returns (node, pr_rank, deg) ordered by (pr_rank desc,
    node).  Exposed separately so planted-graph tests can check the
    rank arithmetic on hand-computed topologies.

    Every downstream input (initial ranks, closing degree join)
    derives from the passed adjacency, so no stage re-derives the
    edge list from the fact table (plan-gated: 'lineitem' absent
    from g2's final plan)."""
    nodes = adjd.select(F.col("src").alias("node"), "deg").distinct()
    ranks = nodes.select(
        "node", F.lit(_PR_INIT).cast("bigint").alias("pr")
    )
    for _ in range(iters):
        contrib = adjd.join(
            ranks, adjd["src"] == ranks["node"]
        ).select(
            F.col("dst"),
            F.expr("(pr * 85) DIV (100 * deg)").alias("c"),
        )
        ranks = (
            contrib.groupBy("dst")
            .agg((F.lit(_PR_TELEPORT) + F.sum("c")).alias("pr"))
            .select(F.col("dst").alias("node"), "pr")
        )
    return (
        ranks.join(nodes, "node")
        .select("node", F.col("pr").alias("pr_rank"), "deg")
        .orderBy(F.desc("pr_rank"), "node")
    )


# --------------------------------------------------------------------------
# W13 — lag-k autocorrelation of the daily event series
# --------------------------------------------------------------------------

def w13_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of each event type's daily-count
    series — the seasonality/persistence diagnostic that decides
    whether a forecast window (w2/w7) is even meaningful.

    Series = counts over OBSERVED days (absent days are absent, not
    zero-filled — the a23/w11 naming lesson, stated up front).  All
    three lags come from ONE window pass (three ``lag()`` columns over
    the same sort), unpivoted in-row via ``stack`` — one shuffle on
    event_type for the window, one partial-agg shuffle for the
    moments.

    Cross-engine: daily counts are int64, the five moments are exact
    integer sums (Σy² ≤ days·(3e5)² ≈ 2.7e12 at sf1 — headroom to
    sf1000), and the closing Pearson tree is the a20 pattern: cast
    each moment to double, then identical mult/sub/sqrt/div trees —
    IEEE correctly-rounded, bit-identical.  Degenerate (constant)
    series guard on the INTEGER variance terms, not the doubles.
    Output floor-quantized (never round()).
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        F.col("n").alias("x"),
        F.lag("n", 1).over(w).alias("y1"),
        F.lag("n", 2).over(w).alias("y2"),
        F.lag("n", 3).over(w).alias("y3"),
    )
    pairs = lagged.selectExpr(
        "event_type",
        "stack(3, 1, x, y1, 2, x, y2, 3, x, y3) AS (lag_k, x, y)",
    ).filter(F.col("y").isNotNull())
    m = pairs.groupBy("event_type", "lag_k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    nondegenerate = (
        F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
    ) & (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
    return m.select(
        "event_type",
        "lag_k",
        "n_pairs",
        F.when(nondegenerate, F.floor(corr * 10000).cast("bigint")).alias(
            "acf_q"
        ),
    )


# --------------------------------------------------------------------------
# X33 — corpus-level chunk dedup with ordered reassembly
# --------------------------------------------------------------------------

_CHUNK = 8  # tokens per chunk


def x33_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level chunk dedup WITH reassembly: split every
    document into fixed 8-token chunks, keep only each chunk's first
    occurrence corpus-wide (first = smallest (doc_id, pos) — a total
    order, so the survivor is deterministic), and rebuild each
    document from its surviving chunks in original order.  x20
    *detects* cross-document boilerplate; this op *removes* it and
    hands back the cleaned text — the actual training-corpus
    transformation.

    Scale shape: tokenize ONCE per row behind a projection boundary
    (the doc_shingles rule), chunk in-row, then exactly two keyed
    shuffles: row_number over the chunk-hash partitions (streams, no
    collected state) and the per-doc reassembly groupBy.  The
    reassembly's collect_list holds ONE document's surviving chunks —
    bounded by document length, not corpus size.  Totals come from a
    narrow in-row expression, no extra shuffle.

    Cross-engine: chunk ordering is (doc_id, pos) integers; the
    rebuilt string is an order-explicit join (array_sort-by-pos /
    string_agg ORDER BY pos) — no float, no nondeterminism.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("__toks"))
    chunk_arr = F.expr(
        f"""
        transform(
            sequence(0, (size(__toks) + {_CHUNK - 1}) DIV {_CHUNK} - 1),
            i -> array_join(slice(__toks, i * {_CHUNK} + 1, {_CHUNK}), ' '))
        """
    )
    ch = toks.select(
        "doc_id", F.posexplode(chunk_arr).alias("pos", "chunk")
    )
    # partition on the 60-bit md5-int64 chunk hash (dedup.shingle_hash64
    # — 8-byte shuffle key vs the 32-char md5 hex string); collisions
    # are shared with the oracle by construction, so "first occurrence
    # per chunk hash" is the same set on both engines
    w = Window.partitionBy(dedup.shingle_hash64("chunk")).orderBy(
        "doc_id", "pos"
    )
    kept = (
        ch.select(
            "doc_id", "pos", "chunk", F.row_number().over(w).alias("__r")
        )
        .filter(F.col("__r") == 1)
    )
    reass = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, chunk)))"
            ", s -> s.chunk), ' ')"
        ).alias("dedup_text"),
    )
    totals = toks.select(
        "doc_id",
        F.expr(f"(size(__toks) + {_CHUNK - 1}) DIV {_CHUNK}").alias(
            "n_chunks"
        ),
    )
    return totals.join(reass, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
    )


# --------------------------------------------------------------------------
# X30 — ANN recall self-evaluation (LSH vs exact)
# --------------------------------------------------------------------------

def x30_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k (k = ``similarity.ANN_TOPK``) of the LSH ANN (x3d)
    against the exact cosine top-k (x3), per query — the quality dial
    every approximate index must report before it replaces the exact
    scan.  Composes the two registered pipelines and counts the
    overlap; recall is exact integer ppm (n_hit·1e6 DIV k), so the
    grade itself is engine-exact.  The denominator is the SAME
    constant the x3/x3d pipelines pass as their top-k — never a
    re-hard-coded literal that could silently diverge.

    Scale shape: both inputs are top-k-bounded (k rows per query), so
    the comparison join touches |queries|·k rows regardless of corpus
    size; the left join keeps queries the ANN missed entirely.
    """
    from data_engineer_project_weather_analytics_spark.plans import extensions

    exact = extensions.x3_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ann = extensions.x3d_ann_lsh(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    return (
        exact.join(ann, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("__hit").alias("n_hit"))
        .select(
            "query_id",
            "n_hit",
            F.expr(f"n_hit * 1000000 DIV {similarity.ANN_TOPK}").alias(
                "recall_ppm"
            ),
        )
    )


# --------------------------------------------------------------------------
# X31 — contrastive training-pair generation
# --------------------------------------------------------------------------

def x31_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplets for contrastive training:
    positives are the verified near-dup pairs (the x2f pipeline —
    LSH candidates, exact-Jaccard ≥ 0.1 verification), negatives are
    drawn deterministically by hashing the pair into one of 256
    corpus buckets and taking that bucket's smallest doc_id — a
    pseudo-random negative that is reproducible across engines and
    runs (hash-seeded sampling, never rand()).

    Scale shape: the positive side is candidate-pruned (x2f's whole
    point); the negative lookup joins against a 256-row bucket
    dimension built by ONE partial-agg pass over doc ids — AQE
    broadcasts it at runtime (no forced hint: the dim derives from an
    SF-scaling scan, the maybe_broadcast lesson).  A negative that
    hash-collides with either pair member degrades to NULL rather
    than silently training on a false negative, and a pair landing in
    an empty bucket keeps its positive with a NULL negative (LEFT
    join) — training pairs are never silently dropped.
    """
    from data_engineer_project_weather_analytics_spark.plans import extensions

    pairs = extensions.x2f_lsh_verified_neardup(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    buckets = (
        docs.select(
            (_h48("CAST(doc_id AS STRING)") % 256).alias("bkt"), "doc_id"
        )
        .groupBy("bkt")
        .agg(F.min("doc_id").alias("neg_id"))
    )
    keyed = pairs.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("positive_id"),
        (
            _h48("concat(CAST(id_a AS STRING), '|', CAST(id_b AS STRING))")
            % 256
        ).alias("bkt"),
    )
    return keyed.join(buckets, "bkt", "left").select(
        "anchor_id",
        "positive_id",
        F.when(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("neg_id") != F.col("positive_id")),
            F.col("neg_id"),
        ).alias("negative_id"),
    )


# --------------------------------------------------------------------------
# X35 — inverted index construction (capped postings)
# --------------------------------------------------------------------------

_POSTINGS_CAP = 100


def x35_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the retrieval primitive: for every
    token, document frequency, collection frequency, and the head of
    its postings list (first ``_POSTINGS_CAP`` doc ids, ascending).

    Scale shape: df/cf come from full partial-agg streams (never
    collected); the postings head is capped BEFORE any collection by a
    row_number window (the LSH hot-bucket lesson: cap, then collect —
    a stopword's postings list is corpus-sized, and collecting it
    first would pin an unbounded reducer).  ``truncated`` flags tokens
    whose list was cut, so a reader can't mistake the head for the
    whole list.

    Cross-engine: postings serialize to a comma-joined string of
    ascending doc ids (repo rule: no raw arrays in checked outputs);
    all counts int64.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    per_doc = toks.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    rn = Window.partitionBy("token").orderBy("doc_id")
    head = (
        per_doc.select("token", "doc_id", F.row_number().over(rn).alias("__r"))
        .filter(F.col("__r") <= _POSTINGS_CAP)
        .groupBy("token")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(doc_id))"
                ", d -> CAST(d AS STRING)), ',')"
            ).alias("postings_head")
        )
    )
    return (
        stats.join(head, "token")
        .select(
            "token",
            "df",
            "cf",
            "postings_head",
            (F.col("df") > _POSTINGS_CAP).cast("bigint").alias("truncated"),
        )
    )


# --------------------------------------------------------------------------
# X36 — BM25 keyword retrieval (all-integer scoring)
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "query", "window")


def _bm25_doc_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, score_q) for every document matching any `_BM25_TERMS`
    term — the shared all-integer BM25 scorer behind x36 (top-10
    retrieval) and x42 (RRF fusion).  See :func:`x36_bm25_retrieval`
    for the determinism derivation of ``idf_log2``/``tfc_q``."""
    terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.expr(f"token IN ({terms_sql})"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl")
    )
    totals = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("t_tokens"),
    )
    scored = (
        tf.join(df_, "token")
        .join(dl, "doc_id")
        .join(F.broadcast(totals))
        .select(
            "doc_id",
            F.expr(
                "length(bin(greatest((2 * n_docs - 2 * df + 1)"
                " DIV (2 * df + 1), 1)))"
            ).alias("idf_log2"),
            F.expr(
                "22 * tf * ((100 * t_tokens) DIV n_docs) * 1000"
                " DIV (10 * tf * ((100 * t_tokens) DIV n_docs)"
                "      + 3 * ((100 * t_tokens) DIV n_docs) + 900 * dl)"
            ).alias("tfc_q"),
        )
    )
    return (
        scored.select(
            "doc_id", (F.col("idf_log2") * F.col("tfc_q")).alias("term_score")
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score_q"))
    )


def x36_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed keyword query — the ranking
    half of the inverted index (x35): score docs containing any of the
    query terms and return the 10 best.

    Cross-engine determinism is the whole design here, because real
    BM25 is ln() + float division (both non-portable):

    * idf uses the Robertson odds ratio ``(N-df+0.5)/(df+0.5)`` kept
      RATIONAL via ×2 (``(2N-2df+1) DIV (2df+1)``) and then
      log2-stepped with the shared ``bin()`` builtin
      (``length(bin(x)) = floor(log2 x)+1`` — the a22 rho trick):
      a monotone, bounded (≤63), engine-exact stand-in for ln;
    * the tf saturation term multiplies through by the quantized
      average doc length (``avgdl_q = 100·T DIV N``, scale-invariant),
      so with k1=1.2, b=0.75:
      ``tfc_q = 22·tf·avgdl_q·1000 DIV (10·tf·avgdl_q + 3·avgdl_q +
      900·dl)`` — bounded by 2200 at ANY corpus size (no term grows
      with N or T, unlike the naive cross-multiplication whose
      ``tf·T·1000`` overflows int64 near 10^10 tokens);
    * score = Σ idf_log2·tfc_q — small exact integers; ties break on
      doc_id, so the top-10 cut is deterministic.

    Scale shape: the token explode filters to the query terms BEFORE
    aggregating (vocabulary-bounded stream), df and the (N, T) totals
    are 1-row/|terms|-row aggregates, doc length is a narrow in-row
    expression, and the close is TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bm25_doc_scores(docs)
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# X42 — hybrid retrieval: BM25 ⊕ dense cosine via reciprocal-rank fusion
# --------------------------------------------------------------------------

#: RRF smoothing constant (k=60, the value from Cormack/Clarke/Buettcher
#: "Reciprocal Rank Fusion outperforms Condorcet", SIGIR'09) and the
#: fusion depth (how deep each ranker's list goes before fusing).
_RRF_K = 60
_FUSE_DEPTH = 50
_RRF_QUERY_VEC = 0


def x42_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the standard RAG/curation pattern: fuse a
    lexical ranking (BM25 over the fixed `_BM25_TERMS` keyword query,
    x36's scorer) with a dense ranking (cosine neighbors of query
    vector ``vec_id = _RRF_QUERY_VEC``; documents and embeddings share
    the 0..N-1 id space) by Reciprocal Rank Fusion and return the
    top-10 fused docs.

    Cross-engine determinism:

    * both ranks order on INTEGER keys — BM25's exact ``score_q`` and
      the 1e-4-quantized cosine ``floor(cos·10⁴)`` (`similarity.sim_q`,
      the hash-proven bit-stable transform) — with doc_id tie-breaks,
      so rank assignment cannot drift on a last-ulp float disagreement
      the way raw-double ordering could at depth 50;
    * the RRF reciprocal ``1/(k+rank)`` is kept integer as
      ``1000000 DIV (60+rank)`` (distinct for every rank ≤ 940, far
      past the fusion depth); a doc missing from one list contributes
      0 from that ranker (COALESCE), the standard RRF convention.

    Scale shape: each ranker closes with orderBy+limit
    (TakeOrderedAndProject — no global sort) BEFORE the rank window,
    so the unpartitioned row_number windows run over ≤ `_FUSE_DEPTH`
    rows (a constant, not a scale surface); the dense scan broadcasts
    the 1-row query vector (allowlisted bounded BNLJ, as x3); the
    fusion join is |2·depth| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lex_top = (
        _bm25_doc_scores(docs)
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(_FUSE_DEPTH)
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_q"), F.col("doc_id")))
        .cast("bigint")
        .alias("lex_rank"),
    )

    q = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        similarity._as_double("embedding").alias("__qv")
    )
    c = emb.filter(F.col("vec_id") != _RRF_QUERY_VEC).select(
        F.col("vec_id").alias("doc_id"),
        similarity._as_double("embedding").alias("__cv"),
    )
    sem_top = (
        c.join(F.broadcast(q))
        .select(
            "doc_id",
            similarity.sim_q(
                similarity.cosine(F.col("__qv"), F.col("__cv"))
            ).alias("__simq"),
        )
        .orderBy(F.desc("__simq"), "doc_id")
        .limit(_FUSE_DEPTH)
    )
    sem = sem_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("__simq"), F.col("doc_id")))
        .cast("bigint")
        .alias("sem_rank"),
    )

    fused = lex.join(sem, "doc_id", "full_outer")
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (
                F.coalesce(
                    F.expr(f"1000000 DIV ({_RRF_K} + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 DIV ({_RRF_K} + sem_rank)"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("rrf_q"),
        )
        .orderBy(F.desc("rrf_q"), "doc_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# O4 — Pareto cumulative-share (distributed global cumsum)
# --------------------------------------------------------------------------

def o4_pareto_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: customers ranked by lifetime spend with
    the GLOBAL running total and the 80%-frontier flag — "how few
    customers cover 80% of revenue".

    The scale story is the cumsum itself: a bare ``Window.orderBy``
    serializes the whole customer table through one reducer, so this
    query runs :func:`operators.prefix_sum.distributed_cumsum` — range
    repartition, parallel per-partition cumsum, and a sequential pass
    over only the |partitions|-row totals table (parallelism-sized, a
    scale constant).  Order is total ((spend desc, custkey)), which
    both makes the running value deterministic and keeps equal keys
    off partition boundaries.

    Cross-engine: exact DECIMAL cents end to end; the share is basis
    points by integer division (``cum·10⁴ DIV total`` — safe while
    total cents < 9·10¹⁴, ≈ sf100; the a20-style documented bound);
    the frontier test cross-multiplies (``(cum−c)·5 < total·4``), no
    division at all.  The oracle replays a single-node window cumsum —
    legitimate there because DuckDB runs on one node anyway; the
    partition-invariance of the prefix sum is what makes the two
    formulations equal.
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.select(
            "o_custkey",
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("__c"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("__c").alias("cents"))
    )
    cum = distributed_cumsum(
        spend,
        [F.col("cents").desc(), F.col("o_custkey")],
        "cents",
        "cum_cents",
    )
    tot = spend.agg(F.sum("cents").alias("total"))
    return cum.join(F.broadcast(tot)).select(
        "o_custkey",
        "cents",
        "cum_cents",
        F.expr("cum_cents * 10000 DIV total").alias("cum_bp"),
        F.expr(
            "CAST((cum_cents - cents) * 5 < total * 4 AS BIGINT)"
        ).alias("in_top80"),
    )


# --------------------------------------------------------------------------
# W14 — seasonal-naive forecast backtest
# --------------------------------------------------------------------------

def w14_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict today's count
    with the value from 7 calendar days earlier) per event type — the
    baseline every fancier forecaster must beat, and the honest way to
    report one: as measured backtest error, not a model artifact.

    The 7-day shift is a calendar-true self equi-join on
    (event_type, day+7) — an observed-row lag window would silently
    shorten the season across gaps (the w11 lesson, applied).  Errors
    are exact integers (|n − n_pred|), MAE is one integer ppm
    division — nothing floats (``total_abs_err·10⁶`` holds int64 to
    ~10¹² daily-count error mass ≈ sf10⁴).  One daily partial-agg
    shuffle reused by both join sides.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pred = daily.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("n").alias("n_pred"),
    )
    return (
        daily.join(pred, ["event_type", "day"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.abs(F.col("n") - F.col("n_pred"))).alias(
                "total_abs_err"
            ),
        )
        .select(
            "event_type",
            "n_days",
            "total_abs_err",
            F.expr("total_abs_err * 1000000 DIV n_days").alias("mae_ppm"),
        )
    )


# --------------------------------------------------------------------------
# X39 — feature hashing (hashed bag-of-words projection)
# --------------------------------------------------------------------------

_FH_BUCKETS = 64


def x39_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): project each document's
    token counts into a fixed 64-bucket signed vector — model-free
    document embeddings for the ANN/cluster family when no trained
    encoder exists.  Weinberger et al.'s signed construction: bucket from the
    md5-derived 48-bit hash, sign from an INDEPENDENT hex digit (the
    13th — outside the bucket prefix), so collisions cancel in
    expectation instead of biasing upward.

    Scale shape: one token explode, one (doc, bucket) partial-agg
    shuffle, then a per-doc aggregation whose state is ≤64 entries BY
    CONSTRUCTION (the dimensionality, not the data, bounds the
    collect) — the one place collect-then-serialize is legitimate.

    Cross-engine: the sparse vector serializes as sorted
    ``bucket:value`` pairs (int64 strings — no float formatting); the
    L2 norm² stays exact integer.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    sign = F.expr(
        "CASE WHEN substring(md5(token), 13, 1) IN"
        " ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END"
    )
    vals = (
        toks.select(
            "doc_id",
            (_h48("token") % _FH_BUCKETS).alias("bucket"),
            sign.alias("s"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("v"))
        .filter(F.col("v") != 0)
    )
    return vals.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.sum(F.col("v") * F.col("v")).alias("norm2"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(bucket, v)))"
            ", s -> concat(CAST(s.bucket AS STRING), ':',"
            " CAST(s.v AS STRING))), ' ')"
        ).alias("vec"),
    )


# --------------------------------------------------------------------------
# DQ5 — Benford first-digit deviation
# --------------------------------------------------------------------------

# log10(1 + 1/d) as shared literal strings: both engines parse the
# identical decimal text to the identical double — no libm call ever
# runs at query time (the x9/x19 no-libm rule).
_BENFORD_P = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829993",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST('{p}' AS DOUBLE)" for d, p in _BENFORD_P.items()
) + " END"


def dq5_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: observed first-digit
    frequencies vs log10(1+1/d), with a per-digit chi-square
    contribution — the classic fabricated-data / unit-mixing detector
    for financial columns (naturally-grown multiplicative amounts
    follow Benford; capped, minimum-priced, or invented ones don't).

    Determinism: the first digit comes from the DECIMAL-exact cents
    rendered as an integer string (both engines print int64
    identically — no float formatting anywhere); expected
    probabilities are shared decimal LITERALS, so no ln/log10 runs at
    query time; the per-digit close is one shared IEEE tree
    ((o−e)²/e), never summed across rows in float.  One scan, a
    9-row aggregate, a 1-row total join.
    """
    orders = load_table(spark, sf_dir, "orders")
    # abs() + try_cast + BETWEEN 1 AND 9: a negative total would
    # otherwise put '-' in position 1 (ANSI CAST throws), and a
    # zero-cent total yields digit 0, which has no Benford expectation
    # — Benford conditions on a nonzero leading digit, so degenerate
    # amounts are excluded from both n_obs and n_total in BOTH engines
    # (the lenient-path rule: try_cast, never a throwing CAST).
    counts = (
        orders.select(
            F.expr(
                "try_cast(substring(CAST(abs(CAST(CAST(o_totalprice AS"
                " DECIMAL(12,2)) * 100 AS BIGINT)) AS STRING), 1, 1)"
                " AS INT)"
            ).alias("digit")
        )
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = counts.agg(F.sum("n_obs").alias("n_total"))
    return (
        counts.join(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.expr("n_obs * 1000000 DIV n_total").alias("obs_ppm"),
            F.expr(
                f"CAST(floor(({_BENFORD_CASE}) * 1000000) AS BIGINT)"
            ).alias("benford_ppm"),
            F.expr(
                f"CAST(floor((CAST(n_obs AS DOUBLE)"
                f" - ({_BENFORD_CASE}) * CAST(n_total AS DOUBLE))"
                f" * (CAST(n_obs AS DOUBLE)"
                f" - ({_BENFORD_CASE}) * CAST(n_total AS DOUBLE))"
                f" / (({_BENFORD_CASE}) * CAST(n_total AS DOUBLE))"
                f" * 10000) AS BIGINT)"
            ).alias("chi2_q"),
        )
    )


# --------------------------------------------------------------------------
# X37 — containment detection (asymmetric near-dup)
# --------------------------------------------------------------------------

def x37_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote/inclusion detection: candidate pairs scored by Broder
    CONTAINMENT (|A∩B|/|A|, |A∩B|/|B|) instead of Jaccard — the case
    Jaccard structurally misses (a short doc fully embedded in a long
    one has tiny Jaccard but containment ≈ 1 on the short side).
    Same LSH-pruned scale shape as x2f: shared signature+sizes
    aggregate, width-capped buckets, verify joins THROUGH the
    candidate table."""
    from data_engineer_project_weather_analytics_spark.plans.extensions import LSH_MAX_BUCKET

    docs = load_table(spark, sf_dir, "documents")
    ds = dedup.doc_shingles(docs, "doc_id", "text", n=3)
    sigs, sizes = dedup.minhash_with_sizes(ds, "doc_id", n_bands=8)
    candidates = dedup.lsh_candidate_pairs(
        sigs, "doc_id", max_bucket=LSH_MAX_BUCKET
    )
    return dedup.containment_for_candidates(
        ds, "doc_id", candidates, threshold=0.5, sizes=sizes
    )


# --------------------------------------------------------------------------
# X38 — prefix-filtering similarity join (exact recall)
# --------------------------------------------------------------------------

def x38_prefix_filter_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-threshold near-dup pairs (J ≥ 0.7) by prefix filtering —
    guaranteed recall where LSH banding (x2b/x2f) is probabilistic;
    see :func:`operators.dedup.prefix_filter_pairs` for the lemma and
    the scale argument (rarest-token index ≈ 30% of each doc at
    t=0.7)."""
    docs = load_table(spark, sf_dir, "documents")
    ds = dedup.doc_shingles(docs, "doc_id", "text", n=3)
    return dedup.prefix_filter_pairs(ds, "doc_id", threshold_pct=70)


# --------------------------------------------------------------------------
# J12 — point-in-time join against the SCD2 dimension
# --------------------------------------------------------------------------

def j12_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join: every purchase event picks up the
    user's SCD2 state version that was valid AT the purchase
    timestamp — the warehouse pattern that makes type-2 dimensions
    usable ("what plan was the customer on when they bought").

    Composes the registered SCD2 builder (scd2_user_state) with the
    bucketed range join's equality keys (``on=['user_id']``): the
    shuffle partitions on (user, time-bucket), so the temporal probe
    never compares rows across users — at scale this is |user's
    events|-bounded work, not a corpus-wide theta join (which Spark
    would plan as a BroadcastNestedLoopJoin).

    Open current intervals (``valid_to`` NULL) close at a data-derived
    horizon (max event ts + 1 µs, a 1-row broadcast) rather than a
    far-future literal — a year-2100 sentinel would explode each
    current interval into ~10^5 buckets.  Every purchase matches
    exactly one interval (SCD2 intervals partition each user's
    timeline), which the oracle verifies structurally: the join is
    row-preserving over purchases.
    """
    from data_engineer_project_weather_analytics_spark.operators.range_join import bucketed_range_join
    from data_engineer_project_weather_analytics_spark.plans import analytics

    dim = analytics.scd2_user_state(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    horizon = ev.agg(
        F.expr("max(ts) + INTERVAL 1 MICROSECOND").alias("__h")
    )
    dim2 = dim.join(F.broadcast(horizon)).select(
        "user_id",
        "state",
        "version",
        "valid_from",
        F.coalesce("valid_to", F.col("__h")).alias("__vt"),
    )
    out = bucketed_range_join(
        purchases,
        dim2,
        "ts",
        "valid_from",
        "__vt",
        bucket_seconds=43200,
        on=["user_id"],
    )
    return out.select("user_id", "event_id", "ts", "state", "version")


# --------------------------------------------------------------------------
# DQ4 — chi-square drift per slice
# --------------------------------------------------------------------------

def dq4_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift contribution per event type between the first
    and second half of the observation window — the distribution-shift
    test dq2's ratio check can't express (a slice can keep its ratio
    while the MIX shifts).

    The split day is data-derived (min day + 15, a 1-row broadcast);
    baseline/current counts come from ONE conditional-aggregation scan
    (the dq2 shape).  The cell statistic
    ``(o·T_b − b·T_c)² / (b·T_b·T_c)`` is algebraically
    ``(o−e)²/e`` with the expected count cleared of fractions, so the
    heavy arithmetic stays EXACT int64 (safe while counts·totals stay
    under 2^53 — holds to ~sf100; the a20-style documented bound) and
    each row closes with one shared IEEE double tree (mult/div —
    correctly rounded, engine-exact).  No cross-row float aggregation:
    the statistic is reported per slice, never summed in floating
    point (float Σ is accumulation-order-dependent — the portability
    rule every moment query here follows).

    Zero-baseline slices yield NULL drift (explicit guard — the dq2
    try_divide lesson: make the NULL semantics identical in BOTH
    engines, not implicit in one).
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("event_type", F.to_date("ts").alias("day"))
    split = d.agg(F.date_add(F.min("day"), 15).alias("__split"))
    counted = (
        d.join(F.broadcast(split))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("day") < F.col("__split"), 1).otherwise(0)
            ).alias("n_base"),
            F.sum(
                F.when(F.col("day") >= F.col("__split"), 1).otherwise(0)
            ).alias("n_curr"),
        )
    )
    totals = counted.agg(
        F.sum("n_base").alias("t_base"), F.sum("n_curr").alias("t_curr")
    )
    return (
        counted.join(F.broadcast(totals))
        .select(
            "event_type",
            "n_base",
            "n_curr",
            F.expr(
                "CASE WHEN n_base > 0 THEN CAST(floor("
                "CAST(n_curr * t_base - n_base * t_curr AS DOUBLE)"
                " * CAST(n_curr * t_base - n_base * t_curr AS DOUBLE)"
                " / (CAST(n_base AS DOUBLE) * CAST(t_base AS DOUBLE)"
                "    * CAST(t_curr AS DOUBLE)) * 1000000) AS BIGINT)"
                " END"
            ).alias("drift_q"),
        )
    )


# --------------------------------------------------------------------------
# G3 — synchronous label propagation (community detection)
# --------------------------------------------------------------------------

_LPA_ITERS = 2


def g3_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    co-purchase graph (same basket-capped edge list as g1/g2): seed
    every part with its ``p_brand``, then for ``_LPA_ITERS`` rounds
    each node adopts the most frequent label among its NEIGHBORS
    (Raghavan et al. 2007, the near-linear community detector).
    Output is the final community-size histogram.

    Cross-engine determinism: classic LPA is order-dependent
    (asynchronous updates + random tie-break).  This is the
    deterministic synchronous form — all nodes update from the same
    previous frame, and ties break on (count DESC, label ASC) through
    a ``row_number`` window, a total order.  Everything is integer
    counts and string labels; the oracle unrolls the two rounds as
    CTE stages (the g2 pattern).

    Scale shape: the adjacency is built once and localCheckpoint-ed
    (iterations never re-derive it from lineitem — plan-gated like
    g2); each round is one |E|-row equi-join + one partial-agg shuffle
    + one window whose per-node state is bounded by the distinct
    neighbor-label count (≤ catalog brand count, never |E|).  The
    closing histogram is one bounded-key aggregate.

    Exchange budget (round-5 audit): the loop is already minimal.  The
    adjacency side is shuffled on ``src`` AT MOST once across all
    iterations — later consumptions are ReusedExchange / runtime
    broadcasts in the executed plan (gated:
    test_lpa_iterations_reuse_checkpointed_adjacency).  The per-round
    label-side exchange is inherent (labels are new data each round),
    and pre-partitioning the adjacency before the checkpoint cannot
    help: ``localCheckpoint`` drops outputPartitioning (probed — a
    checkpointed ``repartition('x')`` still re-exchanges under a
    ``groupBy('x')``), so a ``repartition('src')`` ahead of the loop
    only adds a shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    adj = copurchase_adjacency(li).localCheckpoint()
    seeds = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .join(
            part.select(
                F.col("p_partkey").alias("node"),
                F.col("p_brand").alias("label"),
            ),
            "node",
        )
    )
    final = propagate_labels(adj, seeds, iters=_LPA_ITERS)
    return (
        final.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "label")
    )


def propagate_labels(
    adj: DataFrame, labels: DataFrame, iters: int = _LPA_ITERS
) -> DataFrame:
    """The synchronous LPA core over a prepared (``src``, ``dst``)
    adjacency and a (``node``, ``label``) seed frame — exposed
    separately so planted-graph tests can check the majority/tie
    arithmetic on hand-built topologies (the pagerank_over_adjacency
    pattern)."""
    for _ in range(iters):
        nb = adj.join(labels, adj["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        cnt = nb.groupBy("node", "label").agg(F.count(F.lit(1)).alias("n"))
        w = Window.partitionBy("node").orderBy(F.desc("n"), "label")
        labels = (
            cnt.select(
                "node", "label", F.row_number().over(w).alias("__r")
            )
            .filter(F.col("__r") == 1)
            .select("node", "label")
        )
    return labels


# --------------------------------------------------------------------------
# X40 — token-budget domain mixing (equal-token resampling with epochs)
# --------------------------------------------------------------------------


def x40_domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus so every SOURCE contributes an equal TOKEN
    budget — the LLM data-mixing primitive (domain reweighting à la
    the Pile/DoReMi recipes).  Unlike x26 (doc-count downsample toward
    the minority class), the unit is tokens and under-budget sources
    are OVERSAMPLED: a source whose rate exceeds 1 repeats every doc
    ``rate DIV 1`` times (integer epochs) plus one more copy chosen by
    a hash Bernoulli trial for the fractional remainder — exactly how
    a training pipeline materializes a >1 mixing weight.

    Determinism: the per-source budget and rates are exact integer ppm
    (``(total DIV n_sources) · 1e6 DIV src_tokens``); the fractional
    trial is the x26 cross-multiplied comparison
    ``h32 · 1e6 < frac_ppm · 2³²`` on a per-doc md5 hash (max product
    ~4.3e15 — int64 headroom), so the emitted multiset is bit-identical
    in any engine and stable under re-partitioning.

    Scale shape: one token-count scan, one bounded per-source
    aggregate (broadcast back — source catalog is scale-constant), the
    per-doc copy decision is in-row arithmetic, and the report is one
    bounded-key re-aggregate.  No explode of the epochs is needed for
    the report (Σ n_copies·tokens is closed-form) — a materializing
    sink would explode, but the planning stays linear either way.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    per_src = toks.groupBy("source").agg(
        F.sum("n_tokens").alias("src_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = per_src.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    rates = per_src.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "src_tokens",
        F.expr(
            "(total_tokens DIV n_sources) * 1000000 DIV src_tokens"
        ).alias("rate_ppm"),
    )
    h32 = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT)"
    )
    copies = (
        toks.select("doc_id", "source", "n_tokens", h32.alias("h32"))
        .join(F.broadcast(rates), "source")
        .select(
            "source",
            "n_docs",
            "src_tokens",
            "rate_ppm",
            "n_tokens",
            (
                F.expr("rate_ppm DIV 1000000")
                + F.when(
                    F.col("h32") * 1_000_000
                    < (F.col("rate_ppm") % 1_000_000) * 4_294_967_296,
                    1,
                ).otherwise(0)
            ).alias("n_copies"),
        )
    )
    report = copies.groupBy("source", "n_docs", "src_tokens", "rate_ppm").agg(
        F.sum(F.when(F.col("n_copies") > 0, 1).otherwise(0)).alias(
            "kept_docs"
        ),
        F.sum("n_copies").alias("emitted_docs"),
        F.sum(F.col("n_copies") * F.col("n_tokens")).alias(
            "emitted_tokens"
        ),
    )
    grand = report.agg(F.sum("emitted_tokens").alias("grand_tokens"))
    return (
        report.join(F.broadcast(grand))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            "rate_ppm",
            "kept_docs",
            "emitted_docs",
            "emitted_tokens",
            F.expr("emitted_tokens * 1000000 DIV grand_tokens").alias(
                "share_ppm"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X41 — weighted sample via hash priorities (Duffield-Lund-Thorup)
# --------------------------------------------------------------------------

_WS_K = 100


def x41_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement: assign every
    doc the priority ``w / u`` for a per-doc uniform hash u and keep
    the top ``_WS_K`` — priority sampling (Duffield, Lund & Thorup,
    JACM'07), the one-pass distributed form of weighted selection
    (here w = n_chars, the "sample long docs proportionally more"
    curation knob).

    Determinism: u is the md5-u32 of doc_id shifted to [1, 2³²] and
    the priority is the exact integer ``w · 2³² DIV u`` (w ≤ ~1e6
    keeps the product under 2⁵² — documented headroom); ties break on
    doc_id through the (priority DESC, doc_id) total order.

    Scale shape: in-row hash + one TakeOrderedAndProject — the
    per-partition top-k never global-sorts, so the cut costs one scan
    regardless of corpus size (the o2 plan, plan-gated).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.expr(
                "n_chars * 4294967296 DIV"
                " (CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) + 1)"
            ).alias("priority_q"),
        )
        .orderBy(F.desc("priority_q"), "doc_id")
        .limit(_WS_K)
    )


# Unrolled PageRank iteration CTEs (no aggregates-in-recursion limits)
_PR_STEP_CTES = "".join(
    f"""
        r{i} AS (
            SELECT a.dst AS node,
                   {_PR_TELEPORT} + CAST(sum((r.pr * 85) // (100 * a.deg))
                       AS BIGINT) AS pr
            FROM adjd a JOIN r{i - 1} r ON r.node = a.src
            GROUP BY a.dst
        ),"""
    for i in range(1, _PR_ITERS + 1)
)

# Unrolled synchronous-LPA rounds: neighbor-label counts, then the
# (count DESC, label ASC) majority pick — the g2 unroll pattern
_LPA_STEP_CTES = "".join(
    f"""
        n{i} AS (
            SELECT a.dst AS node, l.label, count(*) AS n
            FROM adj a JOIN l{i - 1} l ON l.node = a.src
            GROUP BY a.dst, l.label
        ),
        l{i} AS (
            SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY n DESC, label) AS __r
                FROM n{i}
            ) WHERE __r = 1
        ),"""
    for i in range(1, _LPA_ITERS + 1)
)

# --------------------------------------------------------------------------
# X43 — cross-document duplicated-span fraction (exact-substring dedup
# signal, Lee et al. 2022, arXiv:2107.06499)
# --------------------------------------------------------------------------

#: span width in whitespace tokens.  Lee et al. use 50-BPE-token
#: spans over a suffix array; word 5-grams are the tractable
#: distributed surrogate — the signal (what fraction of a document is
#: verbatim-repeated elsewhere in the corpus) is the same.
_SPAN_N = 5


def _span_concat_sql(term: str) -> str:
    """The N-token span concat for the x43/x49 oracles, GENERATED from
    ``_SPAN_N`` (``term[i] || ' ' || term[i+1] || ...``) — a hardcoded
    5-term concat would silently hash different spans in the two
    engines if ``_SPAN_N`` ever moved (ADVICE r7)."""
    return " || ' ' || ".join(
        f"{term}[i]" if j == 0 else f"{term}[i+{j}]" for j in range(_SPAN_N)
    )


def x43_duplicate_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of token spans that appear verbatim in at
    least one OTHER document — the exact-substring duplication signal
    of Lee et al. ("Deduplicating Training Data Makes Language Models
    Better"): unlike MinHash (x2*) this scores partial/verbatim reuse
    inside otherwise-distinct documents, the case whole-doc dedup
    misses.  Complements x4g, which measures *in-document* repetition.

    Positions are retained (NO per-doc distinct): a doc that repeats a
    cross-corpus span 3 times has 3 duplicated spans, matching the
    token-coverage framing of the paper.

    Scale shape: tokenize ONCE behind a projection boundary, slice the
    materialized array (the O(tokens²) inlining rule); the corpus is
    exploded exactly ONCE — per-doc occurrence counts are grouped on
    (span, doc_id) with map-side partial aggregation, the distinct-doc
    count ``nd`` is then a count window over span on that already
    combined stream (one (span,doc) row per pair ≡ count DISTINCT
    doc), and the per-doc rollup is the final doc_id shuffle.  A
    join-back of a separate count aggregate would scan + explode the
    corpus twice (the dominant cost at 100 TB); the window form pays
    one extra small-stream exchange instead.  No suffix array needed:
    span-hash aggregation is embarrassingly parallel at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("__toks"))
    span = F.expr(
        f"""
        CASE WHEN size(__toks) >= {_SPAN_N}
             THEN transform(
                    sequence(0, size(__toks) - {_SPAN_N}),
                    i -> array_join(slice(__toks, i + 1, {_SPAN_N}), ' '))
             ELSE CAST(array() AS ARRAY<STRING>)
        END
        """
    )
    spans = toks.select("doc_id", F.explode(span).alias("span"))
    occ = spans.groupBy("span", "doc_id").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    # one row per (span, doc) ⇒ a plain count over the span window IS
    # the distinct-doc count, with no second pass over the corpus
    nd = F.count(F.lit(1)).over(Window.partitionBy("span"))
    return (
        occ.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, F.col("n_occ")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_spans"),
        )
        # one double division of two exact ints — bit-identical in
        # both engines (the no-round() rule)
        .withColumn("dup_frac", F.col("n_dup_spans") / F.col("n_spans"))
    )


# --------------------------------------------------------------------------
# X44 — DSIR hashed-unigram importance weights (Xie et al. 2023,
# arXiv:2302.03169)
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 64


def x44_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling: score every document
    by how target-like its hashed-unigram distribution is —
    ``score(doc) = Σ_b c_b(doc) · (log p_target(b) − log p_raw(b))``
    with the English subset as the target distribution.  High scores
    select raw data that looks like the target domain; the canonical
    pretraining-mixture curation op.

    Determinism: the log-ratio uses the shared integer surrogate
    ``length(bin(x)) = floor(log2 x)+1`` (the a22/x36 no-libm rule),
    so the whole score is exact int64 arithmetic — bit-identical
    cross-engine.  Buckets come from the portable 48-bit md5 hash
    (``_h48 % 64``), matching x39's hashing-trick construction.

    Scale shape: one token explode; one (doc, bucket) partial-agg
    shuffle; the global bucket table is 64 rows BY CONSTRUCTION
    (dimensionality-bounded, like x39) and BROADCAST to the per-doc
    counts — no second big shuffle.  Both distributions come from ONE
    aggregation over the token stream (target is a conditional sum,
    not a second scan).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("token"),
    )
    b = toks.select(
        "doc_id", "lang", (_h48("token") % _DSIR_BUCKETS).alias("bucket")
    )
    doc_counts = b.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    glob = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tgt_n"),
    )

    def _blog(col: F.Column) -> F.Column:
        return F.length(F.bin(col))

    deltas = glob.select(
        "bucket",
        (_blog(F.col("tgt_n") + 1) - _blog(F.col("raw_n") + 1))
        .cast("bigint")
        .alias("delta"),
    )
    return (
        doc_counts.join(F.broadcast(deltas), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("delta"))
            .cast("bigint")
            .alias("dsir_score"),
            F.sum("c").cast("bigint").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# X46 — deterministic stratified mixture sampling (the resampling step
# of a pretraining-mixture pipeline: DSIR/Pile-style per-source rates)
# --------------------------------------------------------------------------

#: per-language keep rates in basis points (of 10 000): downsample the
#: over-represented head language, keep the tail.  A real pipeline
#: feeds this spec from a mixture planner; the mechanism under test is
#: the deterministic hash-threshold Bernoulli + broadcast spec join.
_MIX_RATES_BP: dict[str, int] = {
    "en": 5000, "de": 8000, "fr": 8000, "es": 8000, "zh": 8000,
}

_MIX_SEED = "mix1"


def x46_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling: keep a document iff
    ``hash(seed, doc_id) % 10000 < rate_bp(lang)`` against a
    per-language mixture spec — the resampling step that turns
    importance scores (x44) or a mixture plan into an actual training
    subset.  Hash-threshold Bernoulli (not ``TABLESAMPLE``/``rand()``)
    so the sample is reproducible across engines, runs, and
    partitionings, and composable: tightening a rate yields a strict
    subset of the previous sample.

    Scale shape: one corpus scan, the spec is a broadcast literal
    table (real specs run to thousands of sources — a join, not a
    CASE chain), filter evaluated map-side — ZERO data shuffles; at
    100 TB this is a pure streaming pass.  Hash is the portable
    md5-prefix idiom (`_h48`), bit-identical in DuckDB.
    """
    docs = load_table(spark, sf_dir, "documents")
    spec = F.broadcast(
        spark.createDataFrame(
            sorted(_MIX_RATES_BP.items()), "lang string, rate_bp int"
        )
    )
    h = _h48(f"concat('{_MIX_SEED}:', CAST(doc_id AS STRING))")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            (h % 10000).alias("__u"),
        )
        .join(spec, "lang")
        .where(F.col("__u") < F.col("rate_bp"))
        .select("doc_id", "lang", "n_tokens")
    )


# --------------------------------------------------------------------------
# X56 — end-to-end curation materialization (the full decision stack)
# --------------------------------------------------------------------------

def x56_curation_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed per-document curation VERDICT — every decision
    layer the x-family ships, materialized in one pipeline (the x16
    pattern at the full r6-r7 stack):

    1. quality gates — repetition (x4g thresholds) AND length/stopword
       (x4c), in-row on one documents scan;
    2. semantic dedup — the x45 SemDeDup keep flag, joined on
       ``doc_id = vec_id`` (docs without an embedding carry no semantic
       evidence and default to kept);
    3. exact-substring rewrite — the x49 removal manifest (docs with no
       spans are trivially fully retained);
    4. mixture sampling — the x46 hash-threshold Bernoulli per-language
       spec.

    Output per doc: every signal plus one ``verdict`` — the first
    failing layer wins (``drop_quality`` > ``drop_semdup`` >
    ``drop_sampled``), a surviving doc with removed spans is
    ``rewrite``, else ``keep``.  This is the row a training-data loader
    consumes.

    Scale shape: signals/sampling are narrow; the only shuffles are the
    stacked stages' own (x49's two span windows, x45's kmeans + pair
    join on the EMBEDDINGS table, two doc_id-keyed joins and one
    broadcast spec join) — the composition adds joins, not new
    wide stages; tests/test_plans.py pins the total exchange count.
    The DuckDB oracle splices the x45 and x49 oracle texts verbatim as
    CTEs (one definition per stage on BOTH sides)."""
    from data_engineer_project_weather_analytics_spark.plans import extensions

    return _curation_materialize(spark, sf_dir, extensions.x45_semdedup_keep)


def x56_curation_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment form of x56: the identical composed verdict with the
    semantic-dedup stage routed through the auto-k two-level
    x45_semdedup_auto instead of the fixed oracle k — the form whose
    embedded pair stream stays linear as the corpus grows (the x45
    fixed-vs-auto scale argument, lifted to the composition).
    Rows-only by necessity (k depends on a runtime ``count()``), but
    registered so the deployment composition is schema/row-count
    guarded; its 10×/100×/1000× wall-clock carries the
    ``semdedup_auto_work`` accounting in BENCH_SCALE.json (the
    embedded auto SemDeDup dominates; every other stage is
    input-linear)."""
    from data_engineer_project_weather_analytics_spark.plans import extensions

    return _curation_materialize(spark, sf_dir, extensions.x45_semdedup_auto)


def x59_ingest_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The steady-state composed verdict — x56's composition applied
    to the INGESTION TRIAD: every incremental decision layer for an
    INCOMING batch probed against the EXISTING corpus, one row per
    batch document (x56 is the bootstrap curation of a whole corpus;
    this is every day after):

    1. quality gates — repetition (x4g) AND length/stopword (x4c),
       in-row on the batch slice only (filter pushed below the
       signal computation);
    2. exact dedup — the x1b fingerprint anti-join survivors (a batch
       doc absent from x1b's output is already in the corpus, or a
       smaller batch id owns its fingerprint);
    3. near-dedup — the x53 MinHash-LSH probe verdicts, aggregated per
       batch doc (neighbor count + best Jaccard);
    4. semantic dedup — the x54 incremental SemDeDup keep flag, joined
       on ``doc_id = vec_id`` (no embedding ⇒ no semantic evidence ⇒
       kept, the x56 rule);
    5. mixture sampling — the x46 hash-threshold Bernoulli spec.

    Verdict precedence: ``drop_quality`` > ``drop_exact`` >
    ``drop_neardup`` > ``drop_semdup`` > ``drop_sampled`` > ``keep``
    — cheapest-evidence-first, matching what a production pipeline
    would short-circuit.  This is the row a streaming ingestion
    pipeline consumes; its stream twin is the stateful probe
    (streaming/stateful.py) fed by the same decision layers.

    Scale shape: each stage keeps its own bench_scale-audited plan
    (fingerprint anti-join moves no text; LSH probe crosses kept
    buckets only; the semantic probe shuffles by cell only); the
    composition adds doc_id-keyed joins plus one broadcast spec — no
    new wide stages.  The DuckDB oracle splices the x1b, x53 and x54
    oracle STATEMENTS verbatim as CTE bodies (one definition per
    stage on both sides, the x56 recipe)."""
    from data_engineer_project_weather_analytics_spark.plans import extensions

    return _ingest_curation(spark, sf_dir, extensions.x54_incremental_semdedup)


def x59_ingest_curation_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment form of x59: the identical composed ingest verdict
    with the semantic stage routed through the auto-k two-level
    x54_incremental_semdedup_auto instead of the fixed oracle k — the
    x56_auto policy applied to the steady-state ingestion path, so the
    embedded probe's cells stay ~250 vectors wide and its verify
    stream linear as the corpus grows (the fixed-k probe is the
    demoted 100× scale-killer: at 200 k vectors its k=8 cells are
    ~20 k wide).  Rows-only by necessity (k depends on a runtime
    ``count()``), but pinned row-for-row against the oracle-checked
    fixed twin on every non-semantic column
    (test_x59_auto_agrees_with_fixed_on_non_semantic_columns); its
    10×/100× wall-clock carries the ``semdedup_inc_auto_work``
    accounting in BENCH_SCALE.json (the embedded auto probe dominates;
    quality/x1b/x53/sampling are input-linear)."""
    from data_engineer_project_weather_analytics_spark.plans import extensions

    return _ingest_curation(
        spark, sf_dir, extensions.x54_incremental_semdedup_auto
    )


def x60_ingest_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language curation FUNNEL over the x59 ingest verdicts — the
    daily observability report a production ingestion pipeline
    publishes next to the data it admits: batch size, per-stage drop
    counts (verdict precedence IS stage attribution: each doc counts
    against the first stage that dropped it, so the columns partition
    ``n_docs`` exactly — pinned by pytest), the kept count, and the
    keep rate in integer basis points (``n_keep·10⁴ DIV n_docs`` —
    exact integer arithmetic, the no-float-division rule for checked
    outputs).

    Scale shape: ONE hash-aggregate over x59's output keyed by lang —
    output cardinality = |languages|, partial-agg map-side combinable;
    adds zero wide stages to the x59 plan it composes.  The DuckDB
    oracle splices the x59 STATEMENT verbatim as a CTE (one verdict
    definition on both sides — the x56/x59 recipe)."""
    v = x59_ingest_curation(spark, sf_dir)

    def cnt(name: str):
        return (
            F.sum(F.when(F.col("verdict") == name, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{name}")
        )

    return (
        v.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt("drop_quality"),
            cnt("drop_exact"),
            cnt("drop_neardup"),
            cnt("drop_semdup"),
            cnt("drop_sampled"),
            cnt("keep"),
        )
        .select(
            "lang",
            "n_docs",
            "n_drop_quality",
            "n_drop_exact",
            "n_drop_neardup",
            "n_drop_semdup",
            "n_drop_sampled",
            F.col("n_keep"),
            F.expr("n_keep * 10000 DIV n_docs").alias("keep_bp"),
        )
    )


def _ingest_curation(spark, sf_dir, sem_fn):
    """Shared body of x59 / x59_auto — ``sem_fn`` supplies the
    incremental SemDeDup probe (fixed oracle k or the auto-k
    deployment twin, both emitting the _probe_keep row); everything
    else is identical (the _curation_materialize recipe)."""
    from data_engineer_project_weather_analytics_spark.operators import text
    from data_engineer_project_weather_analytics_spark.plans import extensions

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(text.deterministic_split("doc_id") == "test")
    sig = text.repetition_signals(batch, "doc_id", "text", keep=("lang", "text"))
    quality = sig.select(
        "doc_id",
        "lang",
        (F.col("rep_pass") & text.quality_flag("text")).alias("quality_pass"),
        (
            _h48(f"concat('{_MIX_SEED}:', CAST(doc_id AS STRING))") % 10000
        ).alias("__u"),
    )
    ex = extensions.x1b_incremental_dedup(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("__ex_kept")
    )
    nd = (
        extensions.x53_incremental_neardup(spark, sf_dir)
        .groupBy("batch_doc_id")
        .agg(
            F.count(F.lit(1)).alias("__n_near"),
            F.max("jaccard").alias("__best_j"),
        )
        .select(F.col("batch_doc_id").alias("doc_id"), "__n_near", "__best_j")
    )
    sem = sem_fn(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.col("kept").alias("__sem_kept"),
        F.col("best_sim").alias("__best_sim"),
    )
    spec = F.broadcast(
        spark.createDataFrame(
            sorted(_MIX_RATES_BP.items()), "lang string, rate_bp int"
        )
    )
    j = (
        quality.join(spec, "lang")
        .join(ex, "doc_id", "left")
        .join(nd, "doc_id", "left")
        .join(sem, "doc_id", "left")
    )
    exact_kept = F.coalesce("__ex_kept", F.lit(0)).cast("int")
    n_near = F.coalesce("__n_near", F.lit(0)).cast("bigint")
    semantic_kept = F.coalesce("__sem_kept", F.lit(1)).cast("int")
    sampled = F.col("__u") < F.col("rate_bp")
    verdict = (
        F.when(~F.col("quality_pass"), F.lit("drop_quality"))
        .when(exact_kept == 0, F.lit("drop_exact"))
        .when(n_near > 0, F.lit("drop_neardup"))
        .when(semantic_kept == 0, F.lit("drop_semdup"))
        .when(~sampled, F.lit("drop_sampled"))
        .otherwise(F.lit("keep"))
    )
    return j.select(
        "doc_id",
        "lang",
        "quality_pass",
        exact_kept.alias("exact_kept"),
        n_near.alias("n_near"),
        F.col("__best_j").alias("best_jaccard"),
        semantic_kept.alias("semantic_kept"),
        F.col("__best_sim").alias("best_sim"),
        "rate_bp",
        sampled.alias("sampled"),
        verdict.alias("verdict"),
    )


def _curation_materialize(spark, sf_dir, sem_fn):
    """Shared body of x56 / x56_auto — ``sem_fn`` supplies the
    SemDeDup keep stage (fixed oracle k or the auto-k deployment
    twin); everything else is identical."""
    from data_engineer_project_weather_analytics_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    sig = text.repetition_signals(docs, "doc_id", "text", keep=("lang", "text"))
    quality = sig.select(
        "doc_id",
        "lang",
        (F.col("rep_pass") & text.quality_flag("text")).alias("quality_pass"),
        (
            _h48(f"concat('{_MIX_SEED}:', CAST(doc_id AS STRING))") % 10000
        ).alias("__u"),
    )
    sem = sem_fn(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("kept").alias("__sem_kept")
    )
    manifest = x49_span_dedup_rewrite(spark, sf_dir).select(
        "doc_id",
        F.col("removed_occ").alias("__rm_occ"),
        F.col("retained_frac").alias("__rf"),
    )
    spec = F.broadcast(
        spark.createDataFrame(
            sorted(_MIX_RATES_BP.items()), "lang string, rate_bp int"
        )
    )
    j = (
        quality.join(spec, "lang")
        .join(sem, "doc_id", "left")
        .join(manifest, "doc_id", "left")
    )
    semantic_kept = F.coalesce("__sem_kept", F.lit(1)).cast("int")
    removed_occ = F.coalesce("__rm_occ", F.lit(0)).cast("bigint")
    sampled = F.col("__u") < F.col("rate_bp")
    verdict = (
        F.when(~F.col("quality_pass"), F.lit("drop_quality"))
        .when(semantic_kept == 0, F.lit("drop_semdup"))
        .when(~sampled, F.lit("drop_sampled"))
        .when(removed_occ > 0, F.lit("rewrite"))
        .otherwise(F.lit("keep"))
    )
    return j.select(
        "doc_id",
        "lang",
        "quality_pass",
        semantic_kept.alias("semantic_kept"),
        removed_occ.alias("removed_occ"),
        F.coalesce("__rf", F.lit(1.0)).alias("retained_frac"),
        "rate_bp",
        sampled.alias("sampled"),
        verdict.alias("verdict"),
    )


# --------------------------------------------------------------------------
# X48 — training-sequence packing layout (GPT-style concat-and-chop)
# --------------------------------------------------------------------------

#: training sequence length in tokens.  Documents average ~50 tokens,
#: so most pack whole into one sequence and a minority straddle a
#: boundary — both branches of the layout arithmetic get exercised.
_PACK_SEQ_LEN = 512


def x48_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic packing layout for LM training: concatenate the
    corpus token stream in doc_id order and chop it into fixed
    ``_PACK_SEQ_LEN``-token sequences; emit, per document, its global
    start offset, the sequence it starts in, and how many sequences it
    straddles — the metadata a loader needs to materialize packed
    batches (and the attention-mask bookkeeping for boundary docs).

    The layout is a pure function of the global running token count,
    so the whole op is the distributed prefix-sum substrate
    (operators/prefix_sum.py — range-repartition, parallel local
    cumsums, a parallelism-sized offset table) plus in-row integer
    arithmetic: NO single-reducer window over the corpus, the scale
    trap a naive ``Window.orderBy`` would plan.  Every output is exact
    int64, bit-identical to a single-node window oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    cum = distributed_cumsum(toks, ["doc_id"], "n_tokens", "cum_tokens")
    start = F.col("cum_tokens") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        start.alias("start_offset"),
        F.expr(f"(cum_tokens - n_tokens) DIV {_PACK_SEQ_LEN}").alias(
            "start_seq"
        ),
        F.expr(
            f"(cum_tokens - 1) DIV {_PACK_SEQ_LEN}"
            f" - (cum_tokens - n_tokens) DIV {_PACK_SEQ_LEN} + 1"
        )
        .cast("bigint")
        .alias("n_seqs_spanned"),
    )


# --------------------------------------------------------------------------
# X49 — exact-substring dedup REWRITE (Lee et al. removal semantics)
# --------------------------------------------------------------------------

#: combined (doc_id, pos) ordering key: pos < 2^20 tokens per document
#: (docs average ~50 tokens; 2^20 leaves doc_id ≈ 8.8e12 headroom).
#: A document large enough to overflow the packing fails LOUDLY — the
#: span explode in x49 raise_error()s on any doc whose max pos would
#: reach this shift, instead of silently reordering keys (ADVICE r7).
_SPAN_KEY_SHIFT = 1 << 20


def x49_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup *removal* layout (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): x43 measures the
    duplicated-span fraction; this op decides WHAT to cut.  Every
    ``_SPAN_N``-token span occurrence that is not the corpus-global
    first occurrence of its span (first = smallest (doc_id, pos)) is
    marked removed; the output is the per-document rewrite manifest —
    total tokens, removed occurrences, and the number of tokens covered
    by at least one removed span (the union of overlapping length-N
    intervals), plus the retained fraction a loader applies.

    Scale shape — the corpus is tokenized and exploded exactly ONCE,
    and the interval union costs NO extra explode or distinct: because
    all spans have equal length N, the union length per document is
    ``Σ min(N, pos_i − prev_removed_pos)`` over removed occurrences in
    position order, computed with one ignore-nulls running-last window.
    Two shuffles total: the span-hash window (count + global-min key,
    both streaming aggregates — no sort) and the per-document window,
    whose partitioning the final groupBy(doc_id) reuses.  Spans travel
    as 48-bit md5 hashes (`_h48` idiom), not strings — constant-width
    shuffle rows at 100 TB.  A naive form would explode the N covered
    token indices per removed occurrence and count DISTINCT (doc, idx):
    N× the shuffle volume plus a distinct — the gap form is exact for
    equal-length intervals and linear.

    Documents with fewer than ``_SPAN_N`` tokens have no spans and are
    trivially fully retained; they are omitted (same domain as x43).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("__toks"))
    # fail LOUDLY on a document whose max span position would overflow
    # the (doc_id, pos) packing (ADVICE r7: a >1 M-token doc would
    # otherwise silently corrupt the global first-occurrence ordering
    # and keep the WRONG span) — one integer compare per document,
    # raise_error only on the poisoned branch
    span_structs = F.expr(
        f"""
        CASE WHEN size(__toks) - {_SPAN_N} >= {_SPAN_KEY_SHIFT}
             THEN raise_error(concat(
                      'x49: document exceeds the ', '{_SPAN_KEY_SHIFT}',
                      '-token span-key capacity (pos would overflow the ',
                      '(doc_id, pos) packing) - split the document first'))
             WHEN size(__toks) >= {_SPAN_N}
             THEN transform(
                    sequence(0, size(__toks) - {_SPAN_N}),
                    i -> named_struct(
                        'pos', CAST(i AS BIGINT),
                        'spanh', CAST(conv(substring(md5(
                            array_join(slice(__toks, i + 1, {_SPAN_N}), ' ')
                        ), 1, 12), 16, 10) AS BIGINT)))
             ELSE CAST(array() AS ARRAY<STRUCT<pos: BIGINT, spanh: BIGINT>>)
        END
        """
    )
    occ = toks.select(
        "doc_id", F.explode(span_structs).alias("o")
    ).select("doc_id", F.col("o.pos").alias("pos"), F.col("o.spanh").alias("spanh"))

    ws = Window.partitionBy("spanh")
    key = F.col("doc_id") * _SPAN_KEY_SHIFT + F.col("pos")
    flagged = occ.select(
        "doc_id",
        "pos",
        (
            (F.count(F.lit(1)).over(ws) >= 2) & (key != F.min(key).over(ws))
        ).alias("rm"),
    )

    wd = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev = F.last(F.when(F.col("rm"), F.col("pos")), ignorenulls=True).over(wd)
    contrib = F.when(
        F.col("rm"),
        F.least(
            F.lit(_SPAN_N),
            F.col("pos") - F.coalesce(prev, F.col("pos") - _SPAN_N),
        ),
    ).otherwise(F.lit(0))
    n_tokens = (F.count(F.lit(1)) + (_SPAN_N - 1)).cast("bigint")
    return (
        flagged.withColumn("c", contrib)
        .groupBy("doc_id")
        .agg(
            n_tokens.alias("n_tokens"),
            F.sum(F.col("rm").cast("int")).cast("bigint").alias("removed_occ"),
            F.sum("c").cast("bigint").alias("removed_tokens"),
        )
        # one double division of two exact ints (the no-round rule)
        .withColumn(
            "retained_frac",
            (F.col("n_tokens") - F.col("removed_tokens")) / F.col("n_tokens"),
        )
    )


#: oracle twins of eligible_basket_items / copurchase_edges /
#: copurchase_adjacency — ONE definition on the SQL side as well, so
#: the five co-purchase oracles (g1/g2/g3 here and in lakeops,
#: mb1/mb2 in lakeops) can never drift from each other
SQL_BASKET_ELIGIBLE_CTE = """items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        sizes AS (
            SELECT l_orderkey, count(*) AS n_items
            FROM items GROUP BY l_orderkey
        ),
        eligible AS (
            SELECT i.l_orderkey, i.l_partkey
            FROM items i JOIN sizes s USING (l_orderkey)
            WHERE s.n_items BETWEEN 2 AND 10
        )"""

SQL_COPURCHASE_EDGES_CTE = SQL_BASKET_ELIGIBLE_CTE + """,
        edges AS (
            SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
            FROM eligible a
            JOIN eligible b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )"""

SQL_COPURCHASE_ADJ_CTE = SQL_COPURCHASE_EDGES_CTE + """,
        adj AS (
            SELECT p1 AS src, p2 AS dst FROM edges
            UNION ALL SELECT p2, p1 FROM edges
        )"""

#: rows-only registrations (k depends on a runtime count() — the
#: x45_semdedup_auto precedent, applied to the composed verdict)
NO_ORACLE = {
    "x56_curation_auto": x56_curation_auto,
    "x59_ingest_curation_auto": x59_ingest_curation_auto,
}

ORACLES_CORPUS: dict[str, str] = {
    # positions retained (no DISTINCT in sp); dup = span in >=2 docs;
    # dup_frac is one double division of exact ints (no-round rule)
    "x43_duplicate_span_fraction": f"""
        WITH sp AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(
                           1, greatest(len(string_split(text, ' '))
                                       - {_SPAN_N - 1}, 0)),
                       i -> {_span_concat_sql("string_split(text, ' ')")})) AS span
            FROM documents
        ),
        cnt AS (
            SELECT span, count(DISTINCT doc_id) AS nd
            FROM sp GROUP BY span
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS dup_frac
        FROM sp JOIN cnt USING (span)
        GROUP BY doc_id
    """,
    # removal = not the corpus-global first (doc_id, pos) of the span;
    # interval union per doc = Σ min(N, gap to previous removed pos)
    # (exact for equal-length spans); spans travel as 48-bit md5 ints
    "x49_span_dedup_rewrite": f"""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   greatest(len(string_split(text, ' ')) - {_SPAN_N - 1},
                            0) AS m
            FROM documents
        ),
        occ AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, m),
                       i -> CAST(i - 1 AS BIGINT))) AS pos,
                   unnest(list_transform(generate_series(1, m),
                       i -> ('0x' || substr(md5({_span_concat_sql("t")}),
                             1, 12))::BIGINT)) AS spanh
            FROM base
        ),
        flagged AS (
            SELECT doc_id, pos,
                   (count(*) OVER (PARTITION BY spanh) >= 2
                    AND doc_id * {_SPAN_KEY_SHIFT} + pos
                        <> min(doc_id * {_SPAN_KEY_SHIFT} + pos)
                               OVER (PARTITION BY spanh)) AS rm
            FROM occ
        ),
        contrib AS (
            SELECT doc_id, rm,
                   CASE WHEN rm THEN least({_SPAN_N}, pos - coalesce(
                       last_value(CASE WHEN rm THEN pos END IGNORE NULLS)
                           OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING),
                       pos - {_SPAN_N}))
                   ELSE 0 END AS c
            FROM flagged
        )
        SELECT doc_id,
               CAST(count(*) + {_SPAN_N - 1} AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
                   AS removed_occ,
               CAST(sum(c) AS BIGINT) AS removed_tokens,
               CAST(count(*) + {_SPAN_N - 1} - sum(c) AS DOUBLE)
                   / (count(*) + {_SPAN_N - 1}) AS retained_frac
        FROM contrib GROUP BY doc_id
    """,
    # blog = length(bin(x)) = floor(log2 x)+1, the shared no-libm
    # surrogate; bucket = portable 48-bit md5 hash % 64 (x39 idiom)
    "x44_dsir_importance": f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(token), 1, 12))::BIGINT
                       % {_DSIR_BUCKETS} AS bucket
            FROM (
                SELECT doc_id, lang,
                       unnest(string_split(text, ' ')) AS token
                FROM documents
            )
        ),
        doc_counts AS (
            SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY doc_id, bucket
        ),
        gstats AS (
            SELECT bucket,
                   CAST(count(*) AS BIGINT) AS raw_n,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS tgt_n
            FROM toks GROUP BY bucket
        ),
        deltas AS (
            SELECT bucket,
                   CAST(length(bin(tgt_n + 1)) AS BIGINT)
                   - CAST(length(bin(raw_n + 1)) AS BIGINT) AS delta
            FROM gstats
        )
        SELECT doc_id,
               CAST(sum(c * delta) AS BIGINT) AS dsir_score,
               CAST(sum(c) AS BIGINT) AS n_tokens
        FROM doc_counts JOIN deltas USING (bucket)
        GROUP BY doc_id
    """,
    # hash-threshold Bernoulli: portable 48-bit md5 prefix, same seed
    # string — the kept set must be bit-identical across engines
    "x46_mixture_sample": f"""
        WITH spec(lang, rate_bp) AS (VALUES {", ".join(
            f"('{lang}', {bp})" for lang, bp in sorted(_MIX_RATES_BP.items())
        )})
        SELECT d.doc_id, d.lang,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM documents d JOIN spec s ON s.lang = d.lang
        WHERE ('0x' || substr(md5('{_MIX_SEED}:' ||
                   CAST(d.doc_id AS VARCHAR)), 1, 12))::BIGINT
              % 10000 < s.rate_bp
    """,
    # single-node window cumsum is legitimate on the oracle side
    # (DuckDB is one node anyway); partition-invariance of the
    # distributed prefix sum makes the formulations equal.  sum() in a
    # DuckDB window is HUGEINT → CAST to BIGINT (r2 rule); offsets are
    # non-negative so // (trunc) ≡ Spark DIV (floor).
    "x48_sequence_packing": f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS cum_tokens
            FROM toks
        )
        SELECT doc_id, n_tokens,
               cum_tokens - n_tokens AS start_offset,
               (cum_tokens - n_tokens) // {_PACK_SEQ_LEN} AS start_seq,
               CAST((cum_tokens - 1) // {_PACK_SEQ_LEN}
                    - (cum_tokens - n_tokens) // {_PACK_SEQ_LEN} + 1
                    AS BIGINT) AS n_seqs_spanned
        FROM cum
    """,
    "g3_label_propagation": f"""
        WITH {SQL_COPURCHASE_ADJ_CTE},
        l0 AS (
            SELECT DISTINCT a.src AS node, p.p_brand AS label
            FROM adj a JOIN part p ON p.p_partkey = a.src
        ),{_LPA_STEP_CTES}
        hist AS (
            SELECT label, CAST(count(*) AS BIGINT) AS n_nodes
            FROM l{_LPA_ITERS} GROUP BY label
        )
        SELECT label, n_nodes FROM hist ORDER BY n_nodes DESC, label
    """,
    "x40_domain_mixing": """
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        per_src AS (
            SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM toks GROUP BY source
        ),
        tot AS (
            SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
                   CAST(count(*) AS BIGINT) AS n_sources
            FROM per_src
        ),
        rates AS (
            SELECT source, n_docs, src_tokens,
                   (total_tokens // n_sources) * 1000000 // src_tokens
                       AS rate_ppm
            FROM per_src CROSS JOIN tot
        ),
        copies AS (
            SELECT r.source, r.n_docs, r.src_tokens, r.rate_ppm,
                   t.n_tokens,
                   rate_ppm // 1000000
                   + CASE WHEN ('0x' || substr(md5(
                                CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT
                              * 1000000
                              < (rate_ppm % 1000000) * 4294967296
                          THEN 1 ELSE 0 END AS n_copies
            FROM toks t JOIN rates r USING (source)
        ),
        report AS (
            SELECT source, n_docs, src_tokens, rate_ppm,
                   CAST(sum(CASE WHEN n_copies > 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS kept_docs,
                   CAST(sum(n_copies) AS BIGINT) AS emitted_docs,
                   CAST(sum(n_copies * n_tokens) AS BIGINT)
                       AS emitted_tokens
            FROM copies
            GROUP BY source, n_docs, src_tokens, rate_ppm
        ),
        grand AS (
            SELECT CAST(sum(emitted_tokens) AS BIGINT) AS grand_tokens
            FROM report
        )
        SELECT source, n_docs, src_tokens, rate_ppm, kept_docs,
               emitted_docs, emitted_tokens,
               emitted_tokens * 1000000 // grand_tokens AS share_ppm
        FROM report CROSS JOIN grand ORDER BY source
    """,
    "x41_weighted_sample": f"""
        SELECT doc_id, source, n_chars,
               n_chars * 4294967296
                   // (('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 8))::BIGINT + 1) AS priority_q
        FROM documents
        ORDER BY priority_q DESC, doc_id
        LIMIT {_WS_K}
    """,
    "a25_kmv_distinct": f"""
        WITH hashes AS (
            SELECT DISTINCT
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
                       ::BIGINT AS h
            FROM events
        ),
        bottom AS (
            SELECT h FROM hashes ORDER BY h LIMIT {_KMV_K}
        ),
        sk AS (
            SELECT CAST(count(*) AS BIGINT) AS k_used,
                   max(h) AS h_k
            FROM bottom
        ),
        exact AS (
            SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
            FROM events
        ),
        est AS (
            SELECT n_exact, k_used AS kmv_k,
                   CASE WHEN k_used < {_KMV_K} THEN k_used
                        ELSE ((k_used - 1) * {_H48}) // h_k END AS kmv_est,
                   CASE WHEN k_used < {_KMV_K} THEN 0 ELSE 1 END
                       AS sketch_full
            FROM exact CROSS JOIN sk
        )
        SELECT n_exact, kmv_k, kmv_est, sketch_full,
               abs(kmv_est - n_exact) * 1000000 // n_exact AS err_ppm
        FROM est
    """,
    "o4_pareto_cumshare": """
        WITH spend AS (
            SELECT o_custkey,
                   CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                       AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM spend),
        c AS (
            SELECT o_custkey, cents,
                   CAST(sum(cents) OVER (
                       ORDER BY cents DESC, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_cents
            FROM spend
        )
        SELECT o_custkey, cents, cum_cents,
               cum_cents * 10000 // total AS cum_bp,
               CAST((cum_cents - cents) * 5 < total * 4 AS BIGINT)
                   AS in_top80
        FROM c CROSS JOIN tot
    """,
    "w14_seasonal_backtest": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        joined AS (
            SELECT a.event_type, a.n, p.n AS n_pred
            FROM daily a
            JOIN daily p ON p.event_type = a.event_type
                        AND p.day + 7 = a.day
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(abs(n - n_pred)) AS BIGINT) AS total_abs_err,
               CAST(sum(abs(n - n_pred)) AS BIGINT) * 1000000
                   // CAST(count(*) AS BIGINT) AS mae_ppm
        FROM joined GROUP BY event_type
    """,
    "x39_feature_hashing": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        vals AS (
            SELECT doc_id,
                   ('0x' || substr(md5(token), 1, 12))::BIGINT
                       % {_FH_BUCKETS} AS bucket,
                   CAST(sum(CASE WHEN substr(md5(token), 13, 1) IN
                       ('8','9','a','b','c','d','e','f')
                       THEN 1 ELSE -1 END) AS BIGINT) AS v
            FROM toks GROUP BY doc_id, bucket
        ),
        nz AS (SELECT * FROM vals WHERE v <> 0)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS nnz,
               CAST(sum(v * v) AS BIGINT) AS norm2,
               string_agg(CAST(bucket AS VARCHAR) || ':'
                          || CAST(v AS VARCHAR), ' '
                          ORDER BY bucket) AS vec
        FROM nz GROUP BY doc_id
    """,
    "dq5_benford_deviation": f"""
        WITH digits AS (
            SELECT TRY_CAST(substring(CAST(abs(CAST(CAST(o_totalprice AS
                       DECIMAL(12,2)) * 100 AS BIGINT)) AS VARCHAR), 1, 1)
                       AS INTEGER) AS digit
            FROM orders
        ),
        counts AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
            FROM digits WHERE digit BETWEEN 1 AND 9 GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM counts)
        SELECT digit, n_obs,
               n_obs * 1000000 // n_total AS obs_ppm,
               CAST(floor(({_BENFORD_CASE}) * 1000000) AS BIGINT)
                   AS benford_ppm,
               CAST(floor((CAST(n_obs AS DOUBLE)
                   - ({_BENFORD_CASE}) * CAST(n_total AS DOUBLE))
                   * (CAST(n_obs AS DOUBLE)
                   - ({_BENFORD_CASE}) * CAST(n_total AS DOUBLE))
                   / (({_BENFORD_CASE}) * CAST(n_total AS DOUBLE))
                   * 10000) AS BIGINT) AS chi2_q
        FROM counts CROSS JOIN tot
    """,
    "x37_containment_pairs": f"""
        WITH ds AS ({_SHINGLES}),
        sigs AS (
            SELECT doc_id, CAST(band AS INTEGER) AS band,
                   min(substr(md5(shingle) || md5(shingle || '#'),
                              8 * band + 1, 8)) AS minhash
            FROM ds CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) b
            GROUP BY doc_id, band
        ),
        ok_buckets AS ({_OK_BUCKETS}),
        candidates AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sigs a
            JOIN sigs b ON a.band = b.band AND a.minhash = b.minhash
            JOIN ok_buckets ob ON ob.band = a.band AND ob.minhash = a.minhash
            WHERE a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS set_size FROM ds GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_inter
            FROM candidates c
            JOIN ds a ON a.doc_id = c.id_a
            JOIN ds b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b, n_inter,
               CAST(n_inter AS DOUBLE) / sa.set_size AS cont_a,
               CAST(n_inter AS DOUBLE) / sb.set_size AS cont_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / sa.set_size >= 0.5
           OR CAST(n_inter AS DOUBLE) / sb.set_size >= 0.5
    """,
    "x38_prefix_filter_neardup": f"""
        WITH ds AS ({_SHINGLES}),
        dftok AS (
            SELECT shingle, CAST(count(*) AS BIGINT) AS __df
            FROM ds GROUP BY shingle
        ),
        ranked AS (
            SELECT ds.doc_id, ds.shingle,
                   row_number() OVER (PARTITION BY ds.doc_id
                                      ORDER BY d.__df, ds.shingle) AS __rn,
                   count(*) OVER (PARTITION BY ds.doc_id) AS __n
            FROM ds JOIN dftok d USING (shingle)
        ),
        prefix AS (
            SELECT doc_id, shingle FROM ranked
            WHERE __rn <= __n - ((70 * __n + 99) // 100) + 1
        ),
        candidates AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM prefix a
            JOIN prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS set_size FROM ds GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_inter
            FROM candidates c
            JOIN ds a ON a.doc_id = c.id_a
            JOIN ds b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b,
               CAST(n_inter AS DOUBLE) /
                   (sa.set_size + sb.set_size - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) /
                  (sa.set_size + sb.set_size - n_inter) >= 0.7
    """,
    "j12_scd2_pit_join": f"""
        WITH dim AS ({ORACLES_ANALYTICS["scd2_user_state"]}),
        horizon AS (
            SELECT max(ts) + INTERVAL 1 MICROSECOND AS h FROM events
        ),
        p AS (
            SELECT user_id, event_id, ts FROM events
            WHERE event_type = 'purchase'
        )
        SELECT p.user_id, p.event_id, p.ts, d.state, d.version
        FROM p JOIN dim d
          ON d.user_id = p.user_id
         AND p.ts >= d.valid_from
         AND p.ts < coalesce(d.valid_to, (SELECT h FROM horizon))
    """,
    "dq4_chisq_drift": """
        WITH d AS (
            SELECT event_type, CAST(ts AS DATE) AS day FROM events
        ),
        split AS (SELECT min(day) + 15 AS s FROM d),
        counted AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN day < (SELECT s FROM split)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                   CAST(sum(CASE WHEN day >= (SELECT s FROM split)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_curr
            FROM d GROUP BY event_type
        ),
        totals AS (
            SELECT CAST(sum(n_base) AS BIGINT) AS t_base,
                   CAST(sum(n_curr) AS BIGINT) AS t_curr
            FROM counted
        )
        SELECT event_type, n_base, n_curr,
               CASE WHEN n_base > 0 THEN CAST(floor(
                   CAST(n_curr * t_base - n_base * t_curr AS DOUBLE)
                   * CAST(n_curr * t_base - n_base * t_curr AS DOUBLE)
                   / (CAST(n_base AS DOUBLE) * CAST(t_base AS DOUBLE)
                      * CAST(t_curr AS DOUBLE)) * 1000000) AS BIGINT)
               END AS drift_q
        FROM counted CROSS JOIN totals
    """,
    "x35_inverted_index": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        per_doc AS (
            SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY token, doc_id
        ),
        stats AS (
            SELECT token, CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(tf) AS BIGINT) AS cf
            FROM per_doc GROUP BY token
        ),
        head AS (
            SELECT token,
                   string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id) AS postings_head
            FROM (
                SELECT token, doc_id,
                       row_number() OVER (PARTITION BY token
                                          ORDER BY doc_id) AS __r
                FROM per_doc
            ) WHERE __r <= {_POSTINGS_CAP}
            GROUP BY token
        )
        SELECT s.token, s.df, s.cf, h.postings_head,
               CAST(s.df > {_POSTINGS_CAP} AS BIGINT) AS truncated
        FROM stats s JOIN head h USING (token)
    """,
    "x36_bm25_retrieval": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        qt AS (
            SELECT doc_id, token FROM toks
            WHERE token IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        ),
        tf AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM qt GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY token
        ),
        dl AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
            FROM documents
        ),
        totals AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS t_tokens
            FROM documents
        ),
        scored AS (
            SELECT tf.doc_id,
                   length(bin(greatest(
                       (2 * n_docs - 2 * df + 1) // (2 * df + 1), 1)))
                       AS idf_log2,
                   22 * tf * ((100 * t_tokens) // n_docs) * 1000
                       // (10 * tf * ((100 * t_tokens) // n_docs)
                           + 3 * ((100 * t_tokens) // n_docs)
                           + 900 * dl) AS tfc_q
            FROM tf
            JOIN df USING (token)
            JOIN dl USING (doc_id)
            CROSS JOIN totals
        )
        SELECT doc_id, CAST(sum(idf_log2 * tfc_q) AS BIGINT) AS score_q
        FROM scored GROUP BY doc_id
        ORDER BY score_q DESC, doc_id LIMIT 10
    """,
    "x42_hybrid_rrf": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        qt AS (
            SELECT doc_id, token FROM toks
            WHERE token IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        ),
        tf AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM qt GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY token
        ),
        dl AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
            FROM documents
        ),
        totals AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS t_tokens
            FROM documents
        ),
        scored AS (
            SELECT tf.doc_id,
                   length(bin(greatest(
                       (2 * n_docs - 2 * df + 1) // (2 * df + 1), 1)))
                       AS idf_log2,
                   22 * tf * ((100 * t_tokens) // n_docs) * 1000
                       // (10 * tf * ((100 * t_tokens) // n_docs)
                           + 3 * ((100 * t_tokens) // n_docs)
                           + 900 * dl) AS tfc_q
            FROM tf
            JOIN df USING (token)
            JOIN dl USING (doc_id)
            CROSS JOIN totals
        ),
        bm25 AS (
            SELECT doc_id, CAST(sum(idf_log2 * tfc_q) AS BIGINT) AS score_q
            FROM scored GROUP BY doc_id
            ORDER BY score_q DESC, doc_id LIMIT {_FUSE_DEPTH}
        ),
        lex AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score_q DESC, doc_id)
                        AS BIGINT) AS lex_rank
            FROM bm25
        ),
        qv AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = {_RRF_QUERY_VEC}
        ),
        sem_scored AS (
            SELECT vec_id AS doc_id,
                   CAST(floor(list_cosine_similarity(
                       qv.qv, CAST(embedding AS DOUBLE[])) * 10000)
                       AS BIGINT) AS simq
            FROM embeddings CROSS JOIN qv
            WHERE vec_id <> {_RRF_QUERY_VEC}
        ),
        sem_top AS (
            SELECT doc_id, simq FROM sem_scored
            ORDER BY simq DESC, doc_id LIMIT {_FUSE_DEPTH}
        ),
        sem AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY simq DESC, doc_id)
                        AS BIGINT) AS sem_rank
            FROM sem_top
        )
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               l.lex_rank, s.sem_rank,
               CAST(COALESCE(1000000 // ({_RRF_K} + l.lex_rank), 0)
                    + COALESCE(1000000 // ({_RRF_K} + s.sem_rank), 0)
                    AS BIGINT) AS rrf_q
        FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
        ORDER BY rrf_q DESC, doc_id LIMIT 10
    """,
    "x33_chunk_dedup": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        ch AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, (len(tk) + {_CHUNK - 1}) // {_CHUNK}),
                       i -> i - 1)) AS pos,
                   unnest(list_transform(
                       generate_series(1, (len(tk) + {_CHUNK - 1}) // {_CHUNK}),
                       i -> array_to_string(
                           list_slice(tk, (i - 1) * {_CHUNK} + 1,
                                      (i - 1) * {_CHUNK} + {_CHUNK}), ' ')))
                       AS chunk
            FROM toks
        ),
        kept AS (
            SELECT doc_id, pos, chunk FROM (
                SELECT doc_id, pos, chunk,
                       row_number() OVER (
                           PARTITION BY ('0x' || substr(md5(chunk), 1,
                               {SHINGLE_HASH_HEX}))::BIGINT
                           ORDER BY doc_id, pos) AS __r
                FROM ch
            ) WHERE __r = 1
        ),
        reass AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(chunk, ' ' ORDER BY pos) AS dedup_text
            FROM kept GROUP BY doc_id
        ),
        totals AS (
            SELECT doc_id,
                   CAST((len(string_split(text, ' ')) + {_CHUNK - 1})
                        // {_CHUNK} AS BIGINT) AS n_chunks
            FROM documents
        )
        SELECT t.doc_id, t.n_chunks,
               coalesce(r.n_kept, 0) AS n_kept,
               coalesce(r.dedup_text, '') AS dedup_text
        FROM totals t LEFT JOIN reass r USING (doc_id)
    """,
    "x30_ann_recall": f"""
        WITH exact_res AS ({ORACLES_EXT["x3_cosine_topk"]}),
        ann_res AS ({ORACLES_EXT["x3d_ann_lsh"]})
        SELECT e.query_id,
               CAST(count(a.query_id) AS BIGINT) AS n_hit,
               CAST(count(a.query_id) AS BIGINT) * 1000000
                   // {similarity.ANN_TOPK} AS recall_ppm
        FROM exact_res e
        LEFT JOIN ann_res a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """,
    "x31_contrastive_pairs": f"""
        WITH pos AS ({ORACLES_EXT["x2f_lsh_verified_neardup"]}),
        bkt AS (
            SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                       ::BIGINT % 256 AS bkt,
                   min(doc_id) AS neg_id
            FROM documents GROUP BY 1
        ),
        keyed AS (
            SELECT id_a AS anchor_id, id_b AS positive_id,
                   ('0x' || substr(md5(CAST(id_a AS VARCHAR) || '|'
                                       || CAST(id_b AS VARCHAR)), 1, 12))
                       ::BIGINT % 256 AS bkt
            FROM pos
        )
        SELECT anchor_id, positive_id,
               CASE WHEN neg_id <> anchor_id AND neg_id <> positive_id
                    THEN neg_id END AS negative_id
        FROM keyed LEFT JOIN bkt USING (bkt)
    """,
    "g2_pagerank": f"""
        WITH {SQL_COPURCHASE_ADJ_CTE},
        deg AS (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM adj GROUP BY src
        ),
        adjd AS (
            SELECT a.src, a.dst, d.deg
            FROM adj a JOIN deg d ON d.node = a.src
        ),
        r0 AS (
            SELECT node, CAST({_PR_INIT} AS BIGINT) AS pr FROM deg
        ),{_PR_STEP_CTES}
        final AS (
            SELECT r.node, r.pr AS pr_rank, d.deg
            FROM r{_PR_ITERS} r JOIN deg d ON d.node = r.node
        )
        SELECT node, pr_rank, deg FROM final
        ORDER BY pr_rank DESC, node LIMIT 20
    """,
    "w13_autocorr": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        lagged AS (
            SELECT event_type, n AS x,
                   lag(n, 1) OVER (PARTITION BY event_type ORDER BY day)
                       AS y1,
                   lag(n, 2) OVER (PARTITION BY event_type ORDER BY day)
                       AS y2,
                   lag(n, 3) OVER (PARTITION BY event_type ORDER BY day)
                       AS y3
            FROM daily
        ),
        pairs AS (
            SELECT event_type, 1 AS lag_k, x, y1 AS y FROM lagged
            WHERE y1 IS NOT NULL
            UNION ALL
            SELECT event_type, 2, x, y2 FROM lagged WHERE y2 IS NOT NULL
            UNION ALL
            SELECT event_type, 3, x, y3 FROM lagged WHERE y3 IS NOT NULL
        ),
        m AS (
            SELECT event_type, lag_k,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy,
                   CAST(sum(x * y) AS BIGINT) AS sxy
            FROM pairs GROUP BY event_type, lag_k
        )
        SELECT event_type, lag_k, n_pairs,
               CASE WHEN n_pairs * sxx - sx * sx > 0
                     AND n_pairs * syy - sy * sy > 0
                    THEN CAST(floor(
                        ((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (sqrt(CAST(n_pairs AS DOUBLE)
                                 * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * sqrt(CAST(n_pairs AS DOUBLE)
                                   * CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE)
                                     * CAST(sy AS DOUBLE))))
                        * 10000) AS BIGINT)
               END AS acf_q
        FROM m
    """,
    "x34_kmv_source_overlap": f"""
        WITH sh AS (
            SELECT DISTINCT source,
                   unnest(list_transform(
                       generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2])) AS shingle
            FROM documents
        ),
        hv AS (
            SELECT DISTINCT source,
                   ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h
            FROM sh
        ),
        sk AS (
            SELECT source, h FROM (
                SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h)
                           AS __r
                FROM hv
            ) WHERE __r <= {_KMV_K}
        ),
        srcs AS (SELECT DISTINCT source FROM sk),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b
            FROM srcs a JOIN srcs b ON a.source < b.source
        ),
        merged AS (
            SELECT src_a, src_b, h,
                   max(in_a) AS in_a, max(in_b) AS in_b
            FROM (
                SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
                FROM pairs p JOIN sk s ON s.source = p.src_a
                UNION ALL
                SELECT p.src_a, p.src_b, s.h, 0 AS in_a, 1 AS in_b
                FROM pairs p JOIN sk s ON s.source = p.src_b
            ) GROUP BY src_a, src_b, h
        ),
        kept AS (
            SELECT src_a, src_b, in_a, in_b FROM (
                SELECT src_a, src_b, in_a, in_b,
                       row_number() OVER (PARTITION BY src_a, src_b
                                          ORDER BY h) AS __r
                FROM merged
            ) WHERE __r <= {_KMV_K}
        )
        SELECT src_a, src_b,
               CAST(count(*) AS BIGINT) AS k_used,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
               CAST(sum(in_a * in_b) AS BIGINT) * 1000000
                   // CAST(count(*) AS BIGINT) AS jaccard_est_ppm
        FROM kept GROUP BY src_a, src_b
    """,
}

# the composed curation verdict (x56): the x45 and x49 oracle texts are
# spliced VERBATIM as CTE bodies — one definition per stage on BOTH
# sides (the x30 recipe) — plus the x16 quality conjunction and the
# x46 spec/hash.  Must be assigned after the dict literal because it
# splices ORACLES_CORPUS["x49_span_dedup_rewrite"].
ORACLES_CORPUS["x56_curation_materialize"] = f"""
        WITH sem AS ({ORACLES_EXT["x45_semdedup_keep"]}),
        manifest AS ({ORACLES_CORPUS["x49_span_dedup_rewrite"]}),
        spec(lang, rate_bp) AS (VALUES {", ".join(
            f"('{lang}', {bp})" for lang, bp in sorted(_MIX_RATES_BP.items())
        )}),
        qt AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks,
                   ('0x' || substr(md5('{_MIX_SEED}:' ||
                        CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10000 AS u
            FROM documents
        ),
        qg AS (
            SELECT doc_id, lang, u, toks,
                   list_transform(
                       list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                       p -> p[1] || ' ' || p[2]) AS bg,
                   list_transform(
                       list_zip(toks[1:len(toks)-2], toks[2:len(toks)-1],
                                toks[3:len(toks)]),
                       p -> p[1] || ' ' || p[2] || ' ' || p[3]) AS tg
            FROM qt
        ),
        quality AS (
            SELECT doc_id, lang, u,
                   (coalesce(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
                             / nullif(len(bg), 0), 0.0) <= 0.2
                    AND coalesce(CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE)
                                 / nullif(len(tg), 0), 0.0) <= 0.18
                    AND coalesce(CAST(list_max(list_transform(list_distinct(bg),
                                     g2 -> len(list_filter(bg, x -> x = g2))))
                                 AS DOUBLE) / nullif(len(bg), 0), 0.0) <= 0.1
                    AND len(toks) BETWEEN 20 AND 1000
                    AND CAST(len(list_filter(toks, w -> w IN ('the', 'a')))
                             AS DOUBLE) / len(toks) <= 0.5) AS quality_pass
            FROM qg
        )
        SELECT q.doc_id, q.lang, q.quality_pass,
               CAST(coalesce(s.kept, 1) AS INTEGER) AS semantic_kept,
               CAST(coalesce(m.removed_occ, 0) AS BIGINT) AS removed_occ,
               coalesce(m.retained_frac, 1.0) AS retained_frac,
               sp.rate_bp,
               (q.u < sp.rate_bp) AS sampled,
               CASE WHEN NOT q.quality_pass THEN 'drop_quality'
                    WHEN coalesce(s.kept, 1) = 0 THEN 'drop_semdup'
                    WHEN NOT (q.u < sp.rate_bp) THEN 'drop_sampled'
                    WHEN coalesce(m.removed_occ, 0) > 0 THEN 'rewrite'
                    ELSE 'keep' END AS verdict
        FROM quality q
        JOIN spec sp ON sp.lang = q.lang
        LEFT JOIN sem s ON s.vec_id = q.doc_id
        LEFT JOIN manifest m ON m.doc_id = q.doc_id
"""

# the steady-state composed verdict (x59): the x1b, x53 and x54 oracle
# STATEMENTS spliced verbatim as CTE bodies (the x56 recipe applied to
# the ingestion triad), quality restricted to the batch slice
ORACLES_CORPUS["x59_ingest_curation"] = f"""
        WITH ex AS ({ORACLES_EXT["x1b_incremental_dedup"]}),
        nd AS ({ORACLES_EXT["x53_incremental_neardup"]}),
        sem AS ({ORACLES_EXT["x54_incremental_semdedup"]}),
        ndagg AS (
            SELECT batch_doc_id AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_near,
                   max(jaccard) AS best_jaccard
            FROM nd GROUP BY batch_doc_id
        ),
        spec(lang, rate_bp) AS (VALUES {", ".join(
            f"('{lang}', {bp})" for lang, bp in sorted(_MIX_RATES_BP.items())
        )}),
        qt AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks,
                   ('0x' || substr(md5('{_MIX_SEED}:' ||
                        CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10000 AS u
            FROM documents
            WHERE md5(CAST(doc_id AS VARCHAR)) >= 'cd'
        ),
        qg AS (
            SELECT doc_id, lang, u, toks,
                   list_transform(
                       list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                       p -> p[1] || ' ' || p[2]) AS bg,
                   list_transform(
                       list_zip(toks[1:len(toks)-2], toks[2:len(toks)-1],
                                toks[3:len(toks)]),
                       p -> p[1] || ' ' || p[2] || ' ' || p[3]) AS tg
            FROM qt
        ),
        quality AS (
            SELECT doc_id, lang, u,
                   (coalesce(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
                             / nullif(len(bg), 0), 0.0) <= 0.2
                    AND coalesce(CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE)
                                 / nullif(len(tg), 0), 0.0) <= 0.18
                    AND coalesce(CAST(list_max(list_transform(list_distinct(bg),
                                     g2 -> len(list_filter(bg, x -> x = g2))))
                                 AS DOUBLE) / nullif(len(bg), 0), 0.0) <= 0.1
                    AND len(toks) BETWEEN 20 AND 1000
                    AND CAST(len(list_filter(toks, w -> w IN ('the', 'a')))
                             AS DOUBLE) / len(toks) <= 0.5) AS quality_pass
            FROM qg
        )
        SELECT q.doc_id, q.lang, q.quality_pass,
               CAST(CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS INTEGER)
                   AS exact_kept,
               CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near,
               n.best_jaccard AS best_jaccard,
               CAST(coalesce(s.kept, 1) AS INTEGER) AS semantic_kept,
               s.best_sim AS best_sim,
               sp.rate_bp,
               (q.u < sp.rate_bp) AS sampled,
               CASE WHEN NOT q.quality_pass THEN 'drop_quality'
                    WHEN e.doc_id IS NULL THEN 'drop_exact'
                    WHEN coalesce(n.n_near, 0) > 0 THEN 'drop_neardup'
                    WHEN coalesce(s.kept, 1) = 0 THEN 'drop_semdup'
                    WHEN NOT (q.u < sp.rate_bp) THEN 'drop_sampled'
                    ELSE 'keep' END AS verdict
        FROM quality q
        JOIN spec sp ON sp.lang = q.lang
        LEFT JOIN ex e ON e.doc_id = q.doc_id
        LEFT JOIN ndagg n ON n.doc_id = q.doc_id
        LEFT JOIN sem s ON s.vec_id = q.doc_id
"""

# the funnel report (x60): ONE aggregation over the x59 verdict, so the
# oracle splices the x59 STATEMENT verbatim as a CTE — the verdict is
# defined exactly once on each side.  Integer-bp keep rate via // (≡
# Spark DIV on non-negative ints — the x48 idiom).
ORACLES_CORPUS["x60_ingest_funnel"] = f"""
        WITH v AS ({ORACLES_CORPUS["x59_ingest_curation"]})
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN verdict = 'drop_quality' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_drop_quality,
               CAST(sum(CASE WHEN verdict = 'drop_exact' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_drop_exact,
               CAST(sum(CASE WHEN verdict = 'drop_neardup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_drop_neardup,
               CAST(sum(CASE WHEN verdict = 'drop_semdup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_drop_semdup,
               CAST(sum(CASE WHEN verdict = 'drop_sampled' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_drop_sampled,
               CAST(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keep,
               (CAST(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END)
                     AS BIGINT) * 10000)
                   // CAST(count(*) AS BIGINT) AS keep_bp
        FROM v
        GROUP BY lang
"""
