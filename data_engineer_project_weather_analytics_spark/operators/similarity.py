"""Embedding similarity search (SURVEY.md X3).

* :func:`cosine_topk` — brute-force cosine top-k via higher-order
  functions (``zip_with`` + ``aggregate``), all JVM-side.  The correct
  baseline, and the verifier for approximate paths.
* :func:`lsh_ann_topk` — random-hyperplane (sign) LSH: bucket by the
  sign pattern of projections onto seeded hyperplanes, then search
  only within buckets.  The 100 TB path: the bucket join replaces the
  full cross product; hyperplanes are broadcast literals.
* :func:`label_centroids` — per-group mean vector via ``posexplode``
  (the IVF coarse-quantizer building block).

Vectors are cast float→double before arithmetic so results are stable
and engine-comparable.
"""

from __future__ import annotations

import math
import random
import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineer_project_weather_analytics_spark.operators import index_store
from data_engineer_project_weather_analytics_spark.operators.dedup import _cap_buckets
from data_engineer_project_weather_analytics_spark.sources.catalog import local_frame


class SemDedupScaleWarning(UserWarning):
    """Raised (as a warning) when a FIXED-k flat SemDeDup form is run
    on a corpus its cell count cannot carry — the oracle-anchor
    configurations (x45/x54/x56/x59 fixed-k) are quadratic by
    construction once cells outgrow ``target_cell`` (within-cell pair
    work is O(Σ cell²)); the deployment shapes are
    ``recommended_kmeans_k`` + ``two_level=True`` / the ``_auto``
    registry twins."""


#: a fixed-k flat run whose EXPECTED cell width exceeds this multiple
#: of the deployment target (250 vectors/cell) warns loudly: ~10x the
#: sf0.1 corpus is where the measured wall-clock turns quadratic
#: (PARITY.md scale table: 22x wall at 10x input for x45 fixed-k)
FIXED_K_CELL_GUARD = 10


def _warn_fixed_k_scale(n_vectors: int, k: int, target_cell: int = 250) -> None:
    if n_vectors > k * target_cell * FIXED_K_CELL_GUARD:
        warnings.warn(
            SemDedupScaleWarning(
                f"flat fixed-k SemDeDup over {n_vectors} vectors with "
                f"k={k} (expected cell width {n_vectors // max(k, 1)} ≫ "
                f"target {target_cell}): within-cell pair work is "
                "O(Σ cell²) — this configuration is the DuckDB oracle "
                "anchor, not the deployment shape.  Use "
                "k=recommended_kmeans_k(n) with two_level=True (the "
                "registered *_auto twins) beyond ~10x the sf0.1 corpus."
            ),
            stacklevel=3,
        )


#: the ONE ANN top-k: the registered x3 (exact), x3d (LSH) and x3e
#: (IVF) pipelines, their DuckDB oracles, and the x30 recall
#: denominator all reference this constant — a hard-coded ``5`` at any
#: of those sites would silently skew recall_ppm if the top-k ever
#: changed (both engines would agree on the wrong denominator, so the
#: oracle check could not catch it).
ANN_TOPK = 5


def _as_double(vec: str | Column) -> Column:
    col = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with both operand norms PRECOMPUTED (``na`` /
    ``nb`` = earlier-projected ``l2_norm`` columns).

    Why: every scored row of the inline form evaluates THREE array
    folds (dot + two norm folds).  In the n×k assignment streams and
    the Σ cell² pair joins the same vector's norm is re-folded once
    per scored row; projecting it once per VECTOR row cuts the
    per-row array work to the single unavoidable dot (guide §2.3 —
    measured 1.4× on the x45 pair join at sf0.1).

    Bit-identical to the inline form: the materialized norm is the
    same ``sqrt(dot(x,x))`` left-fold over the same array, and
    ``dot / (na * nb)`` is the same multiply-then-divide association
    ``cosine`` builds — no value (and therefore no oracle hash) can
    move."""
    return dot(a, b) / (na * nb)


def sim_q(cos_col: Column) -> Column:
    """Cosine quantized to a BIGINT at 1e-4 resolution.

    ``floor(cos * 1e4)`` is a sign-stable integer transform computed on
    the binary double — identical in any engine given identical inputs
    — unlike ``round()``, where Spark rounds the shortest decimal
    string and DuckDB the binary value (repo determinism rule)."""
    return F.floor(cos_col * F.lit(10000.0)).cast("long")


def cosine_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    k: int = ANN_TOPK,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    ``queries`` has the same (id, vec) shape; it is broadcast (query
    sets are small relative to the corpus), so the corpus is scanned
    once with no shuffle; the per-query top-k is a ranking window over
    query_id — cardinality |queries| × |corpus| rows into the window,
    which AQE partitions by query."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # norms precomputed once per corpus/query row instead of
            # once per (corpus × query) scored row — cosine_pre
            cosine_pre(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ).alias("__cos"),
        )
    )
    # rank on the 1e-4-QUANTIZED cosine with neighbor_id tiebreak (the
    # x42 integer-key ordering rule): Spark's fold-based dot/(sqrt·sqrt)
    # and DuckDB's list_cosine_similarity are different IEEE expression
    # trees, so a raw-double ordering could flip the top-k BOUNDARY on a
    # last-ulp near-tie — and any recall grade built on this exact side
    # (x52) would turn that flip into a grade change (ADVICE r7)
    w = Window.partitionBy("query_id").orderBy(
        sim_q(F.col("__cos")).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", sim_q(F.col("__cos")).alias("sim"))
    )


def seeded_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit hyperplanes (Gaussian components, seeded) —
    pure-Python so the planes are reproducible literals, broadcast
    into the plan rather than shuffled."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket(vec_col: str | Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit j = sign(v · plane_j)."""
    v = _as_double(vec_col)
    bits = []
    for plane in planes:
        lit = F.array(*[F.lit(x) for x in plane])
        bits.append(F.when(dot(v, lit) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucket_array(
    vec_col: str | Column, n_planes: int, dim: int, seed: int, n_tables: int
) -> Column:
    """``array<struct<tbl,bkt>>`` — this vector's sign-pattern bucket
    in every LSH table.  Single home for the bucket encoding (seed
    offset = table index) shared by :func:`lsh_ann_topk`,
    :func:`embedding_neardup_lsh`, and mirrored by the SQL oracles'
    ``_tagged_arms``; change it in one place or parity breaks."""
    table_buckets = [
        lsh_bucket(vec_col, seeded_hyperplanes(dim, n_planes, seed + t))
        for t in range(n_tables)
    ]
    return F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), b.alias("bkt"))
            for t, b in enumerate(table_buckets)
        ]
    )


def lsh_ann_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    k: int = ANN_TOPK,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket in
    at least one of ``n_tables`` independent plane sets.

    With p planes the corpus splits into ≤2^p buckets per table;
    OR-amplification across tables trades candidate volume for recall
    (P(candidate) = 1-(1-s^p)^L for similarity s).  Plan shape that
    survives a 100 TB corpus: bucket ids are computed scan-side
    (narrow, one pass emits all tables' buckets), the join shuffles by
    (table, bucket), AQE splits skewed buckets."""
    buckets_arr = lsh_bucket_array(vec_col, n_planes, dim, seed, n_tables)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("__qv"),
        F.explode(buckets_arr).alias("__b"),
    ).select(
        "query_id",
        "__qv",
        l2_norm(F.col("__qv")).alias("__qn"),
        F.col("__b.tbl").alias("__tbl"),
        F.col("__b.bkt").alias("__bkt"),
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("__cv"),
        F.explode(buckets_arr).alias("__b"),
    ).select(
        "neighbor_id",
        "__cv",
        l2_norm(F.col("__cv")).alias("__cn"),
        F.col("__b.tbl").alias("__tbl"),
        F.col("__b.bkt").alias("__bkt"),
    )
    scored = (
        c.join(F.broadcast(q), on=["__tbl", "__bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_pre(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ).alias("__cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", sim_q(F.col("__cos")).alias("sim"))
    )


def cell_centroids(
    vectors: DataFrame, cell_col: str, vec_col: str
) -> DataFrame:
    """``(cell, centroid array<double>)`` — the coarse-quantizer
    codebook, assembled from :func:`label_centroids`-style µ-quantized
    exact means: the centroid is order-independent and
    engine-reproducible, which makes any RANKING over centroid
    similarity deterministic — the property that lets the DuckDB
    oracles replay the IVF and semantic-dedup paths."""
    q_comp = F.floor(F.col("comp") * F.lit(1000000.0)).cast("long")
    return (
        vectors.select(F.col(cell_col).alias("cell"), _as_double(vec_col).alias("__v"))
        .select("cell", F.posexplode("__v").alias("pos", "comp"))
        .groupBy("cell", "pos")
        .agg(
            (
                F.sum(q_comp).cast("double")
                / (F.count(F.lit(1)) * F.lit(1000000).cast("long"))
            ).alias("comp")
        )
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "comp"))).alias("pc"))
        .select("cell", F.transform("pc", lambda s: s.getField("comp")).alias("centroid"))
    )


def semantic_neardup(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: assign every
    vector to its nearest coarse-quantizer centroid, then compute
    pairwise cosine only WITHIN cells — the cluster-based complement
    to the hyperplane-LSH path (:func:`embedding_neardup_lsh`).

    Scale shape: the codebook (|cells| rows) is broadcast; assignment
    is ``max_by`` over the scan-side vector×codebook product, which
    partial-aggregates map-side — the n×|cells| scored rows collapse
    to n before any shuffle (a ``row_number`` window here would
    shuffle the full product).  The pair join shuffles by cell id
    only; within-cell work is O(Σ cell²), the inverted-file trade —
    cell count must grow with the corpus exactly like IVF's.

    Tie-break: highest cosine, then lowest cell id — deterministic
    cross-engine because centroids are µ-quantized exact means."""
    cents = cell_centroids(vectors, cell_col, vec_col).withColumn(
        "__cn", l2_norm(F.col("centroid"))
    )
    v = vectors.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("__v")
    ).withColumn("__vn", l2_norm(F.col("__v")))
    scored = (
        v.crossJoin(F.broadcast(cents))
        .select(
            "__vid",
            "__v",
            "__vn",
            "cell",
            cosine_pre(
                F.col("__v"), F.col("centroid"), F.col("__vn"), F.col("__cn")
            ).alias("__csim"),
        )
    )
    assigned = scored.groupBy("__vid").agg(
        F.max_by("cell", F.struct(F.col("__csim"), (-F.col("cell")).alias("nc"))).alias(
            "cell"
        ),
        F.first("__v").alias("__v"),
        F.first("__vn").alias("__vn"),
    )
    a = assigned.select(
        F.col("__vid").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__vn").alias("__na"),
        "cell",
    )
    b = assigned.select(
        F.col("__vid").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__vn").alias("__nb"),
        "cell",
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "cell",
            sim_q(
                cosine_pre(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                )
            ).alias("sim"),
        )
        .filter(F.col("sim") >= int(round(threshold * 10000)))
    )


def ivf_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    cell_col: str,
    k: int = ANN_TOPK,
    n_probe_cells: int = 2,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer assigns vectors to cells
    (here ``cell_col``, e.g. a cluster/label id); each query probes the
    ``n_probe_cells`` cells whose centroids are nearest, then searches
    exhaustively *within* those cells.

    The scale shape: centroids are a tiny broadcast table, cell
    assignment is scan-side, and the candidate join shuffles only by
    cell id — the classic inverted-file trade of recall for a
    1/|cells| scan reduction."""
    cents = cell_centroids(vectors, cell_col, vec_col).withColumn(
        "__cn", l2_norm(F.col("centroid"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    # rank cells per query by centroid similarity, keep n_probe_cells
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("cell")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "__csim",
            cosine_pre(
                F.col("__qv"), F.col("centroid"), F.col("__qn"), F.col("__cn")
            ),
        )
        .withColumn("__r", F.row_number().over(probe_w))
        .filter(F.col("__r") <= n_probe_cells)
        .select("query_id", "__qv", "__qn", "cell")
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("cell"),
        _as_double(vec_col).alias("__cv"),
    ).withColumn("__cvn", l2_norm(F.col("__cv")))
    scored = (
        c.join(F.broadcast(probes), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_pre(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cvn")
            ).alias("__cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", sim_q(F.col("__cos")).alias("sim"))
    )


def label_centroids(
    vectors: DataFrame, group_col: str, vec_col: str
) -> DataFrame:
    """Per-group mean of each vector component (1-based position),
    computed over µ-quantized components (floor at 1e-6 resolution).

    ``posexplode`` + groupBy keeps this one shuffle with map-side
    partial sums — no vector re-assembly until a consumer needs it.

    Why quantize the *input*: a double ``avg()`` depends on summation
    order (combiner arrival order varies run to run), so no rounding of
    the output is engine- or run-stable.  ``floor(c * 1e6)`` of the
    identical input doubles is identical in every engine; the BIGINT
    sum is exact and order-independent; the final division of
    identical doubles is bit-identical.  The centroid shifts by < 1e-6
    per component — irrelevant for a coarse quantizer."""
    exploded = vectors.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("pos0", "component")
    )
    q = F.floor(F.col("component").cast("double") * F.lit(1000000.0)).cast("long")
    return (
        exploded.groupBy(group_col, (F.col("pos0") + 1).alias("pos"))
        .agg(
            (
                F.sum(q).cast("double")
                / (F.count(F.lit(1)) * F.lit(1000000).cast("long"))
            ).alias("centroid_component")
        )
    )


#: defaults for :func:`kmeans_assign` — shared with the registered
#: x3g query and its unrolled DuckDB oracle, which hard-wires the same
#: k seeds and iteration count as CTE stages (the oracle is unrolled
#: text, so these can only move together with it)
KMEANS_K = 8
KMEANS_ITERS = 3


def _pin_codebook(df: DataFrame, single_partition: bool = True) -> DataFrame:
    """Pin a CODEBOOK-sized frame (≤ k rows — never corpus rows) and
    truncate its lineage (``coalesce(1)`` + LAZY ``localCheckpoint``).

    Why (optimization guide §3.3/§7.3, measured in round 12): the
    Lloyd loops rebuild the codebook from the previous iteration's
    assignment, and every iteration references the previous subtree
    SEVERAL times (the two-level loop: ``fmap`` feeds both ``occ`` and
    the fine join; ``vc`` feeds both ``s4`` and the reattach join) —
    so the UNPINNED logical plan grows exponentially in the iteration
    count.  At sf0.1 the x45_auto static plan reached 4.8 MB with
    1600 parquet scans of one table and Catalyst analysis dominated
    the wall clock (the auto twins ran 30-60 s on 2000 vectors while
    the single-pass probe runs ~2 s).  Pinning the per-iteration
    codebooks caps the plan at one iteration's depth: each pass is
    planned and executed exactly once, and every downstream consumer
    (pair join, probes, stored writes) sees a k-row leaf.

    LAZY, not eager (round 13): ``eager=False`` truncates the logical
    plan identically at construction (the returned frame wraps a
    LogicalRDD either way — what caps Catalyst analysis), and defers
    only the FINAL stage: the per-pin ``count()`` job an eager pin runs
    is gone.  Each eager pin was a whole separate Spark job (~0.3-0.5 s
    of fixed local overhead, guide §1) — the two-level fit paid
    ~2·n_iter of them per query.  The UPSTREAM fit stages still run at
    plan construction: under AQE, building the LogicalRDD executes the
    query stages below it.  That is why every harness times plan
    construction together with the action (bench_scale moved t0 above
    ``fn()`` in round 13); a timer that starts after construction
    misses the fit work.  The RDD is computed once and cached
    (``localCheckpoint`` persists on materialization), with every
    later consumer reading the blocks.

    Values are unchanged — the pinned rows are the same deterministic
    µ-quantized centroids the lazy plan computes — so oracle hashes
    are untouched.  Only codebook-sized state is ever pinned; corpus
    frames stay lazy.  Superseded iterations' blocks (k·dim·8 bytes
    each) live until the RDDs are GC'd — bounded by n_iter codebooks
    per query, never corpus bytes.  ``single_partition=False`` for the
    FINE codebook past the broadcast ceiling (k ∝ n there — it must
    stay sharded, exactly like its join strategy).

    Why not collect-to-literal (the VERDICT r12 proposal): collecting
    the codebook to the driver per iteration is an EAGER action at
    plan-construction time — it would move the entire fit back outside
    bench_scale's timed region (the exact mis-measurement the lazy pin
    fixes) and route corpus-derived state through the driver for no
    measured gain over the lazy pin (the pin-job overhead is what the
    collect was meant to delete, and eager=False deletes it too)."""
    pinned = df.coalesce(1) if single_partition else df
    return pinned.localCheckpoint(eager=False)


def _vec_frame(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(__vid, __v)`` — the id and double vector every k-means step
    reads."""
    return df.select(F.col(id_col).alias("__vid"), _as_double(vec_col).alias("__v"))


def _batch_assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd assignment pass of ``v`` (``__vid``, ``__v``) against a
    broadcast codebook ``cents`` (``cell``, ``centroid``): argmax over
    the 1e-4-quantized cosine, ties to the lowest cell, collapsing the
    n×k scored product map-side via ``max(struct)`` — the shared inner
    step of :func:`kmeans_assign` (in-loop) and the incremental probe
    (:func:`semdedup_incremental`, assigning a NEW batch to existing
    cells without re-clustering)."""
    # norms once per vector/centroid row, not per scored row (n×k)
    vn = v.withColumn("__vn", l2_norm(F.col("__v")))
    cn = cents.withColumn("__cn", l2_norm(F.col("centroid")))
    scored = vn.crossJoin(F.broadcast(cn)).select(
        "__vid",
        "__v",
        "cell",
        sim_q(
            cosine_pre(
                F.col("__v"), F.col("centroid"), F.col("__vn"), F.col("__cn")
            )
        ).alias("__cs"),
    )
    best = F.struct(F.col("__cs").alias("s"), (-F.col("cell")).alias("nc"))
    return (
        scored.groupBy("__vid")
        .agg(F.max(best).alias("__m"), F.first("__v").alias("__v"))
        .select(
            "__vid",
            "__v",
            (-F.col("__m.nc")).cast("int").alias("cell"),
            F.col("__m.s").alias("__cs"),
        )
    )


def _kmeans_fit(
    v: DataFrame,
    k: int,
    n_iter: int = KMEANS_ITERS,
    *,
    two_level: bool = False,
    coarse_k: int | None = None,
    broadcast_fine: bool | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The deterministic Lloyd loop over ``v`` (``__vid``, ``__v``) —
    the one engine behind :func:`kmeans_assign` and the SemDeDup index
    (semantics and determinism contract documented on
    :func:`kmeans_assign`).  Returns ``(assigned, codebook)``:

    - ``assigned`` is the final per-vector assignment (``__vid``,
      ``__v``, ``cell``, ``__cs``; two-level also ``coarse``);
    - ``codebook`` is the dict of frames the FINAL assignment pass
      consumed (the centroids after ``n_iter-1`` updates — what an
      incremental consumer must probe against to be consistent with the
      stored assignment): ``{"cents"}`` (``cell, centroid``) flat, or
      ``{"fmap", "occ"}`` two-level — the fine codebook with its coarse
      routing (``cell, centroid, coarse``) and the occupied-coarse
      codebook (``coarse, ccent``).  Its keys are the stored artifact
      names (``index_store.SEM_INDEX_LAYOUT``).

    Each pass assigns through :func:`_assign_to_codebook`, the same
    step a batch probe runs against a stored codebook; the two-level
    pass first routes every fine centroid to its nearest coarse
    centroid (codebook-sized work) and rebuilds the occupied-coarse
    codebook from the routing."""
    if coarse_k is None:
        coarse_k = max(2, math.isqrt(k))
    if broadcast_fine is None:
        broadcast_fine = k <= FINE_CODEBOOK_BROADCAST_MAX_K
    # the flat codebook is always broadcast whole; the two-level fine
    # codebook keeps its sharded layout past the broadcast ceiling
    single_partition = broadcast_fine or not two_level
    h = F.conv(
        F.substring(F.md5(F.col("__vid").cast("string")), 1, 8), 16, 10
    ).cast("long")
    seeds = v.select("__vid", "__v", h.alias("__h")).orderBy("__h", "__vid").limit(k)
    w = Window.orderBy("__h", "__vid")  # k rows post-limit: bounded window
    # each iteration's codebook is pinned (k rows): the loop's plan
    # stays one-pass deep instead of nesting every previous iteration
    # under the next — see _pin_codebook for the measured rationale
    cents = _pin_codebook(
        seeds.select(
            F.row_number().over(w).alias("cell"), F.col("__v").alias("centroid")
        ),
        single_partition=single_partition,
    )
    # the first coarse_k fine seeds double as the coarse seeds
    coarse = cents.filter(F.col("cell") <= coarse_k).select(
        F.col("cell").alias("coarse"), F.col("centroid").alias("ccent")
    )
    assigned = codebook = None
    for it in range(n_iter):
        if two_level:
            # route each fine centroid to its nearest coarse centroid
            # (k × √k scored rows).  fmap is pinned too: it is read
            # twice per pass (occ + the fine join), and unpinned its
            # references re-execute at every use (~1-2.5 s per auto
            # query, probed).  occ stays LAZY — one tiny aggregate over
            # the pinned fmap leaf, where a pin would cost a whole
            # Spark job per iteration for nothing (probed both ways).
            fbest = F.struct(F.col("__cs").alias("s"), (-F.col("coarse")).alias("nc"))
            fmap = _pin_codebook(
                cents.withColumn("__fn", l2_norm(F.col("centroid")))
                .crossJoin(
                    F.broadcast(coarse.withColumn("__ccn", l2_norm(F.col("ccent"))))
                )
                .select(
                    "cell",
                    "centroid",
                    "coarse",
                    sim_q(
                        cosine_pre(
                            F.col("centroid"),
                            F.col("ccent"),
                            F.col("__fn"),
                            F.col("__ccn"),
                        )
                    ).alias("__cs"),
                )
                .groupBy("cell")
                .agg(F.max(fbest).alias("__m"), F.first("centroid").alias("centroid"))
                .select(
                    "cell", "centroid", (-F.col("__m.nc")).cast("int").alias("coarse")
                ),
                single_partition=broadcast_fine,
            )
            # occupied-coarse codebook (µ-quantized mean of member fine
            # centroids) — every coarse id here has ≥1 fine centroid,
            # so the routed fine join can never drop a vector
            coarse = cell_centroids(
                fmap.select(F.col("coarse").alias("cc"), "centroid"), "cc", "centroid"
            ).select(F.col("cell").alias("coarse"), F.col("centroid").alias("ccent"))
            codebook = {"fmap": fmap, "occ": coarse}
        else:
            codebook = {"cents": cents}
        assigned = _assign_to_codebook(v, codebook, broadcast_fine)
        if it < n_iter - 1:
            cents = _pin_codebook(
                cell_centroids(assigned, "cell", "__v"),
                single_partition=single_partition,
            )
    return assigned, codebook


def kmeans_assign(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = KMEANS_K,
    n_iter: int = KMEANS_ITERS,
    keep_vec: bool = False,
    *,
    two_level: bool = False,
    coarse_k: int | None = None,
    keep_coarse: bool = False,
    broadcast_fine: bool | None = None,
) -> DataFrame:
    """Deterministic Lloyd k-means over cosine similarity: the
    iterative-clustering substrate behind corpus bucketing and
    SemDeDup-style semantic dedup when no label/cell column exists
    (x3f's coarse quantizer assumes one; this derives it from the
    vectors alone).

    Determinism, the property that makes an engine-replayable oracle
    possible for an iterative algorithm:

    * seeding — the k vectors with the smallest portable id hash
      (``conv(substr(md5(id),1,8),16,10)`` ≡ DuckDB
      ``('0x'||substr(md5(id),1,8))::BIGINT``), a pseudo-random but
      engine-identical draw; no RNG state;
    * assignment — argmax over the 1e-4-QUANTIZED cosine (``sim_q``)
      with ties to the lowest cell id, via one ``max(struct(simq,
      -cell))`` so the n×k scored rows collapse map-side (no window
      over the product).  Quantized, not raw: Spark's fold-based
      dot/(sqrt·sqrt) and DuckDB's ``list_cosine_similarity`` are
      different expression trees, so a last-ulp near-tie between two
      centroids could flip an assignment cross-engine and the
      divergence would compound through the centroid updates — the
      x42 integer-key ordering rule applied to the Lloyd loop (the
      oracle CTEs a1/a2/a3 order on the same floored value);
    * update — :func:`cell_centroids` µ-quantized exact means
      (integer sums, one double division), order- and
      engine-independent, so iteration t+1 starts from bit-identical
      centroids in both engines (induction carries to the output).

    Scale shape: seeding is ``TakeOrderedAndProject`` (distributed
    top-k, no global sort); each of the ``n_iter`` fixed iterations
    broadcasts the k-row codebook and scans the corpus once — O(n·k)
    scored rows per iteration with map-side partial aggregation, the
    IVF-training cost model.  No driver-side collect: centroids stay
    a DataFrame end to end.

    ``two_level=True`` is the scale-safe form for corpus-sized k (the
    :func:`recommended_kmeans_k` deployment policy makes k ∝ n, so the
    flat n×k assignment stream is QUADRATIC in the corpus; the round-6
    SemDeDup scale finding).  Per pass, instead of scoring every vector
    against all k centroids:

    1. route each FINE centroid to its nearest coarse centroid
       (k × √k scored rows — codebook-sized, never corpus-sized; the
       first ``coarse_k`` fine seeds, default √k, double as coarse
       seeds);
    2. rebuild the occupied-coarse codebook as the µ-quantized mean of
       its member fine centroids (so every coarse cell a vector can
       pick has ≥ 1 fine centroid — the routing join can never drop a
       vector);
    3. argmax each vector over the ~√k coarse centroids (broadcast);
    4. join vectors to fine centroids ON THE COARSE ID and argmax
       within the routed cell — E[k/√k] = √k candidates per vector.

    Scored rows per pass: O(n·√k) instead of O(n·k) — with k = n/250
    that is O(n^1.5/16) instead of O(n²/250).  The fine-centroid join
    broadcasts only while the codebook is small
    (``FINE_CODEBOOK_BROADCAST_MAX_K``); past that it is a shuffled
    hash join on the coarse id, so the codebook shards instead of
    replicating (``broadcast_fine`` overrides for tests).
    Single-probe approximation: a vector only sees fine centroids
    routed to ITS coarse cell, so the winner can differ from the flat
    argmax near coarse-cell boundaries — the standard IVF trade, fine
    for dedup cell formation (SemDeDup is itself approximate; Abbas et
    al. §3 cluster with exactly this kind of quantizer).  Same
    determinism contract as the flat form.

    Output: ``(id, cluster_id, sim)`` — final assignment after
    ``n_iter`` assignment passes (centroids updated between passes),
    with the final cosine floor-quantized at 1e-4 (``sim_q``);
    + ``coarse_id`` when ``keep_coarse`` (two-level only — the
    work-accounting hook), + ``vec`` when ``keep_vec``.
    """
    assigned, _codebook = _kmeans_fit(
        _vec_frame(vectors, id_col, vec_col),
        k,
        n_iter,
        two_level=two_level,
        coarse_k=coarse_k,
        broadcast_fine=broadcast_fine,
    )
    out = [
        F.col("__vid").alias(id_col),
        F.col("cell").alias("cluster_id"),
        F.col("__cs").alias("sim"),
    ]
    if keep_coarse:
        out.append(F.col("coarse").alias("coarse_id"))
    if keep_vec:
        # downstream within-cell work (semdedup_keep) needs the vector
        # next to the assignment without a second join against the
        # source table
        out.append(F.col("__v").alias("vec"))
    return assigned.select(*out)


#: largest fine codebook that is still broadcast whole by the
#: two-level assignment (:func:`kmeans_assign` with ``two_level=True``)
#: — 65536 cells × 64 dims × 8 B ≈ 33 MB per executor.  Above it the
#: fine-centroid join falls back to a shuffled hash join on the coarse
#: id, so the codebook SHARDS across the cluster instead of being
#: replicated into every executor (the flat form's single k×dim
#: broadcast is dead near 10⁶ cells).
FINE_CODEBOOK_BROADCAST_MAX_K = 65536


#: packed-argmax encoding: (simq + 20000) * 2^33 + (2^33 - 1 - id) —
#: max() of this single BIGINT is "highest quantized cosine, ties to
#: the lowest id" (the struct-max ordering), but unlike max(struct) +
#: first(array<double>) it HASH-aggregates with map-side partial
#: combine: the n×√k scored product collapses to n packed longs before
#: any shuffle, and no sort ever carries the 64-dim vector payload
#: (the 8 GB-heap OOM at the 2 M-vector 1000x point: SortAggregate
#: copying UnsafeArrayData per scored row).  simq ∈ [-10000, 10000] ⇒
#: packed < 2.6e17; ids (cells) must stay < 2^33.
_ARGMAX_BASE = 1 << 33


def _pack_argmax(simq: Column, id_col: Column) -> Column:
    return (simq + F.lit(20000)).cast("long") * F.lit(_ARGMAX_BASE) + (
        F.lit(_ARGMAX_BASE - 1) - id_col.cast("long")
    )


def _unpack_argmax_id(packed: Column) -> Column:
    return F.lit(_ARGMAX_BASE - 1) - (packed % F.lit(_ARGMAX_BASE))


def _unpack_argmax_simq(packed: Column) -> Column:
    # packed is always positive (simq + 20000 >= 10000), so the
    # arithmetic shift IS the exact integer division by 2^33 — never
    # `/`, which Spark evaluates as double division
    return F.shiftright(packed, 33) - F.lit(20000)


def _batch_assign_two_level(
    v: DataFrame,
    fmap: DataFrame,
    occ: DataFrame,
    broadcast_fine: bool = True,
) -> DataFrame:
    """One two-level assignment pass of ``v`` (``__vid``, ``__v``)
    against a codebook pair (``fmap``/``occ`` as :func:`_kmeans_fit`
    returns them) — steps 3-4 of the two-level Lloyd pass, the
    scale-safe sibling of :func:`_batch_assign` (which scores n×k
    against the flat codebook: quadratic when k ∝ n).  Coarse argmax
    over the broadcast occupied codebook, vector reattached by id
    (payload moves once), fine argmax WITHIN the routed coarse cell via
    the broadcast-or-sharded fine join.  Output: ``(__vid, __v, coarse,
    cell, __cs)``."""
    # batch norms once per row, not per scored row (cosine_pre)
    vn = v.withColumn("__vn", l2_norm(F.col("__v")))
    # vector → coarse argmax (n × |occ| rows, tiny broadcast).  The
    # scored product carries the vector ONLY transiently inside the
    # pipelined project→hash-agg stage: the agg state is one packed
    # long per vector (map-side combine), never a sort of array rows —
    # see _pack_argmax.
    s3 = (
        vn.crossJoin(F.broadcast(occ.withColumn("__on", l2_norm(F.col("ccent")))))
        .select(
            "__vid",
            _pack_argmax(
                sim_q(
                    cosine_pre(
                        F.col("__v"), F.col("ccent"), F.col("__vn"), F.col("__on")
                    )
                ),
                F.col("coarse"),
            ).alias("__p"),
        )
        .groupBy("__vid")
        .agg(F.max("__p").alias("__p"))
        .select(
            "__vid", _unpack_argmax_id(F.col("__p")).cast("int").alias("coarse")
        )
    )
    # reattach the vector by id (n narrow rows — the payload moves
    # ONCE per pass, not once per scored candidate)
    vc = vn.join(s3, "__vid")
    # fine argmax WITHIN the routed coarse cell — equi-join on the
    # coarse id; sharded (shuffle_hash) once the codebook outgrows a
    # sane broadcast
    fj = fmap.select(
        "coarse", "cell", "centroid", l2_norm(F.col("centroid")).alias("__fn")
    )
    fj = F.broadcast(fj) if broadcast_fine else fj.hint("shuffle_hash")
    s4 = (
        vc.join(fj, "coarse")
        .select(
            "__vid",
            _pack_argmax(
                sim_q(
                    cosine_pre(
                        F.col("__v"),
                        F.col("centroid"),
                        F.col("__vn"),
                        F.col("__fn"),
                    )
                ),
                F.col("cell"),
            ).alias("__p"),
        )
        .groupBy("__vid")
        .agg(F.max("__p").alias("__p"))
        .select(
            "__vid",
            _unpack_argmax_id(F.col("__p")).cast("int").alias("cell"),
            _unpack_argmax_simq(F.col("__p")).alias("__cs"),
        )
    )
    return s4.join(vc, "__vid").select("__vid", "__v", "coarse", "cell", "__cs")


def _assign_to_codebook(
    v: DataFrame,
    codebook: dict[str, DataFrame],
    broadcast_fine: bool | None = None,
) -> DataFrame:
    """The one assignment step: ``v`` (``__vid``, ``__v``) against a
    codebook of either shape (:func:`_kmeans_fit`), with no refit — the
    flat broadcast argmax (:func:`_batch_assign`) against ``cents``, or
    the two-level probe (:func:`_batch_assign_two_level`) against
    ``fmap``/``occ``.  Every Lloyd pass and every batch probe (in-query
    or against a stored index) runs through here.  ``broadcast_fine``
    is the fit's broadcast-or-shard decision; ``None`` re-derives it
    from the fine codebook's own size (k rows — an index-metadata
    count)."""
    if "cents" in codebook:
        return _batch_assign(v, codebook["cents"])
    fmap = codebook["fmap"]
    if broadcast_fine is None:
        broadcast_fine = fmap.count() <= FINE_CODEBOOK_BROADCAST_MAX_K
    return _batch_assign_two_level(v, fmap, codebook["occ"], broadcast_fine)


def _cell_near_pairs(
    assigned: DataFrame,
    id_col: str,
    cell_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """The within-cell near-pair stream every SemDeDup decision reads:
    ``(id_a, id_b)`` with ``id_a < id_b``, both in the same
    ``cell_col`` cell, at quantized cosine ≥ ``threshold``.  Pair work
    is O(Σ cell²) — the IVF trade the cell count has to pay for."""
    # side norms once per assigned row, not per Σ cell² pair (cosine_pre)
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        cell_col,
        F.col(vec_col).alias("__va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        cell_col,
        F.col(vec_col).alias("__vb"),
        l2_norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        a.join(b, cell_col)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            sim_q(
                cosine_pre(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                )
            )
            >= int(round(threshold * 10000))
        )
        .select("id_a", "id_b")
    )


def semdedup_keep(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = KMEANS_K,
    n_iter: int = KMEANS_ITERS,
    threshold: float = 0.8,
    two_level: bool = False,
) -> DataFrame:
    """SemDeDup keep/drop decision (Abbas et al., "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication",
    arXiv:2303.09540): cluster the embedding corpus with the label-free
    deterministic k-means (:func:`kmeans_assign`), compare vectors only
    WITHIN their cell, and drop every vector that has a same-cell
    neighbor at cosine ≥ ``threshold`` with a smaller id — the greedy
    min-id representative rule.  This is the dedup *decision* layer
    the pair queries (x3b/x3f) stop short of.

    The greedy rule is deliberately non-transitive (a<b<c chain: b and
    c are both dropped against a even if c is only near b) — one
    deterministic pass, no connected-components iteration, matching
    how production dedup pipelines batch the keep decision.

    Scale shape: pair work is O(Σ cell²) — the IVF trade, cell count
    must grow with the corpus (:func:`recommended_kmeans_k`); the
    neighbor aggregation shuffles pair rows only (already
    threshold-filtered); the final left join is id-keyed.  The two
    pair-join sides scan one kmeans subtree that AQE deduplicates via
    exchange reuse.  With k ∝ n the FLAT assignment stream is itself
    quadratic (n·k scored rows per pass) — the deployment form passes
    ``two_level=True`` to :func:`kmeans_assign` (O(n·√k) per pass,
    shardable codebook); the registered fixed-k x45 keeps the flat form its
    unrolled DuckDB oracle replays.

    Output: ``(id, cluster_id, n_near, kept)`` — epsilon-neighborhood
    degree and the 0/1 keep flag.
    """
    if not two_level:
        # loud guard: the flat fixed-k form is the oracle anchor; past
        # ~10x the sf0.1 corpus its cell widths make the pair stream
        # quadratic (the count is a metadata-cheap pruned-scan job and
        # runs once, at plan-construction time)
        _warn_fixed_k_scale(vectors.select(id_col).count(), k)
    assigned = kmeans_assign(
        vectors, id_col, vec_col, k, n_iter, keep_vec=True, two_level=two_level
    )
    pairs = _cell_near_pairs(assigned, id_col, "cluster_id", "vec", threshold)
    sym = pairs.select(
        F.col("id_a").alias("__nid"), F.col("id_b").alias("nb")
    ).unionAll(pairs.select(F.col("id_b").alias("__nid"), F.col("id_a").alias("nb")))
    deg = sym.groupBy("__nid").agg(
        F.count(F.lit(1)).alias("__n_near"),
        F.sum(F.when(F.col("nb") < F.col("__nid"), 1).otherwise(0)).alias(
            "__n_smaller"
        ),
    )
    return (
        assigned.join(deg, assigned[id_col] == deg["__nid"], "left")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.coalesce("__n_near", F.lit(0)).cast("bigint").alias("n_near"),
            F.when(F.coalesce("__n_smaller", F.lit(0)) == 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("kept"),
        )
    )


def semdedup_corpus_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = KMEANS_K,
    n_iter: int = KMEANS_ITERS,
    threshold: float = 0.8,
    *,
    two_level: bool = False,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The materialized state an INCREMENTAL SemDeDup probe runs
    against: ``(survivors, codebook)``.

    - ``survivors`` is the corpus' greedy min-id keep set with its cell
      and vector (``cell, corpus_id, __cv``);
    - ``codebook`` holds the codebook frames the FINAL corpus
      assignment pass used — not re-derived from the assignment, so a
      probed batch sees exactly the geometry the stored assignment
      saw.  Its keys are the stored artifact names
      (``index_store.SEM_INDEX_LAYOUT``): ``{"cents"}`` for the flat
      fit, ``{"fmap", "occ"}`` for the two-level fit (the fine codebook
      with its coarse routing, and the occupied-coarse codebook) —
      exactly the dict :func:`_kmeans_fit` returns.

    The flat fixed-k fit is the oracle anchor the unrolled DuckDB
    replay matches.  The deployment form passes ``k=None``
    (:func:`recommended_kmeans_k`, so the within-cell survivor pair
    stream stays LINEAR in the corpus) and ``two_level=True`` (O(n·√k)
    scored rows per pass where the flat fit's n·k is quadratic when
    k ∝ n).

    In production both sides live as tables updated per ingestion
    batch (:func:`semdedup_index_write`); the in-query forms recompute
    them per query — the probe/verify stages are the recurring cost
    (the x53 framing)."""
    if k is None:
        k = recommended_kmeans_k(corpus.count())
    if not two_level:
        # same loud guard as semdedup_keep: the flat fixed-k index is
        # the oracle anchor, not the deployment shape
        _warn_fixed_k_scale(corpus.select(id_col).count(), k)
    assigned, codebook = _kmeans_fit(
        _vec_frame(corpus, id_col, vec_col), k, n_iter, two_level=two_level
    )
    # a corpus vector is dropped iff a SMALLER-id same-cell neighbor is
    # near it (the x45 greedy rule) — only the drop side is needed here
    pairs = _cell_near_pairs(assigned, "__vid", "cell", "__v", threshold)
    dropped = pairs.select(F.col("id_b").alias("__did")).distinct()
    survivors = assigned.join(
        dropped, assigned["__vid"] == dropped["__did"], "left_anti"
    ).select(
        "cell", F.col("__vid").alias("corpus_id"), F.col("__v").alias("__cv")
    )
    return survivors, codebook


def semdedup_incremental_candidates(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = KMEANS_K,
    n_iter: int = KMEANS_ITERS,
    threshold: float = 0.8,
) -> DataFrame:
    """The distinct ``(batch_id, corpus_id)`` candidate pairs the
    incremental probe scores — the operator's true WORK driver (the
    keep decision is the thresholded aggregate of these; bench_scale's
    accounting counts THIS), mirroring
    :func:`embedding_lsh_candidates` for the LSH family."""
    survivors, codebook = semdedup_corpus_index(
        corpus, id_col, vec_col, k, n_iter, threshold
    )
    bassigned = _assign_to_codebook(_vec_frame(batch, id_col, vec_col), codebook)
    return bassigned.join(survivors, "cell").select(
        F.col("__vid").alias("batch_id"), "corpus_id"
    )


def semdedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = KMEANS_K,
    n_iter: int = KMEANS_ITERS,
    threshold: float = 0.8,
    *,
    two_level: bool = False,
) -> DataFrame:
    """Incremental semantic dedup — the embedding member of the
    steady-state ingestion triad (exact: x1b anti-join on
    fingerprints; MinHash: x53 cross-side LSH probe; this: SemDeDup
    against an existing corpus).  A NEW batch is assigned to the
    EXISTING k-means cells (one codebook probe pass — the x51
    coarse-probe shape; no corpus re-clustering) and each batch
    vector is kept iff NO same-cell corpus SURVIVOR sits at cosine ≥
    ``threshold`` (every corpus vector precedes every batch vector in
    the greedy ordering, so any near survivor wins; dropped corpus
    vectors are represented by their survivor, the SemDeDup
    representative rule).  No within-corpus and no within-batch pairs:
    the recurring cost is |batch| × E[survivors/cell], not O(corpus²).

    Scale shape: the corpus index and the probe share one codebook
    shape (:func:`semdedup_corpus_index` — ``k=None`` sizes the cells
    to the corpus, ``two_level=True`` keeps both the index build and
    the recurring probe at O(n·√k) scored rows); the probe join
    shuffles batch and survivor rows BY CELL only; the keep
    aggregation collapses the candidate stream map-side.  The
    auto-k form is rows-only at the driver — k depends on a runtime
    ``count()``, so no fixed SQL text can replay it.

    Output per batch vector: ``(id, cluster_id, n_corpus_near,
    best_sim, kept)`` — neighbor degree among corpus survivors, the
    best quantized similarity (NULL when no survivor is near: the
    nullable-BIGINT rule, x31/x42 precedent), and the 0/1 keep flag.
    """
    # k is resolved here, not only in the index: the probe's
    # broadcast-or-shard decision needs it without a codebook count job
    if k is None:
        k = recommended_kmeans_k(corpus.count())
    survivors, codebook = semdedup_corpus_index(
        corpus, id_col, vec_col, k, n_iter, threshold, two_level=two_level
    )
    bassigned = _assign_to_codebook(
        _vec_frame(batch, id_col, vec_col),
        codebook,
        broadcast_fine=k <= FINE_CODEBOOK_BROADCAST_MAX_K,
    )
    return _probe_keep(bassigned, survivors, id_col, threshold)


def _probe_keep(
    bassigned: DataFrame,
    survivors: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """The probe's keep decision — shared tail of
    :func:`semdedup_incremental` and :func:`semdedup_incremental_stored`
    (either codebook shape): join the assigned
    batch (``__vid``, ``__v``, ``cell``) to the same-cell corpus
    survivors, threshold the quantized cosine, aggregate per batch
    vector (map-side collapse), and emit the x54 output row."""
    thr = int(round(threshold * 10000))
    # side norms once per batch/survivor row, not per verify pair
    bn = bassigned.withColumn("__bn", l2_norm(F.col("__v")))
    sn = survivors.withColumn("__sn", l2_norm(F.col("__cv")))
    near = (
        bn.join(sn, "cell")
        .select(
            "__vid",
            sim_q(
                cosine_pre(
                    F.col("__v"), F.col("__cv"), F.col("__bn"), F.col("__sn")
                )
            ).alias("__sim"),
        )
        .filter(F.col("__sim") >= thr)
        .groupBy("__vid")
        .agg(
            F.count(F.lit(1)).alias("__n_near"),
            F.max("__sim").alias("__best"),
        )
    )
    return (
        bassigned.join(near, "__vid", "left")
        .select(
            F.col("__vid").alias(id_col),
            F.col("cell").alias("cluster_id"),
            F.coalesce("__n_near", F.lit(0)).cast("bigint").alias(
                "n_corpus_near"
            ),
            F.col("__best").alias("best_sim"),
            F.when(F.col("__n_near").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("kept"),
        )
    )


def semdedup_index_write(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    *,
    k: int | None = KMEANS_K,
    n_iter: int = KMEANS_ITERS,
    threshold: float = 0.8,
    two_level: bool = False,
) -> None:
    """Materialize the SemDeDup corpus index
    :func:`semdedup_incremental_stored` probes — the BUILD half of the
    production split (the :func:`pq_index_write` pattern applied to
    the semantic-dedup state).  One parquet artifact per frame of
    :func:`semdedup_corpus_index` under ``index_dir``:

    - ``survivors`` — the corpus' greedy min-id keep set
      (``cell, corpus_id, __cv``), the rows every future batch is
      verified against;
    - the codebook of the final corpus assignment pass under its own
      name(s) — ``cents`` (flat), or ``fmap`` + ``occ`` (two-level) —
      so a probed batch sees exactly the geometry the stored survivors
      saw.

    Doubles round-trip parquet bit-exactly, so a stored index queried
    by :func:`semdedup_incremental_stored` returns byte-identical rows
    to :func:`semdedup_incremental` with the same fit on the same
    corpus — which is what lets the stored registration share x54's
    DuckDB oracle text verbatim.  The two-level auto-k shape
    (``k=None, two_level=True``) is the one to store beyond ~10× sf0.1;
    the flat fixed-k shape is the oracle anchor."""
    survivors, codebook = semdedup_corpus_index(
        corpus, id_col, vec_col, k, n_iter, threshold, two_level=two_level
    )
    index_store.write_index(
        {"survivors": survivors, **codebook}, index_dir, index_store.SEM_INDEX_LAYOUT
    )


def semdedup_incremental_stored(
    spark,
    index_dir: str,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental semantic dedup against a STORED corpus index
    (:func:`semdedup_index_write`) — the QUERY half of the production
    split.  The recurring per-batch cost is exactly the probe: one
    assignment pass over the batch against whichever codebook the
    index stores (:func:`_assign_to_codebook`) and the same-cell
    survivor verify (:func:`_probe_keep` against the stored
    ``survivors``).  No k-means training, no corpus scan and no corpus
    pair stream in the per-query plan; byte-identical to
    :func:`semdedup_incremental` with the same fit on the same corpus
    by construction."""
    codebook = index_store.read_index(spark, index_dir, index_store.SEM_INDEX_LAYOUT)
    survivors = codebook.pop("survivors")
    bassigned = _assign_to_codebook(_vec_frame(batch, id_col, vec_col), codebook)
    return _probe_keep(bassigned, survivors, id_col, threshold)


def semdedup_index_append(
    spark,
    index_dir: str,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """The MAINTENANCE half of the stored SemDeDup split: probe the
    batch against the stored index (:func:`semdedup_incremental_stored`),
    then append the KEPT vectors — with their assigned cell — to the
    stored survivor set, so the NEXT batch's probe sees today's
    admissions as corpus.  Arrival order IS the greedy ordering:
    every earlier vector precedes every later one, the x45 min-id
    rule lifted to ingestion time.  Within-batch near-pairs are NOT
    deduped against each other (exactly
    :func:`semdedup_incremental`'s documented semantics — a batch is
    one atomic arrival); the next batch sees all of them.

    The verdicts are eagerly pinned (``localCheckpoint``) before the
    write so the append job never reads the directory it writes, and
    the returned verdict rows are the pinned ones — the caller's
    decision layer and the appended survivors can never disagree.
    The codebook is immutable (batches are assigned to the EXISTING
    geometry); re-centering is a rebuild, not an append."""
    verdict = semdedup_incremental_stored(
        spark, index_dir, batch, id_col, vec_col, threshold
    ).localCheckpoint()
    bv = batch.select(
        F.col(id_col).alias("__kid"), _as_double(vec_col).alias("__cv")
    )
    kept = (
        verdict.filter(F.col("kept") == 1)
        .select(id_col, F.col("cluster_id").alias("cell"))
        .join(bv, F.col(id_col) == F.col("__kid"))
        .select("cell", F.col(id_col).alias("corpus_id"), "__cv")
    )
    index_store.write_index(
        {"survivors": kept}, index_dir, index_store.SEM_INDEX_LAYOUT, append=True
    )
    return verdict


def embedding_neardup_pairs(
    vectors: DataFrame, id_col: str, vec_col: str, threshold: float = 0.8
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force O(n²) —
    BroadcastNestedLoopJoin).

    NOT the production path: this is the pytest ground-truth oracle
    for :func:`embedding_neardup_lsh`, run only on small slices."""
    a = vectors.select(
        F.col(id_col).alias("id_a"), _as_double(vec_col).alias("__va")
    ).withColumn("__na", l2_norm(F.col("__va")))
    b = vectors.select(
        F.col(id_col).alias("id_b"), _as_double(vec_col).alias("__vb")
    ).withColumn("__nb", l2_norm(F.col("__vb")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            sim_q(
                cosine_pre(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                )
            ).alias("sim"),
        )
        # round, not int(): 0.043*10000 is 429.999… in binary — int()
        # would silently lower the cutoff by one quantum
        .filter(F.col("sim") >= int(round(threshold * 10000)))
    )


def recommended_kmeans_k(n_vectors: int, target_cell: int = 250) -> int:
    """Cell count that keeps the EXPECTED cell population near
    ``target_cell`` — the deployment policy for :func:`semdedup_keep`:
    within-cell pair work is O(Σ cell²), so a FIXED k makes the pair
    stream quadratic in the corpus while k ∝ n keeps cells
    constant-size and the pair stream linear (the IVF trade;
    :func:`recommended_n_planes` is the same policy for LSH buckets).
    Floored at ``KMEANS_K`` so small corpora keep the registered
    oracle-checked configuration."""
    return max(KMEANS_K, n_vectors // target_cell)


def recommended_n_planes(n_vectors: int, target_bucket: int = 256) -> int:
    """Plane count that keeps the EXPECTED bucket population near
    ``target_bucket``: 2^planes buckets per table ⇒
    ``ceil(log2(n / target))`` planes, floored at 6.

    Within-bucket candidate generation is O(width²) per bucket, so the
    plane count must grow with the corpus — a fixed 6 planes (64
    buckets) that is fine at 10⁵ vectors degrades toward O(n²/64) at
    10⁹.  More planes also lower per-table recall (p^planes); callers
    raising ``n_planes`` for a bigger corpus should raise ``n_tables``
    to compensate (recall ≈ 1-(1-p^planes)^tables)."""
    if n_vectors <= target_bucket:
        return 6
    return max(6, math.ceil(math.log2(n_vectors / target_bucket)))


def embedding_lsh_candidates(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int | None = None,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 4,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """The distinct ``(id_a, id_b)`` candidate pairs the bucket join
    emits — the input to the cosine verify and therefore the
    operator's true WORK driver (the final near-dup output is the
    threshold-filtered subset, which can legitimately be empty while
    the verify stage still did real per-candidate work; bench_scale's
    output-growth accounting counts THIS).  Shared candidate stage of
    :func:`embedding_neardup_lsh` — see there for the bucket-join and
    hot-bucket-cap rationale."""
    if n_planes is None:
        n_planes = recommended_n_planes(vectors.count())
    buckets_arr = lsh_bucket_array(vec_col, n_planes, dim, seed, n_tables)
    tagged = vectors.select(
        F.col(id_col).alias("__vid"), F.explode(buckets_arr).alias("__b")
    ).select(
        "__vid", F.col("__b.tbl").alias("__tbl"), F.col("__b.bkt").alias("__bkt")
    )
    tagged = _cap_buckets(tagged, max_bucket, ["__tbl", "__bkt"])
    a = tagged.select(
        F.col("__vid").alias("id_a"), "__tbl", "__bkt"
    )
    b = tagged.select(
        F.col("__vid").alias("id_b"), "__tbl", "__bkt"
    )
    return (
        a.join(b, on=["__tbl", "__bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def embedding_neardup_lsh(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.8,
    n_planes: int | None = None,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 4,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH
    buckets — the scale path (no O(n²) join anywhere in the plan).

    Candidate pairs come from an equi-join on (table, bucket): only
    vectors agreeing on the full sign pattern of one plane set pair
    up.  Pairs are deduped across tables *before* the cosine verify,
    so each distinct pair's similarity is computed once; the heavy
    vector payload moves only in the final id equi-joins.

    Two guards keep the bucket join sub-quadratic at corpus scale:

    * ``n_planes=None`` (default) sizes the plane count from the actual
      corpus (one column-pruned count job →
      :func:`recommended_n_planes`), so bucket population stays near
      the target instead of O(n/2^6) with a fixed default;
    * ``max_bucket`` drops degenerate hot buckets (identical or
      near-zero vectors collapsing into one sign pattern) BEFORE the
      pair self-join — widths are pre-counted and over-cap buckets
      semi-joined away by the MinHash path's own cap
      (``dedup._cap_buckets``), so no reducer ever sees the O(width²)
      pair blow-up.  Vectors that bucket-collide that hard are exact
      dups better handled by exact dedup first.

    Approximate by construction: a true near-dup pair that lands in
    different buckets in all ``n_tables`` tables is missed (recall
    ≈ 1-(1-p^planes)^tables where p = 1 - θ/π).  The brute-force
    :func:`embedding_neardup_pairs` is its pytest oracle on small
    slices."""
    cand = embedding_lsh_candidates(
        vectors, id_col, vec_col, n_planes, dim, seed, n_tables, max_bucket
    )
    # side norms once per vector row, not per candidate pair (cosine_pre)
    va = vectors.select(
        F.col(id_col).alias("id_a"), _as_double(vec_col).alias("__va")
    ).withColumn("__na", l2_norm(F.col("__va")))
    vb = vectors.select(
        F.col(id_col).alias("id_b"), _as_double(vec_col).alias("__vb")
    ).withColumn("__nb", l2_norm(F.col("__vb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            sim_q(
                cosine_pre(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                )
            ).alias("sim"),
        )
        .filter(F.col("sim") >= int(round(threshold * 10000)))
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-scaling step past SQ8
# --------------------------------------------------------------------------


def _pq_qmax(v: DataFrame) -> DataFrame:
    """ONE row ``qmax``: the global quantizer max ``max |x|`` over every
    component of ``emb``."""
    return v.agg(F.max(F.array_max(F.transform("emb", F.abs))).alias("qmax"))


def _pq_qv(emb: str) -> Column:
    """The int64 component quantization ``qv`` of ``emb`` against the
    ``qmax`` column in scope — x * (127/qmax), NOT (x*127)/qmax: the
    x23 shared tree, so both engines replay the exact same doubles."""
    return F.transform(
        emb, lambda x: F.floor(x * (F.lit(127.0) / F.col("qmax"))).cast("bigint")
    ).alias("qv")


def _pq_quantize(v: DataFrame, qmax: DataFrame | None = None) -> DataFrame:
    """Add ``qv`` (:func:`_pq_qv`) to ``v`` against a 1-row broadcast
    ``qmax`` (:func:`_pq_qmax` of ``v`` unless given)."""
    mx = _pq_qmax(v) if qmax is None else qmax
    return v.join(F.broadcast(mx)).select(*v.columns, _pq_qv("emb"))


def _pq_codebook(qz: DataFrame, n_codewords: int) -> DataFrame:
    """ONE row holding the sampled codebook — the ``n_codewords``
    lowest-id vectors as (cb_id, cqv) structs in id order.  A
    deterministic seeding baseline (the x3e µ-quantized-cells
    precedent); production would k-means each subspace without
    changing the plumbing."""
    return qz.filter(F.col("vec_id") < n_codewords).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("vec_id").alias("cb_id"), F.col("qv").alias("cqv"))
            )
        ).alias("cb")
    )


def _pq_subspace_width(dim: int, m: int) -> int:
    d4 = dim // m
    assert d4 * m == dim, "dim must divide into m equal subspaces"
    return d4


def _pq_sqdist_expr(d4: int) -> str:
    """Exact int64 squared L2 between one subspace slice of ``qv`` and
    codeword ``c`` (order-independent integer sum)."""
    return (
        f"aggregate(zip_with(slice(qv, s * {d4} + 1, {d4}),"
        f" slice(c.cqv, s * {d4} + 1, {d4}),"
        f" (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )


def _pq_codes_expr(m: int, d4: int, n_codewords: int) -> str:
    """Per-subspace argmin codes — ordered on ``dist·n_codewords +
    cb_id`` (the integer-key ranking rule), evaluated entirely in
    whole-stage codegen."""
    return (
        f"transform(sequence(0, {m - 1}), s ->"
        f" CAST(array_min(transform(cb, c -> {_pq_sqdist_expr(d4)}"
        f" * {n_codewords} + c.cb_id)) % {n_codewords} AS INT))"
    )


def _pq_dtab_expr(m: int, d4: int) -> str:
    """Per-query ADC distance table: m × n_codewords exact int64
    query→codeword distances (codebook array order = cb_id order)."""
    return (
        f"transform(sequence(0, {m - 1}), s ->"
        f" transform(cb, c -> {_pq_sqdist_expr(d4)}))"
    )


def _pq_adc_expr(m: int) -> str:
    """ADC score: Σ_s dtab[s][code_s] — table lookups only, the
    candidate vector itself is never read at query time."""
    return (
        f"CAST(aggregate(sequence(0, {m - 1}), 0L, (acc, s) ->"
        f" acc + element_at(element_at(dtab, s + 1),"
        f" element_at(codes, s + 1) + 1)) AS BIGINT)"
    )


def pq_index(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    m: int = 4,
    n_codewords: int = 16,
    cell_col: str | None = None,
) -> dict[str, DataFrame]:
    """Build the product-quantization index (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011) as a dict of
    named frames — the ``PQ_INDEX_LAYOUT`` artifacts :func:`pq_topk`
    probes, whether used in-query or written once by
    :func:`pq_index_write` and read back with ``index_store.read_index``:

    * ``codebook`` — ONE row ``(cb, qmax)``: the codeword structs plus
      the global quantizer max, so the query side replays the exact
      ``floor(x · (127/qmax))`` tree the codes were built with
      (bit-identical doubles after a parquet round-trip);
    * ``codes`` — ``(vec_id, [cell,] codes array<int>)``: m small ints
      per vector, the 100 TB-resident part (4 × 4 bits here vs 64
      float32 components — the scan that replaces the corpus scan);
    * ``centroids`` — with ``cell_col`` only: the µ-quantized IVF cell
      means (:func:`cell_centroids`) the probe ranking needs; the codes
      then carry their cell, the inverted-file shape.

    Where SQ8 (x23) compresses 4× (float32→int8 per component), PQ
    stores ``m`` codes per vector: the index that still fits in memory
    when 100 TB of float32 embeddings cannot.  The quantizer max is one
    1-row aggregate shared by the quantization and the codebook row;
    the codebook is one collected row cross-joined broadcast
    (bounded-BNLJ allowlist), and code assignment runs entirely in
    whole-stage codegen (nested ``transform``/``aggregate`` HOFs, no
    shuffle, no UDF).  The per-subspace argmin orders on
    ``dist · n_codewords + codeword_id`` — the integer-key rule."""
    d4 = _pq_subspace_width(dim, m)
    keep = [F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("emb")]
    if cell_col is not None:
        keep.insert(1, F.col(cell_col).alias("cell"))
    v = vectors.select(*keep)
    qmax = _pq_qmax(v)
    qz = _pq_quantize(v, qmax)
    cb = _pq_codebook(qz, n_codewords)
    index = {
        "codebook": cb.crossJoin(qmax),
        # coding joins ``cb`` alone, below which ``qv`` is already
        # materialized; quantizing here from the (cb, qmax) row instead
        # would inline ``qv`` into every codeword lambda
        "codes": qz.crossJoin(F.broadcast(cb)).select(
            *[c for c in v.columns if c != "emb"],
            F.expr(_pq_codes_expr(m, d4, n_codewords)).alias("codes"),
        ),
    }
    if cell_col is not None:
        index["centroids"] = cell_centroids(vectors, cell_col, vec_col)
    return index


def pq_index_write(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    *,
    dim: int,
    m: int = 4,
    n_codewords: int = 16,
    cell_col: str | None = None,
) -> None:
    """Materialize :func:`pq_index` under ``index_dir`` — the BUILD
    half of the production split (Jégou et al.'s index lives on disk;
    x50's in-query coding re-trains it per run, ~90 s of the measured
    1000x wall).  With ``cell_col`` the codes are hive-partitioned BY
    CELL (the ``PQ_INDEX_LAYOUT`` rule), so the probe join's dynamic
    partition pruning opens only the probed cells' files — at 100 TB
    the per-query scan is the probed posting lists' bytes, not the
    whole codes artifact filtered after the read."""
    index_store.write_index(
        pq_index(
            vectors, id_col, vec_col,
            dim=dim, m=m, n_codewords=n_codewords, cell_col=cell_col,
        ),
        index_dir,
        index_store.PQ_INDEX_LAYOUT,
    )


def _pq_scored(
    index: dict[str, DataFrame],
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    m: int,
    n_probe_cells: int | None,
) -> DataFrame:
    """The ADC-scored candidate stream ``(query_id, neighbor_id,
    adc_dist)`` of ``queries`` against a :func:`pq_index` dict.

    Queries are quantized from the codebook row's ``qmax`` into
    |queries|·m·n_codewords distance tables, broadcast.  Flat: every
    code row is a candidate.  IVF (``n_probe_cells`` set): each query
    ranks the ``centroids`` by 1e-4-quantized cosine (integer-key rule,
    cell-id tiebreak) and keeps its ``n_probe_cells`` best cells, whose
    probe rank rides along as ``__r``; the candidate join then keys the
    codes BY CELL against that broadcast probe set, so each query
    touches only its probed posting lists."""
    d4 = _pq_subspace_width(dim, m)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("emb")
        )
        .crossJoin(F.broadcast(index["codebook"]))
        .select("query_id", "cb", F.col("emb").alias("__qemb"), _pq_qv("emb"))
        .select("query_id", "__qemb", F.expr(_pq_dtab_expr(m, d4)).alias("dtab"))
    )
    if n_probe_cells is None:
        cand, probe_rank = index["codes"].crossJoin(F.broadcast(q)), []
    else:
        probe_w = Window.partitionBy("query_id").orderBy(
            F.col("__csimq").desc(), F.col("cell")
        )
        probes = (
            q.crossJoin(F.broadcast(index["centroids"]))
            .withColumn(
                "__csimq", sim_q(cosine(F.col("__qemb"), F.col("centroid")))
            )
            .withColumn("__r", F.row_number().over(probe_w))
            .filter(F.col("__r") <= n_probe_cells)
            .select("query_id", "cell", "__r", "dtab")
        )
        cand, probe_rank = index["codes"].join(F.broadcast(probes), "cell"), ["__r"]
    return cand.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        *probe_rank,
        F.expr(_pq_adc_expr(m)).alias("adc_dist"),
    )


def pq_topk(
    index: dict[str, DataFrame],
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    m: int = 4,
    k: int = 10,
    n_probe_cells: int | None = None,
) -> DataFrame:
    """ADC top-k of ``queries`` against a PQ index dict
    (:func:`pq_index`, in-query or read back from disk): per query, sum
    the per-subspace query→codeword distance-table lookups of every
    candidate's codes (asymmetric distance computation) and keep the
    ``k`` smallest, ``neighbor_id`` breaking ties.  Output
    ``(query_id, neighbor_id, rank, adc_dist)``; a query never returns
    itself.

    ``n_probe_cells`` set makes it IVFADC (Jégou et al. §V): the
    inverted-file coarse quantizer (:func:`ivf_topk`'s cell probe)
    prunes the SCAN to the probed cells' posting lists while PQ shrinks
    what each entry STORES to m codes — the production 100 TB ANN
    shape.  This variant codes raw vectors (IVF-Flat + PQ codes);
    classic IVFADC codes residuals x − centroid, a recall refinement
    that changes none of the plumbing.

    Engine determinism: every distance is an exact int64 sum of squared
    int differences (order-independent), and the probe ranking uses
    µ-quantized centroids, so both engines rank identical values.  An
    index read back from disk returns byte-identical rows to the
    in-query build — one code path — which is what lets the stored
    registrations share the in-query DuckDB oracle texts verbatim.

    Scale shape: against a stored index the per-query plan holds no
    training stages (no corpus-wide max aggregate, no code assignment;
    the embedding column is never read), and the only wide operation is
    the final per-query ranking window, which ``rank ≤ k`` plans as
    WindowGroupLimit (map-side group-limit before the query_id
    exchange)."""
    scored = _pq_scored(
        index, queries, id_col, vec_col, dim=dim, m=m, n_probe_cells=n_probe_cells
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def ivfpq_recall_dial(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    *,
    dim: int,
    m: int = 4,
    n_codewords: int = 16,
    n_queries: int = 8,
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """Recall@k of the IVFADC index (:func:`pq_topk` with
    ``n_probe_cells``) against the exact cosine top-k, graded at several
    ``nprobe`` settings in ONE query — the production tuning dial: IVF
    pruning COMPOUNDS PQ error (Jégou et al. §V report exactly this
    recall-vs-nprobe trade), so the pair must be graded together (x52
    grades flat PQ only).

    Single-pass shape: candidates are ADC-scored ONCE against the
    widest probe set (:func:`_pq_scored` with max nprobe cells per
    query, each candidate row carrying its cell's probe rank — cells
    are disjoint, so a neighbor has exactly one rank per query); each
    dial setting is then a rank-filtered top-k window over that one
    scored stream, never a re-scan.  Recall is exact integer ppm over
    the quantized-ranked exact top-k (the x30/x52 recipe); both
    comparison inputs are top-k-bounded.

    Output: ``(query_id, nprobe, n_hit, recall_ppm)`` — monotone
    non-decreasing in nprobe by construction (a wider probe set only
    adds candidates)."""
    queries = vectors.filter(F.col(id_col) < n_queries)
    scored = _pq_scored(
        pq_index(
            vectors, id_col, vec_col,
            dim=dim, m=m, n_codewords=n_codewords, cell_col=cell_col,
        ),
        queries, id_col, vec_col, dim=dim, m=m, n_probe_cells=max(nprobes),
    )
    np_dim = local_frame(
        vectors.sparkSession, [(n,) for n in nprobes], "nprobe int"
    )
    dial = scored.join(F.broadcast(np_dim), F.col("__r") <= F.col("nprobe"))
    w = Window.partitionBy("query_id", "nprobe").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    pq_topk_rows = (
        dial.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .select("query_id", "nprobe", "neighbor_id", F.lit(1).alias("__hit"))
    )
    exact = cosine_topk(
        vectors.select(F.col(id_col), F.col(vec_col)),
        id_col,
        vec_col,
        queries=queries.select(F.col(id_col), F.col(vec_col)),
        k=k,
    ).select("query_id", "neighbor_id")
    return (
        exact.crossJoin(F.broadcast(np_dim))
        .join(pq_topk_rows, ["query_id", "nprobe", "neighbor_id"], "left")
        .groupBy("query_id", "nprobe")
        .agg(F.count("__hit").alias("n_hit"))
        .select(
            "query_id",
            "nprobe",
            "n_hit",
            F.expr(f"n_hit * 1000000 DIV {k}").alias("recall_ppm"),
        )
    )


def _rp_sign_matrix_expr(r_dim: int, dim: int) -> str:
    """The ±1 Johnson–Lindenstrauss sign matrix as ONE in-plan
    expression: ``sign(j, i) = 1 - 2·(h % 2)`` where ``h`` is the
    portable md5→int recipe (``conv(substr(md5('rp:j:i'),1,8),16,10)``
    ≡ DuckDB ``('0x' || substr(md5(...),1,8))::BIGINT``) — both engines
    DERIVE the identical matrix from the same hash text, so nothing is
    spliced or collected.  Achlioptas (JMLR 2003) shows ±1 entries
    satisfy the JL guarantee with the same distortion bound as
    Gaussian projections."""
    return (
        f"transform(sequence(0, {r_dim - 1}), j ->"
        f" transform(sequence(0, {dim - 1}), i ->"
        f" 1 - 2 * (CAST(conv(substr(md5(concat('rp:', CAST(j AS STRING),"
        f" ':', CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2)))"
    )


def reduced_recall_dial(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    r_dim: int,
    n_queries: int = 8,
    k: int = 10,
) -> DataFrame:
    """Recall@k of two DIMENSION-REDUCED exact scans vs the full-dim
    exact cosine top-k, graded side by side in one query:

    - ``rp``      — signed random projection (Achlioptas/JL): ``rv[j] =
      Σ_i sign(j,i)·qv[i]`` over the x23-quantized int components, an
      exact int64 matrix-vector product;
    - ``prefix``  — coordinate truncation (the matryoshka baseline):
      the first ``r_dim`` quantized components verbatim.

    Both store ``r_dim`` int64s per vector (4× fewer than the 64-dim
    input at r_dim=16) and rank candidates on the reduced-space cosine
    quantized to 1e-4 (integer-key ordering rule) — the dial that says
    whether a cheap oblivious projection beats dropping coordinates at
    equal memory budget, complementing the PQ (x52) and IVFADC (x55)
    dials.

    Engine determinism: reductions, dots and norms are exact int64
    sums; the only float step is ONE shared expression tree
    ``dot / sqrt(nq·nc)`` over exactly-representable ints (mult, div
    and sqrt are correctly rounded — the a20 moment-stats rule), then
    floor-quantized.  Zero-norm reduced vectors are filtered on both
    engines before ranking.

    Scale shape: the sign matrix is one broadcast row (bounded BNLJ);
    reduction and norms run per-row in whole-stage codegen; the scored
    stream is |queries| × |corpus| rows — the same cardinality as the
    exact scan it grades, but moving r_dim ints per row instead of dim
    doubles — closed by rank ≤ k windows (WindowGroupLimit)."""
    v = vectors.select(F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("emb"))
    qz = _pq_quantize(v)
    signs = v.sparkSession.range(1).select(
        F.expr(_rp_sign_matrix_expr(r_dim, dim)).alias("S")
    )
    rp = qz.crossJoin(F.broadcast(signs)).select(
        F.lit("rp").alias("method"),
        "vec_id",
        F.expr(
            f"transform(sequence(0, {r_dim - 1}), j ->"
            f" aggregate(zip_with(qv, element_at(S, j + 1), (a, b) -> a * b),"
            f" 0L, (acc, x) -> acc + x))"
        ).alias("rv"),
    )
    prefix = qz.select(
        F.lit("prefix").alias("method"),
        "vec_id",
        F.expr(f"slice(qv, 1, {r_dim})").alias("rv"),
    )
    red = (
        rp.unionByName(prefix)
        .withColumn("n2", F.expr("aggregate(rv, 0L, (acc, x) -> acc + x * x)"))
        .filter(F.col("n2") > 0)
    )
    qs = red.filter(F.col("vec_id") < n_queries).select(
        "method",
        F.col("vec_id").alias("query_id"),
        F.col("rv").alias("qrv"),
        F.col("n2").alias("qn2"),
    )
    scored = (
        red.join(F.broadcast(qs), "method")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "method",
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(qrv, rv, (a, b) -> a * b),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("dot"),
            "qn2",
            "n2",
        )
    )
    rkey = sim_q(
        F.col("dot").cast("double")
        / F.sqrt(F.col("qn2").cast("double") * F.col("n2").cast("double"))
    )
    w = Window.partitionBy("method", "query_id").orderBy(
        rkey.desc(), F.col("neighbor_id")
    )
    approx = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("method", "query_id", "neighbor_id", F.lit(1).alias("__hit"))
    )
    exact = cosine_topk(
        vectors, id_col, vec_col,
        queries=vectors.filter(F.col(id_col) < n_queries), k=k,
    ).select("query_id", "neighbor_id")
    methods = local_frame(v.sparkSession, [("prefix",), ("rp",)], "method string")
    return (
        exact.crossJoin(F.broadcast(methods))
        .join(approx, ["method", "query_id", "neighbor_id"], "left")
        .groupBy("method", "query_id")
        .agg(F.count("__hit").alias("n_hit"))
        .select(
            "method",
            "query_id",
            "n_hit",
            F.expr(f"n_hit * 1000000 DIV {k}").alias("recall_ppm"),
        )
    )


def sq8_recall_dial(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_queries: int = 8,
    k: int = 10,
    rescore_depth: int = 20,
) -> DataFrame:
    """Recall@k of the SQ8 index (x23's int8 scalar quantization) vs
    the full-precision cosine top-k, at both points of its own
    pipeline:

    - ``sq8``          — the raw int8 dot-product ranking (what a pure
      quantized scan returns);
    - ``sq8_rescore``  — x23's production shape: top-``rescore_depth``
      int8 candidates rescored with the exact cosine.

    Together with x52 (PQ), x55 (IVFADC probe dial) and x57 (linear
    reductions) this completes the compression-quality matrix — and the
    pair quantifies exactly what the rescore step buys.  Structural
    guarantee (pinned by pytest): rescore recall ≥ raw recall for every
    query, because any exact-top-k member inside the candidate set
    outranks every non-member under the same quantized-cosine key the
    exact side uses.

    Engine determinism: candidate scores are exact int64 dots; both
    the rescore and exact rankings order on the 1e-4-quantized cosine
    with id tiebreak (integer-key rule).  Scale shape: one quantized
    corpus scan against a broadcast query set (|queries| × n int
    dots), rank ≤ depth via WindowGroupLimit, then only
    |queries| × depth float rescores.  The ranked stream carries IDS
    AND THE INT SCORE ONLY — the full double arrays are reattached by
    an id join for just the rescore candidates (the round-7
    'payload moves once per pass' rule; the windowed |queries| × n
    sort never sees a 64-dim payload — the shape that OOMed the x45
    argmax at the 2 M-vector point)."""
    v = vectors.select(F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("emb"))
    qz = _pq_quantize(v)
    q = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qqv"),
    )
    scored = (
        qz.select("vec_id", "qv")
        .join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(qqv, qv, (a, b) -> a * b),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("iscore"),
        )
    )
    w_int = Window.partitionBy("query_id").orderBy(
        F.col("iscore").desc(), F.col("neighbor_id")
    )
    ranked = scored.withColumn("__r", F.row_number().over(w_int))
    raw = ranked.filter(F.col("__r") <= k).select(
        F.lit("sq8").alias("method"), "query_id", "neighbor_id"
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("__simq").desc(), F.col("neighbor_id")
    )
    # reattach the double payloads by id join — |queries| × depth
    # candidate rows broadcast against one corpus scan each
    cand = ranked.filter(F.col("__r") <= rescore_depth).select(
        "query_id", "neighbor_id"
    )
    qe = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    rescored = (
        v.join(
            F.broadcast(cand), F.col("vec_id") == F.col("neighbor_id")
        )
        .join(F.broadcast(qe), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            sim_q(cosine(F.col("qemb"), F.col("emb"))).alias("__simq"),
        )
        .withColumn("__rr", F.row_number().over(w_f))
        .filter(F.col("__rr") <= k)
        .select(F.lit("sq8_rescore").alias("method"), "query_id", "neighbor_id")
    )
    approx = raw.unionByName(rescored).withColumn("__hit", F.lit(1))
    exact = cosine_topk(
        vectors, id_col, vec_col,
        queries=vectors.filter(F.col(id_col) < n_queries), k=k,
    ).select("query_id", "neighbor_id")
    methods = local_frame(
        v.sparkSession, [("sq8",), ("sq8_rescore",)], "method string"
    )
    return (
        exact.crossJoin(F.broadcast(methods))
        .join(approx, ["method", "query_id", "neighbor_id"], "left")
        .groupBy("method", "query_id")
        .agg(F.count("__hit").alias("n_hit"))
        .select(
            "method",
            "query_id",
            "n_hit",
            F.expr(f"n_hit * 1000000 DIV {k}").alias("recall_ppm"),
        )
    )
