"""Deduplication operators: exact, MinHash-LSH, n-gram Jaccard.

The scale path for corpus dedup (SURVEY.md X1/X2):

* exact — hash-groupBy on a content hash: one shuffle, no pairwise
  work, the 100 TB default.
* near-dup — shingle → MinHash signatures → LSH banding → candidate
  pairs via an equi-join on (band, signature).  Pairwise cost collapses
  from O(n²) to the candidates sharing a bucket; everything is
  DataFrame ops, so AQE handles bucket skew (a hot bucket = a hot join
  key) with skew-join splitting.
* exact Jaccard on shingle sets — the verifier for candidate pairs
  (and, at small n, a ground-truth oracle for the LSH path).

MinHash here is md5-based (`min(md5(shingle || '#' || band))`): md5 is
a fine uniform hash for min-wise sketching, and being available in
every SQL engine makes the whole pipeline replayable by the DuckDB
oracle — the point where ``ml.feature.MinHashLSH`` (JVM-private hash
families) can't be cross-checked.  Semantics are identical: P(minhash
collision) = Jaccard similarity, banding boosts recall.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineer_project_weather_analytics_spark.operators import index_store


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash groups: canonical (min) id + copy count per
    distinct text.  ``n_copies > 1`` rows are the duplicate sets."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (lowest id) per distinct text — the X1 operator."""
    w_min = exact_dedup_groups(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(w_min, on=id_col, how="left_semi")


def _ngrams_sql(
    toks: str,
    n: int,
    *,
    gram: Callable[[str], str] = lambda g: g,
    elem_type: str = "STRING",
    distinct: bool = False,
) -> str:
    """SQL for the word n-grams of the token-array column ``toks`` —
    the one n-gram definition of the near-dup family (shingles, hashed
    shingle sets, streaming band signatures, x43 spans).

    Each gram is ``gram(<the n tokens joined by ' '>)`` (the joined
    string itself by default; pass ``elem_type`` when ``gram`` changes
    the type).  A document of fewer than ``n`` tokens has no gram: an
    empty ``ARRAY<elem_type>``.  ``distinct`` dedups the grams inside
    the non-empty branch.  ``toks`` must be a materialized column
    (tokenize ONCE behind a projection boundary): slicing an inline
    ``split()`` would re-split the document per gram, O(tokens²)."""
    joined = f"array_join(slice({toks}, i + 1, {n}), ' ')"
    grams = f"transform(sequence(0, size({toks}) - {n}), i -> {gram(joined)})"
    if distinct:
        grams = f"array_distinct({grams})"
    return (
        f"CASE WHEN size({toks}) >= {n} THEN {grams} "
        f"ELSE CAST(array() AS ARRAY<{elem_type}>) END"
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs — the set representation used by
    both MinHash and exact Jaccard.

    Two scale-critical shapes:

    * tokenize ONCE per row behind a projection boundary, then slice
      the materialized token array per shingle — inlining ``split()``
      into the shingle lambda would re-split the document per shingle,
      O(tokens²) per doc (measured ~2× on the bench corpus);
    * per-doc dedup happens *before* the explode with
      ``array_distinct`` (a narrow map-side op), so no ``.distinct()``
      shuffle of the exploded rows is needed — at corpus scale that
      saves a full shuffle of ~|docs|×|shingles| rows.  Output is
      identical because shingle sets never cross documents."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    return toks.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.expr(_ngrams_sql("__toks", n)))).alias(
            "shingle"
        ),
    )


#: Hex prefix length of the portable shingle hash: 15 hex chars = 60
#: bits — fits signed int64 on both engines (Spark ``conv(..,16,10)``
#: ≡ DuckDB ``('0x'||..)::BIGINT``, the round-3 portable-hash rule) and
#: keeps the expected global collision count ~0.1 even at 5 M docs /
#: 5·10⁸ distinct shingles.  Collisions are SHARED: both engines merge
#: the same two shingles, so the oracle can never drift.
SHINGLE_HASH_HEX = 15


def shingle_hash64(col: F.Column | str) -> F.Column:
    """Portable md5-int64 shingle hash (see ``SHINGLE_HASH_HEX``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, SHINGLE_HASH_HEX), 16, 10).cast(
        "bigint"
    )


def _hash64_sql(expr: str) -> str:
    """:func:`shingle_hash64` of the SQL expression ``expr``."""
    return f"CAST(conv(substr(md5({expr}), 1, {SHINGLE_HASH_HEX}), 16, 10) AS BIGINT)"


def doc_shingle_hash_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-doc DISTINCT hashed-shingle SET as an in-row array —
    ``(id, sh_set array<bigint>, set_size int)`` — the verify-side
    representation of the near-dup pipeline (x2f/x53).

    Why hashes instead of the raw 3-word strings: the exact-Jaccard
    verify ships every candidate's shingle set across a shuffle; at
    5 M docs the raw-string stream is ~190 GB and spilled past this
    sandbox's disk (round-10 finding).  A 60-bit md5 hash carries the
    same set semantics at 8 bytes/shingle, and because BOTH engines
    compute the identical ``md5`` prefix, any collision merges the
    same pair of shingles on both sides — verify results stay
    oracle-exact by construction.

    Why an ARRAY instead of exploded rows: set size falls out in-row
    (no extra aggregate), and the pair verify becomes one
    ``array_intersect`` per candidate (|candidates| intermediate rows)
    instead of a |candidates|×shingles/doc exploded join followed by a
    corpus-wide groupBy — see :func:`jaccard_for_candidates_packed`.
    Arrays are bounded by document length, never corpus size.

    Same two scale shapes as :func:`doc_shingles`: tokenize ONCE
    behind a projection boundary, dedup map-side (``array_distinct``
    over the hashes, which also collapses any within-doc collision
    exactly as the oracle's ``list(DISTINCT ...)`` does)."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    sh = F.expr(
        _ngrams_sql("__toks", n, gram=_hash64_sql, elem_type="BIGINT", distinct=True)
    )
    return toks.select(F.col(id_col), sh.alias("sh_set")).withColumn(
        "set_size", F.size("sh_set")
    )


def jaccard_for_candidates_packed(
    doc_sets: DataFrame,
    id_col: str,
    candidates: DataFrame,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact hashed-shingle Jaccard over candidate pairs via in-row
    set intersection — the scale form of
    :func:`jaccard_for_candidates` (x2f/x53 verify stage).

    ``doc_sets`` is :func:`doc_shingle_hash_sets` output.  Two id
    equi-joins attach each side's packed set to the pair, then
    ``size(array_intersect(...))`` scores the pair IN-ROW: the widest
    intermediate is |candidates| rows (two doc-length-bounded arrays
    each) and there is NO post-join aggregation — versus the exploded
    form's |candidates| × shingles/doc join feeding a corpus-wide
    groupBy, which is what spilled past disk at the 5 M-doc point.
    A hot document appearing in many candidate pairs replicates its
    array per pair; that skew is join-key skew on the id, which AQE
    skew-split handles like any other.

    Chance-band-collision pairs sharing no shingle score 0 and fall to
    the threshold filter (the exploded form dropped them via the inner
    join — same output)."""
    a = doc_sets.select(
        F.col(id_col).alias("id_a"),
        F.col("sh_set").alias("__sa"),
        F.col("set_size").alias("size_a"),
    )
    b = doc_sets.select(
        F.col(id_col).alias("id_b"),
        F.col("sh_set").alias("__sb"),
        F.col("set_size").alias("size_b"),
    )
    scored = (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("n_inter"),
            "size_a",
            "size_b",
        )
    )
    return scored.select("id_a", "id_b", _jaccard()).filter(
        F.col("jaccard") >= threshold
    )


def minhash_signatures(
    ds: DataFrame, id_col: str, n_bands: int = 8
) -> DataFrame:
    """Per-(doc, band) min-wise signature over the shingle set.

    All band minima are computed in ONE hash aggregate (n_bands ``min``
    expressions over the same scan) and then unpivoted with ``stack`` —
    no n_bands× row replication before the shuffle, and the shuffle
    carries n_bands partial minima per doc per map task regardless of
    doc size.  (A crossJoin-with-bands formulation is n_bands× more
    shuffle input — measurably slower at corpus scale.)

    Hashing cost is sub-linear in bands: each md5 supplies 32 hex
    chars = four 32-bit band slices, so only ``ceil(n_bands/4)``
    salted md5s are computed per shingle regardless of band count —
    32 independent bits per band keeps cross-doc chance collisions at
    ~n²/2³³ per band (negligible), and the per-band minima remain
    independent min-wise hashes.

    (Delegates to :func:`minhash_with_sizes` — single home for the
    md5-slicing construction the SQL oracle mirrors; the extra count
    aggregate is free.)"""
    return minhash_with_sizes(ds, id_col, n_bands)[0]


def _band_digest_sql(shingle: str, n_bands: int) -> str:
    """SQL for the band digest of ``shingle``: ``ceil(n_bands/4)``
    salted md5s (salt ``'#' * i``) concatenated — each md5 is 32 hex
    chars, i.e. four 8-hex band slices (:func:`_band_slice_sql`).  The
    one construction behind the batch signatures
    (:func:`minhash_with_sizes`) and the streaming per-row bands
    (``streaming.stateful.with_minhash_bands``)."""
    return " || ".join(
        f"md5(concat({shingle}, '{'#' * i}'))" for i in range((n_bands + 3) // 4)
    )


def _band_slice_sql(digest: str, band: int) -> str:
    """SQL for band ``band``'s 32-bit hash: its 8-hex slice of a
    :func:`_band_digest_sql` digest."""
    return f"substring({digest}, {8 * band + 1}, 8)"


def minhash_with_sizes(
    ds: DataFrame, id_col: str, n_bands: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Band signatures AND shingle-set sizes from ONE aggregation.

    The Jaccard verifier needs per-doc set sizes; computing them in the
    same hash aggregate as the band minima means the shingle table is
    scanned and shuffled once for both — Spark's ReuseExchange then
    shares the (id-keyed) exchange between the two consumers.  At
    corpus scale this removes an entire scan+shuffle of the exploded
    shingle table from the near-dup pipeline."""
    digest = _band_digest_sql("shingle", n_bands)
    mins = [
        F.min(F.expr(_band_slice_sql(digest, b))).alias(f"__mh{b}")
        for b in range(n_bands)
    ]
    agg = ds.groupBy(id_col).agg(*mins, F.count(F.lit(1)).alias("set_size"))
    stack_args = ", ".join(f"{b}, __mh{b}" for b in range(n_bands))
    sigs = agg.select(
        F.col(id_col),
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, minhash)"),
    ).select(id_col, F.col("band").cast("int").alias("band"), "minhash")
    sizes = agg.select(id_col, "set_size")
    return sigs, sizes


def _cap_buckets(
    rows: DataFrame, max_bucket: int | None, keys: list[str]
) -> DataFrame:
    """Keep only the ``rows`` of buckets whose width (row count per
    ``keys``) lies in ``[2, max_bucket]`` — the pre-counted hot-bucket
    cap of :func:`lsh_candidate_pairs`, :func:`lsh_candidate_pairs_cross`
    (keys ``band, minhash``) and ``similarity.embedding_lsh_candidates``
    (keys ``__tbl, __bkt``); ``None`` keeps every row."""
    if max_bucket is None:
        return rows
    kept = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__width"))
        .filter((F.col("__width") >= 2) & (F.col("__width") <= max_bucket))
        .select(*keys)
    )
    return rows.join(kept, keys, "left_semi")


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, max_bucket: int | None = None
) -> DataFrame:
    """Docs agreeing on ≥1 band signature → near-dup candidates.

    Shaped as bucket-grouping rather than a self-join: a self-join
    evaluates the (expensive: shingle explode + md5×bands) signature
    pipeline TWICE — Spark only reuses exchanges when both sides
    shuffle identically, and the planner prefers broadcasting one side
    here.  Grouping by (band, minhash) computes signatures once, then
    each bucket's sorted id array emits its pairs with higher-order
    functions (id_a < id_b falls out of the sort).

    ``max_bucket`` caps pair fan-out per bucket (a hot bucket emits
    O(n²) pairs); at corpus scale set it to bound the worst case —
    a bucket that hot means near-identical boilerplate better handled
    by exact dedup first.  Output is the distinct pair set.

    The cap is enforced BEFORE any id array is built: bucket widths
    are counted first (a plain count aggregate whose per-group state is
    one long, never a collection), buckets outside [2, max_bucket] are
    dropped with a semi-join, and only the survivors reach
    ``collect_set``.  A degenerate mega-bucket (100 M ids sharing one
    band signature) therefore never materializes its id array in a
    reducer buffer — filtering on ``size(ids)`` after the collect would
    bound pair emission but not aggregation memory.  The same pre-count
    also discards singleton buckets (the vast majority at corpus scale)
    before the expensive array aggregation.  The kept-bucket set is
    identical by construction, so results match the uncapped-then-
    filtered formulation exactly.  (Width = row count: upstream
    :func:`minhash_signatures` emits exactly one row per (doc, band).)"""
    signatures = _cap_buckets(signatures, max_bucket, ["band", "minhash"])
    buckets = (
        signatures.groupBy("band", "minhash")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = F.expr(
        """
        flatten(transform(ids, (x, i) ->
            transform(slice(ids, i + 2, size(ids) - i - 1), y ->
                struct(x AS id_a, y AS id_b))))
        """
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs_cross(
    signatures: DataFrame,
    id_col: str,
    side_col: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-side LSH candidates: (corpus, batch) pairs agreeing on
    ≥1 band — the probe step of INCREMENTAL near-dedup, where an
    incoming batch is checked against an existing corpus without ever
    forming within-corpus pairs (the steady-state production shape;
    :func:`lsh_candidate_pairs` is the bootstrap).

    Same pre-counted bucket cap as the full form (width = ALL rows in
    the bucket, so the kept-bucket set is identical to the bootstrap
    run's — an incremental pass never probes a bucket the full pass
    would have dropped as degenerate); each kept bucket then emits the
    corpus-ids × batch-ids cross product via sorted arrays, never a
    signature self-join (the signature pipeline is computed ONCE).

    ``side_col`` must be 'train' (corpus) / 'test' (batch) per row
    (:func:`..text.deterministic_split` shape).  Output:
    ``(id_a ∈ corpus, id_b ∈ batch)``, distinct."""
    signatures = _cap_buckets(signatures, max_bucket, ["band", "minhash"])
    buckets = (
        signatures.groupBy("band", "minhash")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.when(F.col(side_col) == "train", F.col(id_col))
                )
            ).alias("ids_a"),
            F.sort_array(
                F.collect_set(
                    F.when(F.col(side_col) == "test", F.col(id_col))
                )
            ).alias("ids_b"),
        )
        .filter((F.size("ids_a") > 0) & (F.size("ids_b") > 0))
    )
    pairs = F.expr(
        """
        flatten(transform(ids_a, x ->
            transform(ids_b, y -> struct(x AS id_a, y AS id_b))))
        """
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def _jaccard() -> F.Column:
    """``jaccard`` = |A∩B| / |A∪B| from ``n_inter``, ``size_a`` and
    ``size_b``.  Unrounded: the inputs are exact ints, so the double
    division is bit-identical in any engine; round() is NOT (Spark
    rounds the shortest decimal string, DuckDB the binary value)."""
    return (
        F.col("n_inter").cast("double")
        / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    ).alias("jaccard")


def _intersections(
    ds: DataFrame,
    id_col: str,
    candidates: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Shingle-intersection counts ``(id_a, id_b, n_inter, size_a,
    size_b)`` over the exploded shingle table ``ds``: for every
    ``candidates`` pair (shingles joined THROUGH the pair table), or,
    with no candidates, for every ``id_a < id_b`` pair sharing a
    shingle (the shingle self-join).  Pairs sharing no shingle have no
    row.  ``sizes`` (``(id, set_size)``) defaults to a count over
    ``ds``."""
    if sizes is None:
        sizes = ds.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = ds.select(F.col(id_col).alias("id_a"), "shingle")
    b = ds.select(F.col(id_col).alias("id_b"), "shingle")
    if candidates is None:
        shared = a.join(b, on="shingle").filter(F.col("id_a") < F.col("id_b"))
    else:
        shared = (
            candidates.select("id_a", "id_b")
            .join(a, "id_a")
            .join(b, ["id_b", "shingle"])
        )
    inter = shared.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def jaccard_for_candidates(
    ds: DataFrame,
    id_col: str,
    candidates: DataFrame,
    threshold: float = 0.2,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard evaluated ONLY over the given candidate pairs —
    the verifier stage of the LSH near-dup pipeline.

    Intersections are counted by joining shingles THROUGH the candidate
    pair table (candidates ⋈ shingles(id_a) ⋈ shingles(id_b) on equal
    shingle), so the verify cost is O(|candidates| × shingles-per-doc)
    — NOT the O(all co-shingle pairs) of a full-corpus
    :func:`jaccard_pairs`, which at corpus scale would defeat the
    point of LSH pruning entirely.

    Candidate pairs whose true Jaccard is below ``threshold`` (or who
    share no shingle at all — possible via chance band collisions) are
    dropped: candidates prune the pair space, the verifier kills the
    false positives.

    Pass ``sizes`` (``(id, set_size)``, e.g. from
    :func:`minhash_with_sizes`) to reuse an already-computed set-size
    table instead of re-scanning ``ds``."""
    return (
        _intersections(ds, id_col, candidates, sizes)
        .select("id_a", "id_b", _jaccard())
        .filter(F.col("jaccard") >= threshold)
    )


def containment_for_candidates(
    ds: DataFrame,
    id_col: str,
    candidates: DataFrame,
    threshold: float = 0.5,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT (|A∩B|/|A| and |A∩B|/|B|) over candidate
    pairs — the quote/inclusion detector Jaccard structurally misses:
    a short document fully embedded in a long one has near-zero
    Jaccard (the union is dominated by the long doc) but containment
    ≈ 1 on the short side.  Broder's resemblance-vs-containment
    distinction; the curation use is stripping quoted/boilerplate
    inclusions rather than near-identical twins.

    Same candidate-pruned shape as :func:`jaccard_for_candidates`
    (intersections join THROUGH the pair table — verify cost is
    O(|candidates|·shingles/doc)); a pair survives when EITHER
    direction reaches ``threshold``.  Both divisions are single
    float ops over exact int64 counts (bit-identical cross-engine).
    """
    return (
        _intersections(ds, id_col, candidates, sizes)
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("n_inter").cast("double") / F.col("size_a")).alias("cont_a"),
            (F.col("n_inter").cast("double") / F.col("size_b")).alias("cont_b"),
        )
        .filter(
            (F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold)
        )
    )


def prefix_filter_pairs(
    ds: DataFrame, id_col: str, threshold_pct: int = 70
) -> DataFrame:
    """High-threshold set-similarity join via PREFIX FILTERING
    (AllPairs/PPJoin lineage) — the exact-recall alternative to LSH:
    no false negatives by construction, where MinHash banding misses
    pairs probabilistically.

    Lemma: under any global token order, if |x∩y| ≥ α then the first
    ``|x|−α+1`` tokens of x and ``|y|−α+1`` of y must intersect.  With
    J(x,y) ≥ t ⇒ |x∩y| ≥ ⌈t·|x|⌉, indexing only each doc's
    ``|x| − ⌈t·|x|⌉ + 1`` RAREST tokens (global df ascending, then
    token — a total order) finds every qualifying pair.  At t=0.7 the
    index holds ~30% of each doc — this is the high-threshold regime
    where prefix filtering beats LSH; at low t the prefix approaches
    the whole set and LSH (x2b) is the right tool.

    Scale shape: global df is one partial-agg shuffle; the df join
    back to the token stream is a SHUFFLE join (vocabulary-sized side
    — the x9 lesson, never broadcast); prefix selection is one
    row_number window per doc (count-over-partition shares the same
    exchange); the candidate join keys on the RAREST tokens, so
    bucket widths are df-bounded-small by construction — the
    hot-bucket problem LSH needs an explicit cap for mostly vanishes
    (an all-stopword doc can still index a common token; verify cost
    stays candidate-pruned regardless).  Verification reuses
    :func:`jaccard_for_candidates`.

    ``threshold_pct`` is an integer percentage so the prefix-length
    arithmetic stays exact int64 (``⌈t·n⌉ = (t_pct·n + 99) DIV 100``)
    — identical in both engines.
    """
    t = threshold_pct / 100.0
    df_tok = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    wc = Window.partitionBy(id_col)
    ranked = (
        ds.join(df_tok, "shingle")
        .select(
            F.col(id_col),
            "shingle",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(wc).alias("__n"),
        )
    )
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__n")
        - F.expr(f"({threshold_pct} * __n + 99) DIV 100")
        + 1
    ).select(F.col(id_col), "shingle")
    a = prefix.select(F.col(id_col).alias("id_a"), "shingle")
    b = prefix.select(F.col(id_col).alias("id_b"), "shingle")
    candidates = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_for_candidates(ds, id_col, candidates, threshold=t)


def duplicate_clusters(
    pairs: DataFrame, max_iterations: int = 12
) -> DataFrame:
    """Connected components over near-dup pairs → duplicate clusters.

    Min-label propagation with a pointer-jumping step per round:
    neighbor-min moves a label one hop, then each node re-reads its
    label's *current* label (path halving), giving O(log(diameter))
    convergence — a plain one-hop loop needs diameter iterations and
    silently splits long chains.  Each round is two shuffles;
    ``localCheckpoint`` truncates the growing lineage.

    Raises if the graph has not converged after ``max_iterations`` —
    a silently-split cluster is worse than a loud failure.

    Input: (id_a, id_b) pairs.  Output: (doc_id, cluster_id) where
    cluster_id is the minimum doc id reachable through the pair graph.
    Oracle-checked: the DuckDB twin computes the same fixpoint with a
    recursive transitive-closure CTE (x2e_dup_clusters); pytest also
    asserts it against a union-find replay."""
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        hop = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # pointer jump: follow my label to ITS label (path halving)
        parents = hop.select(
            F.col("id").alias("__pid"), F.col("cluster_id").alias("__plabel")
        )
        updated = (
            hop.join(parents, hop["cluster_id"] == parents["__pid"], "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("__plabel"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        # lazy: the convergence count right below is the materializing
        # action anyway — eager=True paid one extra whole Spark job per
        # round for the same blocks (r13, guide §1 fixed-job overhead)
        updated = updated.localCheckpoint(eager=False)
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "id")
            .filter(F.col("u.cluster_id") != F.col("l.cluster_id"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            return labels.select(F.col("id").alias("doc_id"), "cluster_id")
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iterations} iterations; "
        "raise max_iterations (component diameter exceeds 2^iterations)"
    )


def jaccard_pairs(
    ds: DataFrame, id_col: str, threshold: float = 0.2
) -> DataFrame:
    """Exact n-gram Jaccard over shingle sets, pairs ≥ threshold.

    Self-join on the shingle (only docs *sharing* a shingle pair up —
    already sub-quadratic), then |∩| vs set sizes.  At corpus scale
    you run this only on LSH candidates; standalone it is the
    ground-truth oracle."""
    return (
        _intersections(ds, id_col)
        .select("id_a", "id_b", _jaccard())
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Stored LSH index: the build / append / probe lifecycle
# ---------------------------------------------------------------------------

def _lsh_index(
    docs: DataFrame, id_col: str, text_col: str, n: int, n_bands: int
) -> dict[str, DataFrame]:
    """The LSH index frames of ``docs`` under their ``LSH_INDEX_LAYOUT``
    names: ``sigs`` (per-(doc, band) MinHash signatures) and ``sets``
    (per-doc packed hashed-shingle sets)."""
    ds = doc_shingles(docs, id_col, text_col, n=n)
    return {
        "sigs": minhash_signatures(ds, id_col, n_bands=n_bands),
        "sets": doc_shingle_hash_sets(docs, id_col, text_col, n=n),
    }


def lsh_index_write(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    *,
    n: int = 3,
    n_bands: int = 8,
) -> None:
    """Materialize the corpus side of the incremental near-dup
    pipeline (x53) as a STORED LSH index — the BUILD half of the
    production split.  Two parquet artifacts under ``index_dir``:
    ``sigs`` (per-(doc, band) MinHash signatures,
    :func:`minhash_signatures`, hive-partitioned BY BAND so band-keyed
    probe stages and band-restricted maintenance open only their
    band's files) and ``sets`` (per-doc packed hashed-shingle sets,
    :func:`doc_shingle_hash_sets`) — everything a future batch probe
    needs; the corpus TEXT is never read again."""
    index_store.write_index(
        _lsh_index(corpus, id_col, text_col, n, n_bands),
        index_dir,
        index_store.LSH_INDEX_LAYOUT,
    )


def lsh_index_append(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    *,
    n: int = 3,
    n_bands: int = 8,
) -> None:
    """The MAINTENANCE half of the stored split: append an ADMITTED
    batch's signatures and packed sets to the stored index, so the
    NEXT batch's probe sees today's admissions as corpus — the
    steady-state ingestion loop (probe → admit survivors → append).
    Which rows to admit is the caller's decision layer (x59's
    verdicts); this appends exactly what it is given.  The written
    data derives only from the batch (the index is never read), so the
    append is a plain additive write — safe while concurrent probes
    hold older file listings."""
    index_store.write_index(
        _lsh_index(batch, id_col, text_col, n, n_bands),
        index_dir,
        index_store.LSH_INDEX_LAYOUT,
        append=True,
    )


def lsh_probe_stored(
    spark,
    index_dir: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    n_bands: int = 8,
    max_bucket: int | None = None,
    threshold: float = 0.2,
) -> DataFrame:
    """Probe an incoming batch against a STORED LSH index
    (:func:`lsh_index_write` / grown by :func:`lsh_index_append`) —
    the QUERY half of the production split and the recurring per-batch
    cost: shingle + sign ONLY the batch, union with the stored corpus
    signatures (bucket caps count BOTH sides, so the kept-bucket set
    is identical to the single-statement form), emit cross-side
    candidates, and verify exact hashed-shingle Jaccard from the
    stored sets + the batch's fresh sets.  Output ``(id_a ∈ corpus,
    id_b ∈ batch, jaccard)`` — byte-identical to the in-query
    x53 computation on the same corpus by construction."""
    stored = index_store.read_index(spark, index_dir, index_store.LSH_INDEX_LAYOUT)
    fresh = _lsh_index(batch, id_col, text_col, n, n_bands)
    sided = (
        stored["sigs"]
        .withColumn("side", F.lit("train"))
        .unionByName(fresh["sigs"].withColumn("side", F.lit("test")))
    )
    cand = lsh_candidate_pairs_cross(
        sided, id_col, "side", max_bucket=max_bucket
    )
    doc_sets = stored["sets"].unionByName(fresh["sets"])
    return jaccard_for_candidates_packed(
        doc_sets, id_col, cand, threshold=threshold
    )


def _hashed_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """``(id, sh)``: each doc's distinct shingles as portable md5-int64
    hashes (``SHINGLE_HASH_HEX``) — the stream both decontamination
    directions match."""
    return doc_shingles(docs, id_col, text_col, n=n).select(
        F.col(id_col), shingle_hash64("shingle").alias("sh")
    )


def _hit_counts(doc_sh: DataFrame, hit_sh: DataFrame, id_col: str) -> DataFrame:
    """Per-doc ``(id, n_shingles, n_hit)``: how many of each doc's
    hashed shingles (``doc_sh``, :func:`_hashed_shingles`) occur in
    ``hit_sh`` (an ``sh`` column, deduped here and broadcast — the
    caller guarantees it is eval-sized).  One left join, one
    map-side-combinable aggregate."""
    hits = F.broadcast(hit_sh.distinct().withColumn("__hit", F.lit(1)))
    return (
        doc_sh.join(hits, "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
    )


def decontamination_scan(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination — flag TRAIN documents sharing at
    least one word n-gram with ANY eval/benchmark document (the
    GPT-3-appendix / Llama-2 contamination rule; the published
    pipelines use 8-13-gram windows, the engine's shingle width is the
    dial).  Output per CONTAMINATED train doc: its distinct-shingle
    count, the number of those shingles that appear anywhere in the
    eval suite, and the contamination fraction (exact-int division —
    bit-portable).

    Scale shape: the eval side's DISTINCT hashed-shingle set is
    broadcast — benchmark suites are fixed-size while the corpus
    grows, so the broadcast is scale-constant in production — and the
    train shingle stream left-joins it in ONE pass closed by one
    map-side-combinable aggregate: corpus-linear, no shuffle of the
    shingle stream.  Portable md5-int64 shingle hashes
    (``SHINGLE_HASH_HEX``): any collision is SHARED with the DuckDB
    oracle, so the check can never drift."""
    esh = _hashed_shingles(eval_docs, id_col, text_col, n).select("sh")
    return (
        _hit_counts(_hashed_shingles(train, id_col, text_col, n), esh, id_col)
        .filter(F.col("n_hit") > 0)
        .select(
            F.col(id_col).alias("train_doc_id"),
            "n_shingles",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_shingles")).alias(
                "contamination"
            ),
        )
    )


def decontamination_eval_coverage(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """The OTHER direction of the decontamination report: per EVAL
    document, the fraction of its shingles that appear anywhere in the
    training corpus — the "dirty eval item" table the published
    contamination appendices report (which benchmark rows are
    compromised and must be excluded from the eval, where
    :func:`decontamination_scan` reports which TRAIN docs to drop).
    Every eval doc with ≥1 shingle appears, zero-hit rows included — a
    coverage report must list the clean items too.

    Scale shape: the corpus-sized side is still consumed in ONE linear
    pass against the broadcast eval shingle set — the train stream is
    semi-joined to the broadcast set and reduced to the DISTINCT hit
    hashes (output bounded by the eval set size, never the corpus),
    then the per-eval-doc arithmetic runs entirely on eval-sized
    tables.  No corpus-wide distinct, no shuffle of the train shingle
    stream."""
    esh_docs = _hashed_shingles(eval_docs, id_col, text_col, n)
    eset = esh_docs.select("sh").distinct()
    hits = (
        _hashed_shingles(train, id_col, text_col, n)
        .select("sh")
        .join(F.broadcast(eset), "sh", "left_semi")
    )
    return (
        _hit_counts(esh_docs, hits, id_col)
        .select(
            F.col(id_col).alias("eval_doc_id"),
            "n_shingles",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_shingles")).alias(
                "coverage"
            ),
        )
    )
