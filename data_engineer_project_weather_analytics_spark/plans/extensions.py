"""Extension query set (SURVEY.md §2.10 / X-family): the LLM-pipeline
operators over ``documents`` and ``embeddings``.

Oracle-backed wherever the semantics are SQL-expressible (md5-based
MinHash, exact Jaccard, brute-force cosine, text stats); the genuinely
non-SQL paths (LSH-ANN with seeded hyperplanes, SimHash vote
aggregation shape, mapInPandas multimodal features) register as
rows-only checks via ``NO_ORACLE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineer_project_weather_analytics_spark.operators import (
    dedup,
    index_store,
    multimodal,
    similarity,
    text,
)
from data_engineer_project_weather_analytics_spark.plans.hints import maybe_broadcast
from data_engineer_project_weather_analytics_spark.sources.catalog import load_table, local_frame


# --------------------------------------------------------------------------
# X1 — exact dedup
# --------------------------------------------------------------------------

def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-groupBy on md5(text) — the 100 TB
    default dedup (one shuffle, no pairwise work)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


def x1b_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: dedup an INCOMING batch against an EXISTING
    corpus — the steady-state shape of a production ingestion pipeline
    (the full-corpus re-dedup of ``x1`` is the bootstrap, this is every
    day after).  The deterministic id-hash split stands in for the
    corpus/batch boundary.

    Plan: fingerprints on both sides (in-row md5), one ``left_anti``
    equi-join on the fingerprint (drops anything already in the
    corpus), then a hash-groupBy keeps the lowest-id copy within the
    batch.  At 100 TB the corpus side is a parquet scan of ONE
    fingerprint column (pruned at the reader) and the anti-join
    shuffles only fingerprints — the text never moves."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        text.fingerprint("text").alias("fingerprint"),
        text.deterministic_split("doc_id").alias("__split"),
    )
    corpus = fp.filter(F.col("__split") == "train").select("fingerprint")
    incoming = fp.filter(F.col("__split") == "test")
    return (
        incoming.join(corpus, "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fingerprint")
    )


# --------------------------------------------------------------------------
# X2 — MinHash + LSH near-dup
# --------------------------------------------------------------------------

def x2_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, band) MinHash signature over 3-word shingles."""
    docs = load_table(spark, sf_dir, "documents")
    ds = dedup.doc_shingles(docs, "doc_id", "text", n=3)
    return dedup.minhash_signatures(ds, "doc_id", n_bands=8)


#: LSH bucket-width cap: a bucket wider than this is near-identical
#: boilerplate better handled by exact dedup first; capping bounds the
#: per-bucket pair fan-out to O(cap²) instead of O(n²) on a hot bucket.
LSH_MAX_BUCKET = 100

#: Same guard for the embedding (sign-pattern) LSH tables — buckets
#: this wide mean exact-duplicate vectors; drop them before the pair
#: self-join (mirrored by the x3b oracle's kept-bucket CTE).
EMB_LSH_MAX_BUCKET = 1000


def x2b_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: doc pairs agreeing on ≥1 band signature.

    Capped at ``LSH_MAX_BUCKET`` docs per bucket — one degenerate hot
    bucket would otherwise ``collect_set`` an unbounded id array on a
    single reducer and emit O(n²) pairs."""
    sigs = x2_minhash_signatures(spark, sf_dir)
    return dedup.lsh_candidate_pairs(sigs, "doc_id", max_bucket=LSH_MAX_BUCKET)


def x2c_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.1 — ground truth the LSH
    candidates are verified against."""
    docs = load_table(spark, sf_dir, "documents")
    ds = dedup.doc_shingles(docs, "doc_id", "text", n=3)
    return dedup.jaccard_pairs(ds, "doc_id", threshold=0.1)


def x2f_lsh_verified_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup pipeline: LSH candidates verified
    by exact Jaccard ≥ 0.1 over PORTABLE-HASHED shingle sets.  The
    verify work is computed ONLY for candidate pairs, and each pair is
    scored in-row from packed 60-bit-hash arrays
    (:func:`dedup.jaccard_for_candidates_packed`): the widest verify
    intermediate is |candidates| rows — the raw-string exploded join
    it replaces was ~190 GB at 5 M docs and spilled past sandbox disk
    (round-10 finding).  Hash collisions are shared with the DuckDB
    oracle by construction (same md5 prefix), so the verify stays
    oracle-exact."""
    docs = load_table(spark, sf_dir, "documents")
    ds = dedup.doc_shingles(docs, "doc_id", "text", n=3)
    sigs = dedup.minhash_signatures(ds, "doc_id", n_bands=8)
    candidates = dedup.lsh_candidate_pairs(sigs, "doc_id", max_bucket=LSH_MAX_BUCKET)
    doc_sets = dedup.doc_shingle_hash_sets(docs, "doc_id", "text", n=3)
    return dedup.jaccard_for_candidates_packed(
        doc_sets, "doc_id", candidates, threshold=0.1
    )


def x53_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: an INCOMING batch LSH-probed against an
    EXISTING corpus and Jaccard-verified — x1b's steady-state
    ingestion shape applied to the x2f near-dup pipeline.  The
    deterministic id-hash split stands in for the corpus/batch
    boundary (train = corpus, test = batch).

    Scale shape: candidates are the corpus×batch cross product WITHIN
    kept buckets only (lsh_candidate_pairs_cross — same pre-counted
    [2, max] bucket cap as the bootstrap, so no within-corpus pairs
    and no signature self-join); the verifier scores candidate pairs
    in-row from packed hashed-shingle sets
    (:func:`dedup.jaccard_for_candidates_packed` — the raw-string
    exploded verify spilled past disk at the 5 M-doc point, round 10).
    At 100 TB the corpus side's signature table would be a
    materialized index updated per batch — the probe and verify
    stages measured here are the recurring cost."""
    docs = load_table(spark, sf_dir, "documents")
    ds = dedup.doc_shingles(docs, "doc_id", "text", n=3)
    sigs = dedup.minhash_signatures(ds, "doc_id", n_bands=8)
    sided = sigs.withColumn("side", text.deterministic_split("doc_id"))
    cand = dedup.lsh_candidate_pairs_cross(
        sided, "doc_id", "side", max_bucket=LSH_MAX_BUCKET
    )
    doc_sets = dedup.doc_shingle_hash_sets(docs, "doc_id", "text", n=3)
    return dedup.jaccard_for_candidates_packed(
        doc_sets, "doc_id", cand, threshold=0.1
    ).select(
        F.col("id_a").alias("corpus_doc_id"),
        F.col("id_b").alias("batch_doc_id"),
        "jaccard",
    )


#: stored-LSH-index root — the x53 docstring's "at 100 TB the corpus
#: side's signature table would be a materialized index updated per
#: batch", made literal (the x50b pattern applied to MinHash-LSH)
_LSH_INDEX_ROOT = "/tmp/spark_graft_lsh_index"


def x53b_incremental_neardup_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x53 split into the production BUILD/QUERY halves: the CORPUS
    side's band signatures AND packed hashed-shingle sets are
    materialized to parquet once (build); the recurring query shingles
    + signs ONLY the incoming batch, unions it with the stored corpus
    signatures (bucket caps count BOTH sides, so the kept-bucket set
    is identical to x53's single-statement form), probes cross-side
    candidates, and verifies from the stored corpus sets + the
    batch's freshly packed sets.  The corpus text is never re-read at
    query time — per-batch cost is |batch| shingling plus the probe
    and verify stages.  Byte-identical to x53 by construction →
    shares x53's oracle text verbatim."""
    return _lsh_stored(spark, sf_dir, retract_hex=None)


def _lsh_stored(
    spark: SparkSession, sf_dir: str, retract_hex: str | None
) -> DataFrame:
    """The x53b/x53c body: build (once per corpus file) the stored LSH
    index of the train split — minus the docs whose md5 sorts below
    ``retract_hex``, when set — and probe the test split."""
    docs = load_table(spark, sf_dir, "documents")
    split = text.deterministic_split("doc_id")

    def build(idx: str) -> None:
        corpus = docs.filter(split == "train")
        dedup.lsh_index_write(corpus, "doc_id", "text", idx, n=3, n_bands=8)
        if retract_hex is not None:
            retracted = corpus.filter(
                F.md5(F.col("doc_id").cast("string")) < retract_hex
            ).select("doc_id")
            index_store.delete_from_index(
                spark, idx, index_store.LSH_INDEX_LAYOUT, retracted
            )

    idx = index_store.stored_index(
        _LSH_INDEX_ROOT, "lsh_retracted" if retract_hex else "lsh",
        [f"{sf_dir}/documents.parquet"],
        {"split": "train", "n": 3, "n_bands": 8, "retract": retract_hex},
        build,
    )
    batch = docs.filter(split == "test")
    return dedup.lsh_probe_stored(
        spark, idx, batch, "doc_id", "text",
        n=3, n_bands=8, max_bucket=LSH_MAX_BUCKET, threshold=0.1,
    ).select(
        F.col("id_a").alias("corpus_doc_id"),
        F.col("id_b").alias("batch_doc_id"),
        "jaccard",
    )


#: hex threshold of the deterministic "retracted re-crawl" slice:
#: corpus docs with md5(doc_id) < '08' (~3.1 %) are DELETED from the
#: stored index after the build (x53c) — the doc ids a production
#: pipeline would retract on takedown/re-crawl.  Below the 'cd' train
#: threshold by construction, so only corpus-side docs are affected.
RETRACT_SPLIT_HEX = "08"


def x53c_incremental_neardup_retracted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The stored-index RETRACTION made oracle-checked end-to-end
    (r12): build the x53b corpus index, then DELETE the deterministic
    re-crawl slice (``RETRACT_SPLIT_HEX``) from the stored signatures
    and packed sets (operators/index_store.py:delete_from_index — the
    index-layer ON DELETE CASCADE, crash-safe staged swap), then probe
    the incoming batch against the post-delete index.  Because each
    doc's signature/set rows derive only from that doc, deletion is
    row-identical to a full rebuild on the retained corpus (pinned by
    the lifecycle pytest), so the oracle is x53's text with the
    corpus narrowed to the retained docs — any ghost row a broken
    delete left behind (a retracted doc still matching probes) fails
    the hash check immediately."""
    return _lsh_stored(spark, sf_dir, retract_hex=RETRACT_SPLIT_HEX)


#: hex threshold of the deterministic "benchmark/eval" slice: docs with
#: md5(doc_id) ≥ 'fa' (~2.3 %) stand in for the FIXED eval suite the
#: decontamination rule protects — disjoint from the 'cd' train side by
#: construction ('cd' < 'fa')
EVAL_SPLIT_HEX = "fa"


def x61_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:
    decontamination_scan): the training split scanned for word-n-gram
    collisions against the eval/benchmark slice — the curation stage
    every published LLM data pipeline runs before training, and the
    one dedup direction the x2/x53 family doesn't cover (train↔eval,
    not train↔train).  One corpus-linear pass against the broadcast
    eval shingle set; per contaminated train doc: shingle count, hit
    count, contamination fraction."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(text.deterministic_split("doc_id") == "train")
    evals = docs.filter(
        F.md5(F.col("doc_id").cast("string")) >= EVAL_SPLIT_HEX
    )
    return dedup.decontamination_scan(train, evals, "doc_id", "text", n=3)


#: the fixed eval-suite size of the PRODUCTION decontamination contract
#: (x61b): benchmark suites don't grow with the corpus, so the eval
#: side is pinned to this many docs at every scale — what makes the
#: broadcast truly scale-constant and the whole scan input-linear
EVAL_SUITE_ROWS = 64

#: x61b's shingle width: the published contamination rules match on
#: 8-13-gram windows (GPT-3 appendix C uses 13-grams, Llama 2 tokenized
#: 8+-token spans); 8 is the conservative end of that band
DECON_SHINGLE_N = 8


def x61b_decontamination_fixed_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination at the PRODUCTION shape (VERDICT r11 task 4):
    x61's scan with the two knobs set to the published contracts —
    the eval suite held at a FIXED row count (the lowest
    ``EVAL_SUITE_ROWS`` doc_ids of the eval slice: benchmark suites
    are fixed while the corpus grows, so the broadcast shingle set is
    scale-CONSTANT, not merely scale-proportional like x61's synthetic
    slice) and 8-gram shingle windows (the GPT-3/Llama-2 band, where
    x61's 3-grams over-flag).  Same one-pass broadcast-join shape
    (operators/dedup.py:decontamination_scan); input-linear at any
    replica, which is what lets this form carry a 1000× BENCH_SCALE
    point where x61 cannot."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(text.deterministic_split("doc_id") == "train")
    evals = (
        docs.filter(F.md5(F.col("doc_id").cast("string")) >= EVAL_SPLIT_HEX)
        .orderBy("doc_id")
        .limit(EVAL_SUITE_ROWS)
    )
    return dedup.decontamination_scan(
        train, evals, "doc_id", "text", n=DECON_SHINGLE_N
    )


def x61c_contamination_eval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The per-EVAL-doc direction of the decontamination report
    (operators/dedup.py:decontamination_eval_coverage): for every doc
    of the FIXED eval suite (x61b's 64-doc/8-gram contract), the
    fraction of its shingles appearing anywhere in the training corpus
    — the "dirty benchmark item" table the published contamination
    appendices report, complementing x61/x61b's which-train-docs-to-
    drop view.  Zero-hit eval rows included (a coverage report lists
    the clean items too).  Corpus side: one linear pass reduced to the
    DISTINCT hit hashes (bounded by the eval set), so the per-doc
    arithmetic runs on eval-sized tables only."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(text.deterministic_split("doc_id") == "train")
    evals = (
        docs.filter(F.md5(F.col("doc_id").cast("string")) >= EVAL_SPLIT_HEX)
        .orderBy("doc_id")
        .limit(EVAL_SUITE_ROWS)
    )
    return dedup.decontamination_eval_coverage(
        train, evals, "doc_id", "text", n=DECON_SHINGLE_N
    )


def x2d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (md5-nibble bit votes)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.simhash16(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# X3 — embedding similarity
# --------------------------------------------------------------------------

def x3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (k = similarity.ANN_TOPK) for query
    vectors vec_id < 10."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, "vec_id", "embedding", queries, k=similarity.ANN_TOPK)


def x3b_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ 0.8, via random-hyperplane
    LSH buckets — candidates from a (table, bucket) equi-join, cosine
    verified per distinct pair, hot buckets dropped before the pair
    join (``EMB_LSH_MAX_BUCKET``).  No O(n²) join anywhere; the DuckDB
    oracle replays the same seeded hyperplanes as SQL literals and the
    same kept-bucket filter."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_lsh(
        emb, "vec_id", "embedding", threshold=0.8, n_planes=6, dim=64,
        seed=42, n_tables=4, max_bucket=EMB_LSH_MAX_BUCKET,
    )


def x3f_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup: nearest-centroid assignment
    (µ-quantized codebook over the label groups), pairwise cosine only
    within assigned cells, ≥ 0.8.  The cluster-based counterpart to
    the hyperplane-LSH x3b."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_neardup(
        emb, "vec_id", "embedding", "label", threshold=0.8
    )


def x3g_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means assignment over the embedding
    corpus (k=8, 3 assignment passes): the label-free clustering
    substrate for corpus bucketing / IVF codebook training — x3f's
    coarse cells derived from the vectors alone.  Portable-hash
    seeding + µ-quantized centroid updates make the whole iteration
    engine-replayable; the DuckDB oracle unrolls the three passes as
    CTE stages."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_assign(emb, "vec_id", "embedding")


def x45_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decision (Abbas et al., arXiv:2303.09540)
    over the label-free k-means cells: a vector is dropped when a
    same-cell neighbor at cosine ≥ 0.8 has a smaller id (greedy min-id
    representative).  The dedup *decision* layer above x3f (pair
    emission) and x3g (cluster assignment); the surviving corpus is
    ``kept = 1``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup_keep(emb, "vec_id", "embedding")


def x54_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup (operators/similarity.py:
    semdedup_incremental): an INCOMING embedding batch probed against
    the EXISTING corpus' k-means cells and kept only if no same-cell
    corpus SURVIVOR sits at cosine ≥ 0.8 — the embedding member of the
    steady-state ingestion triad (x1b exact, x53 MinHash).  The
    deterministic id-hash split stands in for the corpus/batch
    boundary (train = corpus, test = batch), exactly like x53.  No
    corpus re-clustering and no within-corpus or within-batch pairs:
    the recurring cost is the batch-side probe + same-cell survivor
    verify, which bench_scale accounts as the candidate-pair stream.
    The DuckDB oracle replays the whole path by splicing the unrolled
    k-means CTE chain with the corpus predicate."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = text.deterministic_split("vec_id")
    corpus = emb.filter(split == "train")
    batch = emb.filter(split == "test")
    return similarity.semdedup_incremental(
        corpus, batch, "vec_id", "embedding",
        k=similarity.KMEANS_K, n_iter=similarity.KMEANS_ITERS, threshold=0.8,
    )


#: stored-SemDeDup-index root — completes the stored-index triad
#: (x50b/x51b PQ codes, x53b LSH signatures, this: the semantic-dedup
#: corpus state x54's docstring says "in production both sides live as
#: tables updated per ingestion batch")
_SEM_INDEX_ROOT = "/tmp/spark_graft_sem_index"


def x54b_incremental_semdedup_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """x54 split into the production BUILD/QUERY halves: the corpus'
    greedy-survivor set and its k-means codebook are materialized to
    parquet once (`semdedup_index_write`); the recurring query assigns
    ONLY the incoming batch against the stored codebook and verifies
    against the stored same-cell survivors
    (`semdedup_incremental_stored`).  No k-means training and no
    corpus pair stream in the per-query plan — the recurring cost is
    the probe itself.  Byte-identical to x54 by construction → shares
    x54's oracle text verbatim."""
    return _semdedup_stored(spark, sf_dir, k=similarity.KMEANS_K, two_level=False)


def _semdedup_stored(
    spark: SparkSession, sf_dir: str, k: int | None, two_level: bool
) -> DataFrame:
    """The x54b/x54c body: build (once per corpus file and fit) the
    stored SemDeDup index of the train split, probe the test split."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = text.deterministic_split("vec_id")
    params = {
        "split": "train", "k": k, "n_iter": similarity.KMEANS_ITERS,
        "threshold": 0.8, "two_level": two_level,
    }
    idx = index_store.stored_index(
        _SEM_INDEX_ROOT, "sem_auto" if two_level else "sem",
        [f"{sf_dir}/embeddings.parquet"], params,
        lambda d: similarity.semdedup_index_write(
            emb.filter(split == "train"), "vec_id", "embedding", d,
            k=k, n_iter=similarity.KMEANS_ITERS, threshold=0.8,
            two_level=two_level,
        ),
    )
    batch = emb.filter(split == "test")
    return similarity.semdedup_incremental_stored(
        spark, idx, batch, "vec_id", "embedding", threshold=0.8
    )


def x3c_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding components (IVF coarse-quantizer)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb, "label", "embedding")


def x3d_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets.  The
    seeded planes are deterministic, so the DuckDB oracle replays them
    as SQL literals (same construction as x3b)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_ann_topk(emb, "vec_id", "embedding", queries, k=similarity.ANN_TOPK)


# --------------------------------------------------------------------------
# X4 — text analysis
# --------------------------------------------------------------------------

def x4_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_token_count("text").alias("n_bpe_tokens"),
        text.avg_token_length("text").alias("avg_token_len"),
    )


def x4b_language_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def x4c_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.stopword_ratio("text").alias("stopword_ratio"),
        text.quality_flag("text").alias("is_quality"),
    )


def x4d_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.language_id("text").alias("predicted_lang"))


def x6_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/20 corpus split by id hash — reproducible
    sharding for training pipelines (content- and partition-order-
    independent)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.deterministic_split("doc_id").alias("split"),
    )


def x7_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check: test docs sharing ≥ 3 word-3-gram
    shingles with any train doc — the standard eval-decontamination
    sweep, composed from the split + shingle operators.  Output is the
    contaminated (test_doc, train_doc) pairs with their overlap."""
    docs = load_table(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id", text.deterministic_split("doc_id").alias("split")
    )
    ds = dedup.doc_shingles(docs, "doc_id", "text", n=3).join(split, "doc_id")
    test_sh = ds.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "shingle"
    )
    train_sh = ds.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        test_sh.join(train_sh, "shingle")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= 3)
    )


def x4f_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style quality signals per document — all
    in-row Catalyst expressions, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_signals(docs, "doc_id", "text")


def x4g_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters: duplicate 2-/3-gram fractions and the
    top bigram's share, per document — in-row n-gram construction over
    the materialized token array, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_signals(docs, "doc_id", "text")


def x8_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by occurrence (tokenizer /
    vocab-building pass).  One explode + one partial-agg shuffle +
    TakeOrdered — no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(100)
    )


def x9_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by TF-IDF.

    IDF uses the *rational* surrogate ``(N + 1) / (df + 1)`` instead of
    its logarithm: the ranking it induces per document is identical
    (log is monotone), and ``tf · (N+1)`` is exact integer arithmetic
    followed by ONE double division — bit-identical in every engine,
    where ``ln()`` may differ in the last ulp between libm
    implementations.  Term stats are two partial-agg shuffles; only the
    1-row corpus-count side broadcasts — the document-frequency table
    is VOCABULARY-sized (one row per distinct term, unbounded on a real
    corpus), so its join with ``tf`` shuffles on ``term``: ``df_`` is
    already partitioned by ``term`` from its own groupBy, so the join
    reuses that exchange and only re-hashes ``tf``."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(text.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("__tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    nd = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            (
                (F.col("__tf") * (F.col("__n") + F.lit(1))).cast("double")
                / (F.col("__df") + F.lit(1))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", "tfidf")
    )


def x20_boilerplate_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection (CCNet/RefinedWeb-style): shingles that
    recur across ≥1% of the corpus are boilerplate (headers, footers,
    navigation chrome); emit each document's boilerplate fraction so a
    downstream filter can drop template-heavy pages.

    Plan (r12 optimization): tokenize-once distinct shingles
    (``doc_shingles``), one partial-agg shuffle on ``shingle`` for
    document frequency, then the df table is FILTERED to the
    boilerplate set before it ever meets the shingle stream.  Unlike
    the full df table (vocabulary-sized — the x9 never-broadcast
    lesson), the ≥1%-of-docs set is provably corpus-size-bounded:
    Σ df ≤ n_docs·s̄ (s̄ = mean shingles/doc), so at most 100·s̄
    shingles can clear df ≥ n_docs/100 — a constant as the corpus
    grows.  It therefore BROADCASTS into a left join on the stream
    (the decontamination-scan shape), replacing the old
    vocabulary-wide shuffle join back: two keyed shuffles total (df
    agg + per-doc rollup) instead of three, and the widest stream is
    never re-shuffled on ``shingle``.  Output identical: the old
    inner join against the FULL df table kept every stream row too.

    Cross-engine: the boilerplate test is exact integers
    (``df × 100 ≥ n_docs``); the fraction is ONE unrounded double
    division (the x2c rule)."""
    docs = load_table(spark, sf_dir, "documents")
    ds = dedup.doc_shingles(docs, "doc_id", "text")
    df_ = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    nd = docs.agg(F.count(F.lit(1)).alias("__n_docs"))
    boiler = (
        df_.join(F.broadcast(nd))
        .filter(F.col("__df") * 100 >= F.col("__n_docs"))
        .select("shingle", F.lit(1).alias("__b"))
    )
    return (
        ds.join(F.broadcast(boiler), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("__b", F.lit(0))).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_shingles")).alias(
                "boiler_frac"
            ),
        )
    )


def x4e_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = text.fingerprint("text")
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("fp_prefix")
    )


def x10_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    layout: within each shard (= lang here), documents are concatenated
    in deterministic id order and chunked into fixed 2048-token
    training sequences; a document may straddle a boundary.

    One window cumsum per shard + exact integer arithmetic: each doc's
    tokens occupy ``[cum - n, cum)``, so its first/last sequence and
    in-sequence offset are integer divisions.  Packing is shard-local
    (PARTITION BY), exactly like production pipelines — a single global
    cumsum would serialize the corpus through one reducer."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("lang", "doc_id", text.token_count("text").alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("__cum", F.sum("n_tokens").over(w))
    return c.select(
        "lang",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr("(__cum - n_tokens) DIV 2048").alias("start_seq"),
        F.expr("(__cum - 1) DIV 2048").alias("end_seq"),
        F.expr("(__cum - n_tokens) % 2048").alias("offset_in_seq"),
    )


#: Literal PII-bearing fixture docs (shared verbatim with the oracle —
#: the synthetic corpus contains no PII, so the redaction path gets its
#: own value-hash-checked inputs, like the weather ingestion family).
PII_DOCS: tuple[tuple[int, str], ...] = (
    (1, "contact me at alice.smith+spam@example.co.uk or +84912345678 now"),
    (2, "server 10.0.42.7 logged ssn 123-45-6789 and bob@test.org twice"),
    (3, "no sensitive content in this perfectly ordinary sentence"),
    (4, "edge: v1.2.3.4 release notes mention 999-99-9999 and x@y.io"),
)


def x11_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the fixture docs: redacted text + per-category
    hit counts (audit trail).  Chained regexp_replace in codegen."""
    docs = local_frame(spark, PII_DOCS, "doc_id long, text string")
    return docs.select(
        "doc_id",
        text.redact_pii("text").alias("redacted"),
        *text.pii_counts("text"),
    )


#: per-language sampling rates for the corpus-mixing sweep: md5-prefix
#: thresholds, so the rate is a hex string compare (engine-portable,
#: partition-order-independent — same construction as the x6 split).
#: 'cd'/256 ≈ 80.1 %, '33'/256 ≈ 19.9 %, '80'/256 = 50.0 %.
STRATA_THRESHOLDS: tuple[tuple[str, str], ...] = (
    ("en", "33"),   # downsample the dominant language
    ("de", "cd"),
    ("fr", "cd"),
    ("zh", "80"),
)
DEFAULT_STRATUM_THRESHOLD = "cd"


def x15_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile quality gate: drop each language's bottom
    20 % by distinct-token ratio — the relative (per-stratum) quality
    cut that complements the absolute thresholds of x4c/x4f.

    Scale shape: a naive ``cume_dist() OVER (PARTITION BY lang ORDER
    BY quality)`` shuffles EVERY row of a language to one sort — with
    a handful of languages over 100 TB that is a guaranteed skew
    cliff.  Instead the cumulative distribution is computed on the
    aggregated (lang, quality) value table (groupBy + running sum over
    the distinct values — thousands of rows, not billions) and joined
    back by (lang, quality), so the big table sees only one hash
    aggregate and one equi-join.  ``pctile`` = exact #(rows ≤ q)/n —
    an int/int division, bit-identical cross-engine; the DuckDB oracle
    states the same thing with the window form."""
    docs = load_table(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id", "lang", text.tokens("text").alias("__toks")
    ).select(
        "doc_id",
        "lang",
        (
            F.size(F.array_distinct(F.col("__toks"))).cast("double")
            / F.size(F.col("__toks"))
        ).alias("quality"),
    )
    by_val = sig.groupBy("lang", "quality").agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.partitionBy("lang")
        .orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = by_val.withColumn("__cum", F.sum("__c").over(w))
    tot = by_val.groupBy("lang").agg(F.sum("__c").alias("__n"))
    pct = cum.join(tot, "lang").select(
        "lang",
        "quality",
        (F.col("__cum").cast("double") / F.col("__n")).alias("pctile"),
    )
    # the value table is bounded by |langs| x |distinct ratios| (a
    # function of doc-length combinatorics, not corpus row count) —
    # size-conditional broadcast turns the join-back into a map-side
    # lookup and leaves ONE aggregate shuffle in the whole plan
    return (
        sig.join(maybe_broadcast(pct), ["lang", "quality"])
        .filter(F.col("pctile") > 0.2)
        .select("doc_id", "lang", "quality", "pctile")
    )


def x17_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window token chunking with overlap (50-token windows,
    10-token overlap) — narrow rowwise expansion, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, "doc_id", "text", max_tokens=50, overlap=10)


def x18_source_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level corpus filtering (the blocklist-by-measurement
    shape): score every doc in-row, aggregate mean quality per SOURCE,
    and keep only docs from above-average sources — how production
    pipelines drop spammy domains wholesale rather than doc-by-doc.

    Determinism: per-doc quality is an int/int division; the per-source
    and global means floor-quantize the INPUT to ints and take exact
    integer sums before one double division (order-independent, the
    label_centroids rule), so the ≥-comparison of the two derived
    doubles is engine-stable.  Scale: one scan, one groupBy(source),
    a 1-row global broadcast, and a size-conditional broadcast of the
    kept-source list back onto the fact — the source dimension is
    bounded by the domain universe, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "source", text.tokens("text").alias("__toks")
    ).select(
        "doc_id",
        "source",
        F.floor(
            F.size(F.array_distinct(F.col("__toks"))).cast("double")
            / F.size(F.col("__toks"))
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("__q"),
    )
    per_source = q.groupBy("source").agg(
        (
            F.sum("__q").cast("double")
            / (F.count(F.lit(1)) * F.lit(1000000).cast("long"))
        ).alias("source_quality"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    global_mean = q.agg(
        (
            F.sum("__q").cast("double")
            / (F.count(F.lit(1)) * F.lit(1000000).cast("long"))
        ).alias("__g")
    )
    kept = (
        per_source.join(F.broadcast(global_mean))
        .filter(F.col("source_quality") >= F.col("__g"))
        .select("source", "source_quality")
    )
    return q.join(maybe_broadcast(kept), "source").select(
        "doc_id", "source", "source_quality"
    )


def x19_unigram_prob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: each document's mean corpus
    unigram probability — the cheap KenLM-perplexity stand-in for
    fluency/commonness filtering (rare-token gibberish scores low).

    No ``ln()`` anywhere (libm last-ulp drift is not cross-engine
    safe — repo rule): the score is ``Σ count(tok) / (n_doc · N)``,
    exact BIGINT sums with ONE double division at the end.

    Scale: term counts partial-aggregate map-side; the term join is a
    plain shuffle join (vocabulary-sized side never broadcast — the
    x9 lesson); N is a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("__c"))
    n_total = toks.agg(F.count(F.lit(1)).alias("__n"))
    return (
        toks.join(vocab, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__c").alias("__s"),
        )
        .join(F.broadcast(n_total))
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("__s").cast("double")
                / (F.col("n_tokens") * F.col("__n")).cast("double")
            ).alias("mean_unigram_p"),
        )
    )


def x16_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composed production pass that
    the x-family operators exist for:

    1. in-row signals on ONE scan (repetition ratios carried with the
       doc via ``repetition_signals(keep=...)`` + length/stopword
       quality band);
    2. filter to docs passing BOTH gates;
    3. exact dedup of survivors (hash-groupBy on the fingerprint,
       lowest id survives via ``min_by`` — deterministic, no sort);
    4. reproducible train/test assignment on the way out.

    Total plan cost at any scale: one scan + ONE shuffle (the dedup
    aggregate) — signals, filters, and the split are all narrow."""
    docs = load_table(spark, sf_dir, "documents")
    sig = text.repetition_signals(docs, "doc_id", "text", keep=("lang", "text"))
    kept = sig.filter(F.col("rep_pass") & text.quality_flag("text"))
    deduped = (
        kept.groupBy(text.fingerprint("text").alias("fingerprint"))
        .agg(
            F.min_by(F.struct("doc_id", "lang"), F.col("doc_id")).alias("__r")
        )
        .select(F.col("__r.doc_id").alias("doc_id"), F.col("__r.lang").alias("lang"))
    )
    return deduped.select(
        "doc_id", "lang", text.deterministic_split("doc_id").alias("split")
    )


def x14_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding post-processing: unit-normalize, then matryoshka-style
    truncation to the first 16 dims with re-normalization — the
    standard retrieval-index preparation pair, all higher-order
    functions (one narrow projection, no shuffle, no Python).

    Checked outputs carry quantized scalars only (repo rule: no raw
    arrays): the original L2 norm and an md5 digest of the
    1e-4-quantized truncated unit vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)
    )
    head = F.slice(v, 1, 16)
    head_norm = F.sqrt(
        F.aggregate(
            F.zip_with(head, head, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
        )
    )
    unit16 = F.transform(head, lambda x: x / head_norm)
    q16 = F.transform(unit16, lambda x: F.floor(x * F.lit(10000.0)).cast("long"))
    return emb.select(
        "vec_id",
        F.floor(norm * F.lit(10000.0)).cast("long").alias("norm_q"),
        F.md5(F.array_join(q16, ",")).alias("unit16_digest"),
    )


def x13_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus resampling — the corpus-mixing
    primitive of training-data pipelines (rebalance languages/sources
    by downsampling dominant strata).  A doc survives iff the md5 of
    its id is below its stratum's hex threshold: reproducible across
    runs, engines, and partitionings (what ``sample()``'s RNG is not),
    and a pure narrow filter — no shuffle, no state.  Output keeps the
    stratum and the threshold for audit."""
    docs = load_table(spark, sf_dir, "documents")
    thr = F.lit(DEFAULT_STRATUM_THRESHOLD)
    for lang, t in reversed(STRATA_THRESHOLDS):
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    h = F.md5(F.col("doc_id").cast("string"))
    return (
        docs.select("doc_id", "lang", thr.alias("threshold"), h.alias("__h"))
        .filter(F.col("__h") < F.col("threshold"))
        .select("doc_id", "lang", "threshold")
    )


#: near-identical titles for the entity-resolution fixture (literal —
#: shared verbatim with the oracle, like the weather/PII families).
X12_TITLES: tuple[tuple[int, str], ...] = (
    (1, "the quick brown fox jumps"),
    (2, "the quick brown fox jump"),
    (3, "the quick browne fox jumps"),
    (4, "a completely different title"),
    (5, "a completly different title"),
    (6, "the slow brown fox naps"),
    (7, "unblocked singleton entry"),
)


def x12_blocked_edit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution near-dup: blocking key (first token) prunes
    the pair space, then exact Levenshtein ≤ 2 verifies within blocks
    — the classic blocked fuzzy-matching shape.  The block equi-join
    replaces the O(n²) all-pairs edit-distance scan; at corpus scale
    the blocking key is the only shuffle key and skewed blocks split
    under AQE (a hot block means a degenerate key — route through
    exact dedup first, as with LSH buckets)."""
    docs = local_frame(spark, X12_TITLES, "id long, title string")
    blocked = docs.select(
        "id", "title", F.expr("split_part(title, ' ', 1)").alias("block")
    )
    a = blocked.select(
        F.col("id").alias("id_a"), F.col("title").alias("title_a"), "block"
    )
    b = blocked.select(
        F.col("id").alias("id_b"), F.col("title").alias("title_b"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("title_a", "title_b").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 2)
    )


# --------------------------------------------------------------------------
# X5 — multimodal (mapInPandas plumbing; decode stubbed)
# --------------------------------------------------------------------------

def _x5_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → Arrow-batched feature extraction (fake decoder:
    deterministic byte histogram).  mapInPandas → rows-only check.

    The raw ``array<float>`` feature stays internal: checked outputs
    carry a scalar digest of the rendered vector (repo rule: no raw
    array columns in driver-checked outputs — the canonicalizer can't
    sort lists)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media, fake=True)
    return feats.select(
        "media_id",
        "media_type",
        "size_bytes",
        F.size("feature").alias("feature_dim"),
        F.expr(
            "md5(array_join(transform(feature, x -> format_string('%.6f', x)), ','))"
        ).alias("feature_md5"),
    )


def x5b_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-visible half of the multimodal path: binary payload
    sizes + content hash (column pruning keeps payload out of
    metadata-only scans)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    return media.select(
        "media_id",
        "media_type",
        "size_bytes",
        # md5 over the decoded payload (DuckDB's md5 takes VARCHAR only;
        # the bytes themselves round-trip losslessly for UTF-8 payloads)
        F.md5(F.decode(F.col("payload"), "UTF-8")).alias("payload_md5"),
    )


def x2e_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate pairs → duplicate
    clusters.  The Spark side is iterative min-label propagation with
    pointer jumping; the DuckDB oracle computes the same fixpoint with
    a recursive transitive-closure CTE — feasible at oracle scale,
    where the Spark formulation is the one that distributes."""
    pairs = x2b_lsh_candidate_pairs(spark, sf_dir)
    return dedup.duplicate_clusters(pairs, max_iterations=8)


def x25_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: collapse each duplicate cluster
    (x2e connected components over LSH pairs) to its best member —
    longest text wins, lowest doc_id breaks ties — with singletons
    passing through as their own clusters.  This is the step that
    turns dedup *detection* into an actionable keep-list.

    Scale shape: the cluster map is |docs| rows; the left join back to
    the corpus and the per-cluster ranking window shuffle on
    cluster_id once.  Selection metadata only (ids + lengths) flows
    through the window — never document text.
    """
    docs = load_table(spark, sf_dir, "documents")
    clusters = x2e_dup_clusters(spark, sf_dir)
    full = (
        docs.select("doc_id", "n_chars")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = full.select(
        "cluster_id", "doc_id", "n_chars", F.row_number().over(w).alias("rn")
    )
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc_id"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("kept_chars"),
        F.count(F.lit(1)).alias("n_members"),
    )


def x3e_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: label column as the coarse quantizer cell, probing the
    2 nearest cells per query.  Centroids are µ-quantized exact means,
    so the probe ranking is deterministic and the DuckDB oracle can
    replay the whole path (also verified against brute force in
    pytest)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb, "vec_id", "embedding", queries, cell_col="label", k=similarity.ANN_TOPK, n_probe_cells=2
    )


#: PQ geometry shared with the x50 oracle's spliced literals (the
#: oracle replays the codebook relationally; a drift here silently
#: runs two different quantizers — pinned by the lockstep test)
_PQ_DIM = 64
_PQ_M = 4
_PQ_CODEWORDS = 16
_PQ_QUERIES = 8
_PQ_TOPK = 10


#: stored-PQ-index root: build-once cache keyed on the embedding file
#: and the build params (index_store.stored_index).  /tmp because the
#: testdata dirs are read-only; in production this is a lakehouse table
#: the ingestion pipeline maintains.
_PQ_INDEX_ROOT = "/tmp/spark_graft_pq_index"


def _pq_topk(
    spark: SparkSession, sf_dir: str, *, cell_col: str | None, stored: bool
) -> DataFrame:
    """ADC top-10 of the first ``_PQ_QUERIES`` vectors against the PQ
    index of the whole embedding table — IVFADC over 2 probed cells
    when ``cell_col`` is set.  The index dict is built in-query
    (x50/x51) or read from the stored index, built once per corpus file
    (x50b/x51b); both feed the same probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    params = {
        "dim": _PQ_DIM, "m": _PQ_M, "n_codewords": _PQ_CODEWORDS,
        "cell_col": cell_col,
    }
    if stored:
        idx = index_store.stored_index(
            _PQ_INDEX_ROOT, "ivfpq" if cell_col else "pq",
            [f"{sf_dir}/embeddings.parquet"], params,
            lambda d: similarity.pq_index_write(
                emb, "vec_id", "embedding", d, **params
            ),
        )
        index = index_store.read_index(spark, idx, index_store.PQ_INDEX_LAYOUT)
    else:
        index = similarity.pq_index(emb, "vec_id", "embedding", **params)
    return similarity.pq_topk(
        index, emb.filter(F.col("vec_id") < _PQ_QUERIES), "vec_id", "embedding",
        dim=_PQ_DIM, m=_PQ_M, k=_PQ_TOPK,
        n_probe_cells=2 if cell_col else None,
    )


def x50_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 (operators/similarity.py:
    pq_index + pq_topk): the memory-bound ANN step past SQ8 — m=4
    4-bit codes per vector instead of 64 int8 components, with
    query-time scoring done entirely from broadcast distance tables.
    Candidate coding runs in whole-stage codegen over a one-row
    broadcast codebook; exact int64 distances end-to-end, so DuckDB
    replays the full path."""
    return _pq_topk(spark, sf_dir, cell_col=None, stored=False)


def x50b_pq_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x50 split into the production BUILD/QUERY halves: the PQ codes
    and codebook are materialized to parquet ONCE per corpus
    (operators/similarity.py:pq_index_write — cached by
    index_store.stored_index on the embedding file and the PQ params)
    and the query probes the STORED index frames with the same
    pq_topk: m=4 ints per row instead of 64 floats, distance tables
    from the stored quantizer max, no codebook-training stages in the
    per-query plan (plan-gated).  This is the real 100 TB ANN read
    path — build once, probe forever; x50's in-query coding is the
    oracle-friendly single-statement form.  Output is byte-identical
    to x50 by construction, so this query shares x50's DuckDB oracle
    verbatim."""
    return _pq_topk(spark, sf_dir, cell_col=None, stored=True)


def x51_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (operators/similarity.py:pq_topk with n_probe_cells):
    x3e's inverted-file cell probe composed with x50's PQ/ADC scoring —
    IVF prunes the scan to 2 probed cells per query, PQ shrinks every
    posting-list entry to m=4 codes.  The production 100 TB ANN shape;
    shares the PQ oracle CTE chain with x50 and the label-cell centroid
    chain with x3e."""
    return _pq_topk(spark, sf_dir, cell_col="label", stored=False)


def x51b_ivfpq_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x51 split into the production BUILD/QUERY halves (the x50b
    pattern applied to the inverted-file index): codes WITH their IVF
    cell, the codebook+quantizer max, and the µ-quantized cell
    centroids are materialized once; the query ranks the STORED
    centroids per query and joins the stored codes BY CELL against the
    broadcast probe set — each query touches only its probed posting
    lists, and no training stages appear in the per-query plan.
    Byte-identical to x51 by construction → shares x51's oracle."""
    return _pq_topk(spark, sf_dir, cell_col="label", stored=True)


def x52_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC index (x50) against the exact cosine
    top-k over the same 8 queries — the quality dial for the
    compressed index, graded exactly like x30 grades the LSH path:
    overlap count as exact integer ppm (n_hit·1e6 DIV k).  A rank flip
    INSIDE the top-k does not move the grade (set overlap), so the
    only cross-engine surface is the top-k boundary itself (the x3
    precedent).  Both inputs are top-k-bounded: the comparison join
    touches |queries|·k rows regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(
        emb, "vec_id", "embedding",
        queries=emb.filter(F.col("vec_id") < _PQ_QUERIES), k=_PQ_TOPK,
    ).select("query_id", "neighbor_id")
    pq = x50_pq_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    return (
        exact.join(pq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("__hit").alias("n_hit"))
        .select(
            "query_id",
            "n_hit",
            F.expr(f"n_hit * 1000000 DIV {_PQ_TOPK}").alias("recall_ppm"),
        )
    )


#: IVFADC recall dial settings (spliced into the x55 oracle as
#: literals — pinned by test_pq_oracle_constants_in_lockstep)
_IVFPQ_NPROBES = (1, 2, 4)


def x55_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVFADC index (x51) vs the exact cosine top-10,
    graded at nprobe ∈ {1, 2, 4} in ONE query (operators/similarity.py:
    ivfpq_recall_dial) — x52 grades flat PQ, but the production index
    is the IVF+PQ pair where cell pruning COMPOUNDS quantization error
    (Jégou et al. §V); this is the dial that picks nprobe.  Candidates
    are ADC-scored once against the widest probe set; each dial setting
    is a rank-filtered top-k window over that one stream.  Shares
    _PQ_CTES with x50/x51 and the x3e centroid chain."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_recall_dial(
        emb, "vec_id", "embedding", "label",
        dim=_PQ_DIM, m=_PQ_M, n_codewords=_PQ_CODEWORDS,
        n_queries=_PQ_QUERIES, k=_PQ_TOPK, nprobes=_IVFPQ_NPROBES,
    )


#: reduced-dimension recall dial: both methods store _RP_R int64s per
#: vector (4x compression at 64->16); spliced into the x57 oracle as
#: literals — pinned by test_pq_oracle_constants_in_lockstep
_RP_R = 16


def x57_reduced_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of two dimension-reduced exact scans vs the full-dim
    cosine top-10, side by side (operators/similarity.py:
    reduced_recall_dial): ``rp`` — a ±1 Johnson–Lindenstrauss random
    projection derived IN-PLAN from the portable md5 recipe (both
    engines compute the identical matrix from the same hash text, no
    splicing) — and ``prefix`` — coordinate truncation at the same
    memory budget.  Completes the compressed-index quality suite: x52
    grades PQ, x55 grades IVFADC's probe dial, x57 grades the two
    cheap linear reductions.  All reductions/dots/norms are exact
    int64; the one float step is a shared ``dot/sqrt(nq·nc)``
    expression tree, floor-quantized (a20 moment-stats rule)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.reduced_recall_dial(
        emb, "vec_id", "embedding",
        dim=_PQ_DIM, r_dim=_RP_R, n_queries=_PQ_QUERIES, k=_PQ_TOPK,
    )


#: SQ8 rescore depth (x23's production setting) — spliced into the
#: x58 oracle as a literal, lockstep-pinned
_SQ8R_DEPTH = 20


def x58_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the SQ8 index at both points of its pipeline
    (operators/similarity.py:sq8_recall_dial): ``sq8`` — the raw int8
    dot ranking — and ``sq8_rescore`` — x23's top-20-rescored
    production shape.  Closes the compression-quality matrix (x52 PQ,
    x55 IVFADC, x57 linear reductions, x58 SQ8) and quantifies what
    the rescore step buys; rescore ≥ raw per query is a structural
    guarantee pinned by pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.sq8_recall_dial(
        emb, "vec_id", "embedding",
        n_queries=_PQ_QUERIES, k=_PQ_TOPK, rescore_depth=_SQ8R_DEPTH,
    )


#: fake-frame cadence and geometry shared by the Spark queries and
#: their SQL oracles (change here and in the oracle text together)
_X5C_N_FRAMES = 4
_X5D_W, _X5D_H = 16, 8


def x5c_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the multimodal path — the 1→N mapInPandas
    expansion (operators/multimodal.py:sample_frames), value-checked:
    the fake sampler's byte slices of an ASCII payload equal `substr`
    slices with the same integer-division bounds, so DuckDB replays
    frame digests exactly (frames surface as md5 + length — repo rule:
    no raw binary in checked outputs)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    frames = multimodal.sample_frames(media, n_frames=_X5C_N_FRAMES, fake=True)
    return frames.select(
        "media_id",
        "frame_idx",
        "frame_ts_ms",
        F.md5(F.decode(F.col("frame_payload"), "UTF-8")).alias("frame_md5"),
        F.octet_length("frame_payload").cast("bigint").alias("frame_len"),
    )


def x5d_resize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize over the multimodal path (operators/multimodal.py:
    resize_media, fake tile-or-truncate), value-checked: tiling ASCII
    payload bytes to w·h equals `substr(repeat(text, ...), 1, w*h)`,
    so DuckDB replays the resized digest exactly."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    resized = multimodal.resize_media(media, _X5D_W, _X5D_H, fake=True)
    return resized.select(
        "media_id",
        "width",
        "height",
        "size_bytes",
        F.md5(F.decode(F.col("payload"), "UTF-8")).alias("payload_md5"),
    )


def x5f_audio_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature stats over the FAKE path (operators/multimodal.py:
    audio_features, fake=True): exact integer PCM stats from the raw
    payload bytes under the shared (b-128)*256 sample mapping, through
    the real Arrow-batched mapInPandas plumbing — the x5d recipe
    applied to audio, so DuckDB replays every value from the text with
    ``ascii()`` (the corpus is pure ASCII: byte == code point)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_audio(docs)
    return multimodal.audio_features(media, fake=True)


def _x5e_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: text bytes synthesized into valid
    16-bit mono PCM WAV containers (multimodal.encode_pcm_wav), then
    parsed back with the stdlib ``wave`` module (fake=False) — the
    first real non-image codec in the multimodal family, no new
    dependency.  Rows-only by necessity (a WAV container round-trip is
    not SQL-expressible), but value-checked twice: the x5f fake twin is
    hash-checked against DuckDB, and the contract pytest pins
    real(wav(text)) == fake(text) for every asset."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.encode_pcm_wav(multimodal.documents_as_audio(docs))
    return multimodal.audio_features(media, fake=False)


def x5g_video_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video feature stats over the FAKE path (operators/multimodal.py:
    video_features, fake=True): exact integer container/pixel stats
    from the raw payload bytes plus the encoder's deterministic
    DIB-strip padding arithmetic (_avi_frame_bytes), through the real
    Arrow-batched mapInPandas plumbing — the x5f recipe one modality
    up, so DuckDB replays every value from the text with ``ascii()``
    (pure-ASCII corpus: byte == code point) and pure integer
    arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_video(docs)
    return multimodal.video_features(media, fake=True)


def _x5h_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video container decode end-to-end: text bytes synthesized
    into valid uncompressed 8-bit DIB AVI containers
    (multimodal.encode_avi — RIFF header chain, movi frame list, idx1
    index), then parsed back with a stdlib RIFF walk (fake=False) —
    the audio recipe (x5e, e8291ee) one modality up; closes the last
    NotImplementedError-only family.  Rows-only by necessity (an AVI
    round-trip is not SQL-expressible), but value-checked twice: the
    x5g fake twin is hash-checked against DuckDB, and the contract
    pytest pins real(avi(text)) == fake(text) for every asset."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.encode_avi(multimodal.documents_as_video(docs))
    return multimodal.video_features(media, fake=False)


def x3b_embedding_neardup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment form of x3b: the hyperplane count sized to the
    corpus (``recommended_n_planes``, holding expected bucket width
    constant) instead of the fixed 6 planes the oracle replays as SQL
    literals.  Rows-only by necessity — the plane count depends on a
    runtime ``count()``, so no fixed SQL text can replay it — but
    registering it makes the scale-critical configuration part of the
    driver's correctness surface (schema + row-count guarded; its 10×
    wall-clock is accounted in BENCH_SCALE.json)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_lsh(
        emb, "vec_id", "embedding", threshold=0.8, n_planes=None,
        dim=64, seed=42, n_tables=4, max_bucket=EMB_LSH_MAX_BUCKET,
    )


def x45_semdedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment form of x45: cell count sized to the corpus
    (``recommended_kmeans_k``, holding expected cell width constant so
    the within-cell pair stream stays linear) AND the two-level
    coarse→fine assignment (``kmeans_assign(two_level=True)``, O(n·√k)
    scored rows per Lloyd pass where the flat form's n·k is quadratic
    when k ∝ n — the round-6 scale finding).  Rows-only by necessity —
    k depends on a runtime ``count()`` — but registered so the
    deployment path is schema/row-count guarded by the driver; its
    10×/100×/1000× wall-clock carries full work accounting in
    BENCH_SCALE.json."""
    emb = load_table(spark, sf_dir, "embeddings")
    k = similarity.recommended_kmeans_k(emb.count())
    return similarity.semdedup_keep(emb, "vec_id", "embedding", k=k, two_level=True)


def x54_incremental_semdedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment form of x54: the incremental SemDeDup probe with the
    corpus-sized cell count (``recommended_kmeans_k``) and the
    two-level index + probe
    (operators/similarity.py:semdedup_incremental with ``k=None,
    two_level=True``) — the x45_auto
    policy applied to the steady-state ingestion path, so the index
    build is O(n·√k) per pass and the recurring probe cost is
    |batch|·(√k coarse + √k routed fine) scored rows plus the
    same-cell survivor verify (cells hold ~250 vectors by
    construction, so the verify stream is linear in the batch).
    Rows-only by necessity — k depends on a runtime ``count()`` — but
    registered so the deployment path is schema/row-count guarded by
    the driver; its 10×/100×/1000× wall-clock carries full work
    accounting in BENCH_SCALE.json (``semdedup_inc_auto_work``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = text.deterministic_split("vec_id")
    corpus = emb.filter(split == "train")
    batch = emb.filter(split == "test")
    return similarity.semdedup_incremental(
        corpus, batch, "vec_id", "embedding", k=None, threshold=0.8,
        two_level=True,
    )


def x54c_incremental_semdedup_auto_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The x54b BUILD/QUERY split applied to the DEPLOYMENT (auto-k
    two-level) index: survivors + both final-pass codebooks
    materialized once (`semdedup_index_write(k=None, two_level=True)`),
    the recurring query running ONLY the two-level batch probe against
    the stored artifacts (`semdedup_incremental_stored`).  This is the
    complete production shape of the semantic-dedup read path — auto-k
    so the verify stream stays linear, stored so the per-batch cost is
    the probe alone.  Rows-only like every auto twin (k depends on a
    runtime count()); row-for-row agreement with
    x54_incremental_semdedup_auto is pinned by pytest."""
    return _semdedup_stored(spark, sf_dir, k=None, two_level=True)


#: rows-only registrations (genuinely non-SQL-expressible paths)
NO_ORACLE = {
    "x5_multimodal_features": _x5_multimodal_features,
    "x5e_audio_features": _x5e_audio_features,
    "x5h_video_features": _x5h_video_features,
    "x3b_embedding_neardup_auto": x3b_embedding_neardup_auto,
    "x45_semdedup_auto": x45_semdedup_auto,
    "x54_incremental_semdedup_auto": x54_incremental_semdedup_auto,
    "x54c_incremental_semdedup_auto_stored": x54c_incremental_semdedup_auto_stored,
}


def x29_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source redundancy matrix: for every unordered source
    pair, the number of DISTINCT 3-gram shingles both sources contain
    — the corpus-curation signal that ranks which source pairs to
    near-dedup against each other first (exact cross-source text dups
    are zero in this corpus; shingle mass is the graded overlap the
    decontamination sweep (x7) uses between splits, here lifted to the
    source level).

    Scale shape: distinct (source, shingle) is ONE shuffle on the
    shingle set (tokenize-once, array_distinct before the explode —
    doc_shingles' two rules); the per-shingle source set is bounded by
    |sources| (a catalog-sized constant, NOT a corpus-scaling
    quantity), so the sorted collect_set and the in-row pair expansion
    (the lsh_candidate_pairs flatten/transform shape) never build an
    unbounded reducer state; the closing pair count is a |sources|²-
    key aggregation — dimension-sized output.
    """
    from data_engineer_project_weather_analytics_spark.operators.dedup import doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        doc_shingles(
            docs.select(F.col("source").alias("doc_id"), "text"), "doc_id", "text"
        )
        .withColumnRenamed("doc_id", "source")
        .distinct()
    )
    sets = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") > 1)
    )
    pairs = F.expr(
        """
        flatten(transform(srcs, (x, i) ->
            transform(slice(srcs, i + 2, size(srcs) - i - 1), y ->
                named_struct('src_a', x, 'src_b', y))))
        """
    )
    return (
        sets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )
