"""Operator-level unit tests: latest strategies agree, as-of join edge
cases, dedup/text/similarity internals, multimodal plumbing."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_engineer_project_weather_analytics_spark.operators import multimodal, similarity, text
from data_engineer_project_weather_analytics_spark.operators.asof import asof_join_backward
from data_engineer_project_weather_analytics_spark.operators.dedup import (
    dedup_exact,
    doc_shingle_hash_sets,
    doc_shingles,
)
from data_engineer_project_weather_analytics_spark.operators.latest import latest_per_key
from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

from .conftest import SF_DIR


def test_latest_strategies_agree(spark):
    events = load_table(spark, SF_DIR, "events").select("user_id", "event_id", "ts", "value")
    a = latest_per_key(events, ["user_id"], ["ts", "event_id"], strategy="window")
    b = latest_per_key(events, ["user_id"], ["ts", "event_id"], strategy="max_by")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _ts(h, m=0):
    return datetime.datetime(2025, 12, 1, h, m)


def test_asof_backward_semantics(spark):
    left = spark.createDataFrame(
        [
            Row(k=1, ts=_ts(1), ev="before-any"),
            Row(k=1, ts=_ts(5), ev="exact-tie"),
            Row(k=1, ts=_ts(7), ev="between"),
            Row(k=2, ts=_ts(9), ev="other-key"),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rts=_ts(5), v=50.0),
            Row(k=1, rts=_ts(6), v=60.0),
            Row(k=2, rts=_ts(2), v=20.0),
        ]
    )
    out = asof_join_backward(left, right, on=["k"], left_ts="ts", right_ts="rts", value_cols=["v"])
    got = {r.ev: r.v for r in out.collect()}
    assert got == {
        "before-any": None,  # no right row at or before
        "exact-tie": 50.0,  # right_ts == left_ts matches (≤)
        "between": 60.0,  # greatest right_ts ≤ left_ts
        "other-key": 20.0,  # keys don't cross
    }


def test_shingles_short_text_empty(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="one two"), Row(doc_id=2, text="a b c d")]
    )
    out = doc_shingles(df, "doc_id", "text", 3).collect()
    assert not [r for r in out if r.doc_id == 1]
    assert sorted(r.shingle for r in out if r.doc_id == 2) == ["a b c", "b c d"]


@pytest.mark.parametrize("n", [2, 3, 5])
def test_ngram_boundary_shared_by_every_shingle_path(spark, n):
    """A document of exactly ``n`` tokens has one n-gram and one of
    ``n - 1`` tokens has none — the same boundary through the exploded
    shingles, the hashed shingle sets and the streaming band
    signatures, which all build their grams from ``_ngrams_sql``."""
    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        with_minhash_bands,
    )

    words = [f"w{i}" for i in range(n)]
    df = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(words)), Row(doc_id=2, text=" ".join(words[:-1]))]
    )
    sh = {r.doc_id: r.shingle for r in doc_shingles(df, "doc_id", "text", n).collect()}
    assert sh == {1: " ".join(words)}
    sets = {
        r.doc_id: r.set_size
        for r in doc_shingle_hash_sets(df, "doc_id", "text", n).collect()
    }
    assert sets == {1: 1, 2: 0}
    bands = {
        r.doc_id: len(r.bands)
        for r in with_minhash_bands(df, "doc_id", "text", shingle_n=n).collect()
    }
    assert bands == {1: 8, 2: 0}


def test_dedup_exact_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [Row(doc_id=3, text="same"), Row(doc_id=1, text="same"), Row(doc_id=2, text="diff")]
    )
    kept = sorted(r.doc_id for r in dedup_exact(df, "doc_id", "text").collect())
    assert kept == [1, 2]


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark query engine fast join " * 10),
            Row(doc_id=2, text="spark query engine fast join " * 10 + "extra token"),
            Row(doc_id=3, text="completely different words entirely " * 10),
        ]
    )
    sh = text.simhash16(df, "doc_id", "text")
    pairs = (
        sh.alias("a")
        .crossJoin(sh.alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            text.hamming_distance(F.col("a.simhash16"), F.col("b.simhash16")).alias("d"),
        )
    )
    d = {(r.ia, r.ib): r.d for r in pairs.collect()}
    assert d[(1, 2)] < d[(1, 3)]  # near-dup closer than unrelated
    assert d[(1, 2)] <= 3


def test_cosine_topk_self_excluded_and_ranked(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    out = similarity.cosine_topk(emb, "vec_id", "embedding", emb.filter(F.col("vec_id") < 3), k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.sim))
    for sims in by_q.values():
        ranked = [s for _, s in sorted(sims)]
        assert ranked == sorted(ranked, reverse=True)  # descending by rank


def test_ann_lsh_subset_of_bucket_and_plausible(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", queries, k=3)
    approx = similarity.lsh_ann_topk(emb, "vec_id", "embedding", queries, k=3)
    # ANN returns ≤ k per query, ranks well-formed, and the top-1 sims
    # are bounded by the exact top-1
    ex1 = {r.query_id: r.sim for r in exact.collect() if r.rank == 1}
    for r in approx.collect():
        assert 1 <= r.rank <= 3
        if r.rank == 1:
            assert r.sim <= ex1[r.query_id] + 1e-9


def test_multimodal_feature_extraction(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(10)
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media, fake=True).collect()
    assert len(feats) == 10
    for r in feats:
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 1e-6  # histogram normalized
        assert r.size_bytes > 0


def _pil_available() -> bool:
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


@pytest.mark.skipif(
    _pil_available(), reason="PIL installed: the real path decodes"
)
def test_multimodal_real_decode_raises_without_codec():
    """Without PIL the real path must fail loudly, naming the missing
    codec — never silently fall back to the fake decoder."""
    with pytest.raises(NotImplementedError, match="PIL"):
        multimodal.decode_media(b"bytes", "image", fake=False)


def test_multimodal_audio_video_decode_unsupported():
    """No audio/video codec exists in any supported environment — the
    real path names the media type it cannot decode."""
    with pytest.raises(NotImplementedError, match="audio"):
        multimodal.decode_media(b"bytes", "audio", fake=False)


@pytest.mark.skipif(
    not _pil_available(), reason="PIL not installed in this container"
)
def test_multimodal_real_codec_contract(spark):
    """With PIL installed, fake=False decodes REAL image bytes to the
    same contract as the fake path: FEATURE_SCHEMA, 16-dim normalized
    histogram, one output row per asset."""
    import io

    from PIL import Image

    def png(shade: int) -> bytes:
        buf = io.BytesIO()
        Image.new("L", (8, 8), color=shade).save(buf, format="PNG")
        return buf.getvalue()

    media = spark.createDataFrame(
        [
            (1, "image", png(0), 100, 8, 8, None),
            (2, "image", png(255), 100, 8, 8, None),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.extract_features(media, fake=False)
    assert out.schema == multimodal.FEATURE_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 1e-6
    # luminance actually read from the pixels: an all-black image mass
    # sits in bin 0, an all-white one in bin 15
    assert rows[1].feature[0] == pytest.approx(1.0)
    assert rows[2].feature[15] == pytest.approx(1.0)


def test_duplicate_clusters_matches_union_find(spark):
    from data_engineer_project_weather_analytics_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11),
         Row(id_a=3, id_b=4), Row(id_a=20, id_b=21), Row(id_a=21, id_b=22)]
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}

    # union-find replay (driver-side ground truth)
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in [(1, 2), (2, 3), (10, 11), (3, 4), (20, 21), (21, 22)]:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want
    assert got[4] == 1 and got[22] == 20  # chains collapse to min id


def test_ivf_topk_well_formed_and_bounded_by_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", queries, k=3)
    ivf = similarity.ivf_topk(emb, "vec_id", "embedding", queries, cell_col="label",
                              k=3, n_probe_cells=2)
    ex1 = {r.query_id: r.sim for r in exact.collect() if r.rank == 1}
    rows = ivf.collect()
    assert 0 < len(rows) <= 15
    for r in rows:
        assert r.neighbor_id != r.query_id
        if r.rank == 1:
            assert r.sim <= ex1[r.query_id] + 1e-9


def test_bpe_token_count(spark):
    df = spark.createDataFrame([Row(text="hello, world! it's 42")])
    n = df.select(text.bpe_token_count("text").alias("n")).collect()[0].n
    # hello , world ! it ' s 42  -> 8 pieces
    assert n == 8


def test_duplicate_clusters_long_chain_converges(spark):
    from data_engineer_project_weather_analytics_spark.operators.dedup import duplicate_clusters

    # chain of 30 nodes: one-hop propagation would need 29 iterations;
    # pointer jumping must converge well within 12
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(1, 30)]
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs, max_iterations=12).collect()}
    assert set(got.values()) == {1}
    assert len(got) == 30


def test_packed_jaccard_matches_exploded_verify(spark):
    """The packed hashed-shingle verify (x2f/x53's scale form) must
    reproduce the raw-string exploded verify EXACTLY on a real corpus
    slice: same pairs, bit-identical jaccard (60-bit hashing leaves
    set sizes and intersections untouched absent collisions, and a
    collision would be shared with the oracle anyway)."""
    from data_engineer_project_weather_analytics_spark.operators import dedup
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    ds = dedup.doc_shingles(docs, "doc_id", "text", n=3)
    sigs, sizes = dedup.minhash_with_sizes(ds, "doc_id", n_bands=8)
    cand = dedup.lsh_candidate_pairs(sigs, "doc_id", max_bucket=100)
    old = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_for_candidates(
            ds, "doc_id", cand, threshold=0.1, sizes=sizes
        ).collect()
    }
    doc_sets = dedup.doc_shingle_hash_sets(docs, "doc_id", "text", n=3)
    new = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_for_candidates_packed(
            doc_sets, "doc_id", cand, threshold=0.1
        ).collect()
    }
    assert old == new and len(new) > 0
    # and the packed set sizes equal the raw distinct-shingle counts
    raw_sizes = {r.doc_id: r.set_size for r in sizes.collect()}
    packed_sizes = {
        r.doc_id: r.set_size
        for r in doc_sets.filter("set_size > 0").collect()
    }
    assert packed_sizes == {
        d: n for d, n in raw_sizes.items() if n > 0
    }


def test_fixed_k_scale_guard_warns(spark, monkeypatch):
    """The flat fixed-k SemDeDup forms are oracle anchors: running one
    on a corpus whose expected cell width exceeds the guard must warn
    loudly (VERDICT r10 task 7), and the deployment-sized configuration
    must stay silent."""
    import warnings as w

    from data_engineer_project_weather_analytics_spark.operators import similarity

    # threshold arithmetic: warn iff n > k * target_cell * guard
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        similarity._warn_fixed_k_scale(20_000, 8)   # == bound: silent
        similarity._warn_fixed_k_scale(20_001, 8)   # past bound: warns
    assert len(rec) == 1
    assert issubclass(rec[0].category, similarity.SemDedupScaleWarning)

    # end-to-end: semdedup_keep's flat path emits it (guard pinned to 0
    # so a 10-row corpus trips it), the two-level path never does
    rows = [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows)
    monkeypatch.setattr(similarity, "FIXED_K_CELL_GUARD", 0)
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        similarity.semdedup_keep(df, "vec_id", "embedding", k=2)
    assert any(
        issubclass(r.category, similarity.SemDedupScaleWarning) for r in rec
    )
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        similarity.semdedup_keep(
            df, "vec_id", "embedding", k=2, two_level=True
        )
    assert not any(
        issubclass(r.category, similarity.SemDedupScaleWarning) for r in rec
    )


def test_minhash_bands_beyond_digest_are_nonempty(spark):
    from data_engineer_project_weather_analytics_spark.operators.dedup import doc_shingles, minhash_signatures

    df = spark.createDataFrame([Row(doc_id=1, text="a b c d e f g h i j")])
    ds = doc_shingles(df, "doc_id", "text", 3)
    sigs = minhash_signatures(ds, "doc_id", n_bands=10).collect()
    assert len(sigs) == 10
    assert all(len(r.minhash) == 8 for r in sigs)  # band 8,9 not empty


def test_asof_null_right_value_not_stale(spark):
    # right row at ts=2 matched but its value is genuinely NULL:
    # result must be NULL, not the stale older 5.0
    left = spark.createDataFrame([Row(k=1, ts=_ts(3), ev="x")])
    right = spark.createDataFrame(
        [Row(k=1, rts=_ts(1), v=5.0), Row(k=1, rts=_ts(2), v=None)],
        schema="k long, rts timestamp, v double",
    )
    out = asof_join_backward(left, right, on=["k"], left_ts="ts", right_ts="rts",
                             value_cols=["v"]).collect()
    assert out[0].v is None


def test_parse_current_empty_weather_array(spark):
    import json

    from data_engineer_project_weather_analytics_spark.sources.json_ingest import parse_current

    doc = json.dumps({"id": 9, "name": "x", "cod": 200, "weather": [],
                      "main": {"temp": 20.0}, "dt": 1764576000})
    rows = parse_current(
        spark.createDataFrame([(doc,)], schema="payload string")
    ).collect()
    assert len(rows) == 1
    assert rows[0].weather_id is None  # empty array -> NULLs, not a crash


def test_ann_finds_planted_near_duplicates(spark):
    import random

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(50)]
    rows = [Row(vec_id=i, embedding=v, label=i % 5) for i, v in enumerate(base)]
    # plant 5 near-duplicates of vectors 0..4 (tiny perturbation)
    for i in range(5):
        noisy = [x + rng.gauss(0, 0.01) for x in base[i]]
        rows.append(Row(vec_id=100 + i, embedding=noisy, label=i % 5))
    df = spark.createDataFrame(rows)
    queries = df.filter(F.col("vec_id") >= 100)
    approx = similarity.lsh_ann_topk(df, "vec_id", "embedding", queries, k=1)
    top1 = {r.query_id: r.neighbor_id for r in approx.collect() if r.rank == 1}
    # near-identical vectors land in the same bucket with overwhelming
    # probability (deterministic: seeded planes + fixed data)
    found = sum(1 for q, n in top1.items() if n == q - 100)
    assert found >= 4
    ivf = similarity.ivf_topk(df, "vec_id", "embedding", queries, cell_col="label",
                              k=1, n_probe_cells=2)
    ivf1 = {r.query_id: r.neighbor_id for r in ivf.collect() if r.rank == 1}
    assert sum(1 for q, n in ivf1.items() if n == q - 100) >= 4


def test_cascade_delete_idempotent_and_complete(spark):
    from data_engineer_project_weather_analytics_spark.operators.delete import cascade_delete

    dim = spark.createDataFrame(
        [(1, "Hanoi"), (2, "Hue"), (3, "Da Nang")], "city_id long, name string"
    )
    fact = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (2, 20.0), (3, 30.0)],
        "city_id long, temp double",
    )
    doomed = spark.createDataFrame([(1,)], "city_id long")
    new_dim, (new_fact,) = cascade_delete(dim, "city_id", [(fact, "city_id")], doomed)
    assert {r.city_id for r in new_dim.collect()} == {2, 3}
    # cascade: every fact row of the deleted city is gone too
    assert {r.city_id for r in new_fact.collect()} == {2, 3}
    # idempotent: applying the same delete again changes nothing
    dim2, (fact2,) = cascade_delete(new_dim, "city_id", [(new_fact, "city_id")], doomed)
    assert sorted(dim2.collect()) == sorted(new_dim.collect())
    assert sorted(fact2.collect()) == sorted(new_fact.collect())


def test_delete_keys_broadcast_is_size_conditional(spark):
    """The delete-key anti-join must not ORDER a broadcast of an
    unbounded key set: small sets get the hint, a bulk (GDPR-scale)
    tombstone set over the threshold falls back to a shuffled anti-join
    (VERDICT r3 finding 1)."""
    from data_engineer_project_weather_analytics_spark.operators.delete import delete_rows

    fact = load_table(spark, SF_DIR, "orders")
    bulk_keys = load_table(spark, SF_DIR, "customer").select("c_custkey")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # auto-broadcast off isolates forced hints: a bulk key set must
        # leave NO BroadcastExchange in the plan
        bulk_plan = (
            delete_rows(fact, bulk_keys, [("o_custkey", "c_custkey")])
            ._jdf.queryExecution().sparkPlan().toString()
        )
        assert "BroadcastHashJoin" not in bulk_plan, bulk_plan
        assert "BroadcastExchange" not in bulk_plan, bulk_plan
        assert "LeftAnti" in bulk_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # under a generous threshold the small-set fast path keeps the hint
    small_keys = bulk_keys.limit(3)
    small_plan = (
        delete_rows(fact, small_keys, [("o_custkey", "c_custkey")])
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert "BroadcastHashJoin" in small_plan, small_plan
    # semantics unchanged: still a pruned anti-join
    assert "LeftAnti" in small_plan


def test_recommended_n_planes_scales_with_corpus():
    from data_engineer_project_weather_analytics_spark.operators.similarity import recommended_n_planes

    assert recommended_n_planes(100) == 6          # tiny corpus → floor
    assert recommended_n_planes(256 * 64) == 6     # 64 buckets of 256
    assert recommended_n_planes(256 * 2**12) == 12
    assert recommended_n_planes(10**9) > recommended_n_planes(10**6)


def test_embedding_neardup_lsh_matches_brute_force_on_planted_dups(spark):
    import random

    rng = random.Random(11)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(40)]
    rows = [Row(vec_id=i, embedding=v, label=0) for i, v in enumerate(base)]
    for i in range(5):  # plant near-identical copies (cos ~ 0.9999)
        noisy = [x + rng.gauss(0, 0.005) for x in base[i]]
        rows.append(Row(vec_id=100 + i, embedding=noisy, label=0))
    df = spark.createDataFrame(rows)
    brute = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_pairs(
            df, "vec_id", "embedding", threshold=0.8
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_lsh(
            df, "vec_id", "embedding", threshold=0.8
        ).collect()
    }
    assert lsh <= brute  # no false positives ever (verified pairs)
    # near-identical pairs collide in >=1 table with overwhelming
    # probability (deterministic: seeded planes + fixed data)
    planted = {(i, 100 + i) for i in range(5)}
    assert planted <= lsh


def test_repetition_signals_exact_counts(spark):
    df = spark.createDataFrame(
        [
            # bigrams: [a b, b a, a b, b a] -> dup 2/4; trigrams:
            # [a b a, b a b, a b a] -> dup 1/3; top bigram 2/4
            Row(doc_id=1, text="a b a b a"),
            Row(doc_id=2, text="solo"),  # no n-grams at all
            Row(doc_id=3, text="u v w x y z"),  # fully distinct
        ]
    )
    out = {r.doc_id: r for r in text.repetition_signals(df, "doc_id", "text").collect()}
    assert out[1].n_bigrams == 4
    assert out[1].dup_bigram_ratio == 0.5
    assert abs(out[1].dup_trigram_ratio - 1 / 3) < 1e-15
    assert out[1].top_bigram_ratio == 0.5
    assert out[1].rep_pass is False
    assert out[2].n_bigrams == 0
    assert out[2].dup_bigram_ratio == 0.0
    assert out[2].top_bigram_ratio == 0.0
    assert out[2].rep_pass is True
    assert out[3].dup_bigram_ratio == 0.0
    assert out[3].dup_trigram_ratio == 0.0


def test_semantic_neardup_reassigns_to_nearest_centroid(spark):
    # label-0 vectors point along e1, label-1 along e2; v5 carries
    # label 1 but points along e1 -> nearest-centroid assignment must
    # move it into cell 0 and pair it with the e1 group.
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0], label=0),
        Row(vec_id=2, embedding=[0.99, 0.1, 0.0, 0.0], label=0),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0, 0.0], label=1),
        Row(vec_id=4, embedding=[0.0, 0.1, 0.99, 0.0], label=1),
        Row(vec_id=5, embedding=[1.0, 0.05, 0.0, 0.0], label=1),
    ]
    df = spark.createDataFrame(rows)
    out = similarity.semantic_neardup(df, "vec_id", "embedding", "label", threshold=0.8)
    pairs = {(r.id_a, r.id_b): r.cell for r in out.collect()}
    assert (1, 5) in pairs and pairs[(1, 5)] == 0
    assert (2, 5) in pairs and pairs[(2, 5)] == 0
    assert (1, 2) in pairs
    assert (3, 4) in pairs and pairs[(3, 4)] == 1
    # no cross-cell pair can exist
    assert (1, 3) not in pairs and (2, 4) not in pairs


def test_kmeans_assign_separates_planted_clusters(spark):
    # two orthogonal direction groups: whatever cells the hash seeding
    # picks, two Lloyd passes must land each group in one cluster and
    # the groups in different clusters
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.99, 0.05, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.98, 0.0, 0.05, 0.0]),
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0, 0.0]),
        Row(vec_id=5, embedding=[0.0, 0.05, 0.99, 0.0]),
        Row(vec_id=6, embedding=[0.05, 0.0, 0.98, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = similarity.kmeans_assign(df, "vec_id", "embedding", k=2, n_iter=3)
    got = {r.vec_id: r for r in out.collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}  # every vector exactly once
    assert len({r.cluster_id for r in got.values()}) == 2
    assert got[1].cluster_id == got[2].cluster_id == got[3].cluster_id
    assert got[4].cluster_id == got[5].cluster_id == got[6].cluster_id
    assert got[1].cluster_id != got[4].cluster_id
    for r in got.values():
        # cosine quantized at 1e-4; cluster members sit near their
        # centroid, far above orthogonal (~0)
        assert 7000 <= r.sim <= 10000


def test_kmeans_k_exceeding_corpus_and_determinism(spark):
    rows = [
        Row(vec_id=i, embedding=[float(i), 1.0, 0.0, 0.0]) for i in range(1, 5)
    ]
    df = spark.createDataFrame(rows)
    out = similarity.kmeans_assign(df, "vec_id", "embedding", k=10, n_iter=2)
    a = sorted(out.collect())
    assert len(a) == 4  # k > n: the seed LIMIT yields n cells, no crash
    assert all(1 <= r.cluster_id <= 4 for r in a)
    # byte-for-byte deterministic across independent builds
    b = sorted(
        similarity.kmeans_assign(df, "vec_id", "embedding", k=10, n_iter=2).collect()
    )
    assert a == b


def test_chunk_documents_windows_and_edges(spark):
    long_text = " ".join(f"t{i}" for i in range(1, 121))  # 120 tokens
    df = spark.createDataFrame(
        [Row(doc_id=1, text=long_text), Row(doc_id=2, text="tiny doc")]
    )
    out = text.chunk_documents(df, "doc_id", "text", max_tokens=50, overlap=10)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    # 120 tokens, stride 40: chunks at offsets 0/40/80 -> 3 chunks
    assert {cid for d, cid in rows if d == 1} == {0, 1, 2}
    assert rows[(1, 0)].n_chunk_tokens == 50
    assert rows[(1, 0)].chunk_text.startswith("t1 ") 
    assert rows[(1, 1)].chunk_text.startswith("t41 ")  # overlap of 10
    assert rows[(1, 2)].n_chunk_tokens == 40  # clipped final window
    assert rows[(1, 2)].chunk_text.endswith(" t120")
    # short doc: exactly one unclipped chunk
    assert {cid for d, cid in rows if d == 2} == {0}
    assert rows[(2, 0)].chunk_text == "tiny doc"


# ---------------------------------------------------------------------------
# range (interval) join
# ---------------------------------------------------------------------------

def _rj_fixtures(spark):
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        StringType,
        TimestampNTZType,
    )

    events = spark.createDataFrame(
        [
            Row(event_id=1, ts=_ts(0, 0)),   # == win A start (inclusive)
            Row(event_id=2, ts=_ts(1, 30)),  # inside A only
            Row(event_id=3, ts=_ts(2, 30)),  # overlap of A and B
            Row(event_id=4, ts=_ts(3, 0)),   # == win A end (exclusive) → B only
            Row(event_id=5, ts=_ts(9, 0)),   # outside every window
        ],
        schema=StructType(
            [
                StructField("event_id", LongType()),
                StructField("ts", TimestampNTZType()),
            ]
        ),
    )
    windows = spark.createDataFrame(
        [
            Row(win="A", s=_ts(0, 0), e=_ts(3, 0)),
            Row(win="B", s=_ts(2, 0), e=_ts(5, 0)),   # overlaps A
            Row(win="E", s=_ts(6, 0), e=_ts(6, 0)),   # empty interval
        ],
        schema=StructType(
            [
                StructField("win", StringType()),
                StructField("s", TimestampNTZType()),
                StructField("e", TimestampNTZType()),
            ]
        ),
    )
    return events, windows


def test_range_join_boundaries_and_overlap(spark):
    from data_engineer_project_weather_analytics_spark.operators.range_join import bucketed_range_join

    events, windows = _rj_fixtures(spark)
    got = {
        (r.event_id, r.win)
        for r in bucketed_range_join(
            events, windows, "ts", "s", "e", bucket_seconds=3600
        ).collect()
    }
    assert got == {(1, "A"), (2, "A"), (3, "A"), (3, "B"), (4, "B")}


def test_range_join_matches_theta_join(spark):
    """The bucketed formulation is value-equal to the naive theta join
    for every bucket width — each qualifying pair exactly once."""
    from data_engineer_project_weather_analytics_spark.operators.range_join import bucketed_range_join

    events, windows = _rj_fixtures(spark)
    theta = {
        (r.event_id, r.win)
        for r in events.join(
            windows,
            (F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")),
        ).collect()
    }
    for width in (60, 1800, 3600, 7200, 86400):
        got = bucketed_range_join(
            events, windows, "ts", "s", "e", bucket_seconds=width
        ).collect()
        assert {(r.event_id, r.win) for r in got} == theta
        assert len(got) == len(theta)  # no duplicate pairs


def _io_fixtures(spark):
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    schema = lambda name: StructType(  # noqa: E731
        [
            StructField(name, StringType()),
            StructField(f"{name[0]}s", TimestampNTZType()),
            StructField(f"{name[0]}e", TimestampNTZType()),
        ]
    )
    left = spark.createDataFrame(
        [
            Row(li="L1", ls=_ts(0, 0), le=_ts(2, 0)),
            Row(li="L2", ls=_ts(1, 0), le=_ts(5, 0)),   # long: spans many buckets
            Row(li="L3", ls=_ts(6, 0), le=_ts(6, 0)),   # empty interval
            Row(li="L4", ls=_ts(7, 0), le=_ts(8, 0)),   # overlaps nothing
        ],
        schema=schema("li"),
    )
    right = spark.createDataFrame(
        [
            Row(ri="R1", rs=_ts(1, 30), re=_ts(3, 0)),  # hits L1 and L2
            Row(ri="R2", rs=_ts(2, 0), re=_ts(2, 30)),  # inside L2; meets L1 end (no)
            Row(ri="R3", rs=_ts(4, 59), re=_ts(9, 0)),  # long; hits L2, L4
            Row(ri="R4", rs=_ts(6, 0), re=_ts(6, 30)),  # would touch L3 were it non-empty
        ],
        schema=schema("ri"),
    )
    return left, right


def test_interval_overlap_matches_theta_join(spark):
    """Canonical-bucket emission is value-equal to the naive overlap
    theta-join at every bucket width, each pair exactly once."""
    from data_engineer_project_weather_analytics_spark.operators.range_join import interval_overlap_join

    left, right = _io_fixtures(spark)
    # naive overlap test, restricted to NON-EMPTY intervals — the
    # documented semantics (an empty [t, t) interval overlaps nothing,
    # whereas the bare half-open predicate would treat it as a point)
    theta = {
        (r.li, r.ri)
        for r in left.join(
            right,
            (F.col("ls") < F.col("re"))
            & (F.col("rs") < F.col("le"))
            & (F.col("ls") < F.col("le"))
            & (F.col("rs") < F.col("re")),
        ).collect()
    }
    # sanity on the fixture itself: known overlap set, L3 empty → absent
    assert theta == {("L1", "R1"), ("L2", "R1"), ("L2", "R2"), ("L2", "R3"), ("L4", "R3")}
    for width in (60, 1800, 3600, 7200, 86400):
        got = interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_seconds=width
        ).collect()
        assert {(r.li, r.ri) for r in got} == theta, f"width={width}"
        assert len(got) == len(theta), f"duplicate pairs at width={width}"


def test_interval_overlap_subsecond_boundary(spark):
    """An overlap that lies ENTIRELY inside a fractional second at a
    bucket boundary must still be found — the sf0.01 regression:
    whole-second bucket math dropped a span ending 0.4 s past a
    window start."""
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )
    from data_engineer_project_weather_analytics_spark.operators.range_join import interval_overlap_join

    us = lambda h, m, s, micro: datetime.datetime(  # noqa: E731
        2025, 12, 1, h, m, s, micro
    )
    left = spark.createDataFrame(
        [Row(li="span", ls=us(2, 12, 7, 250), le=us(3, 0, 0, 407119))],
        schema=StructType(
            [
                StructField("li", StringType()),
                StructField("ls", TimestampNTZType()),
                StructField("le", TimestampNTZType()),
            ]
        ),
    )
    right = spark.createDataFrame(
        [Row(ri="win", rs=us(3, 0, 0, 0), re=us(9, 0, 0, 0))],
        schema=StructType(
            [
                StructField("ri", StringType()),
                StructField("rs", TimestampNTZType()),
                StructField("re", TimestampNTZType()),
            ]
        ),
    )
    # overlap = [03:00:00.000000, 03:00:00.407119) — 0.4 s wide, fully
    # inside the bucket starting at 03:00:00 for every width below
    for width in (60, 3600, 10800):
        got = interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_seconds=width
        ).collect()
        assert [(r.li, r.ri) for r in got] == [("span", "win")], f"width={width}"


def test_temporal_joins_randomized_theta_equivalence(spark):
    """Seeded fuzz: 300 random microsecond-precision points/intervals,
    bucketed formulations vs the naive theta joins — exact pair-set
    equality at awkward bucket widths (primes, sub-second)."""
    import random

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampNTZType,
    )
    from data_engineer_project_weather_analytics_spark.operators.range_join import (
        bucketed_range_join,
        interval_overlap_join,
    )

    rng = random.Random(0xC0FFEE)
    base = datetime.datetime(2025, 12, 1)
    span_us = 3 * 86400 * 1_000_000  # 3 days

    def rand_ts():
        return base + datetime.timedelta(microseconds=rng.randrange(span_us))

    def rand_interval():
        s = rand_ts()
        # mix of empty, sub-second, and multi-hour intervals
        width = rng.choice([0, rng.randrange(1_000_000), rng.randrange(6 * 3600 * 1_000_000)])
        return s, s + datetime.timedelta(microseconds=width)

    points = [(i, rand_ts()) for i in range(300)]
    ivals_r = [(i, *rand_interval()) for i in range(150)]
    ivals_l = [(i, *rand_interval()) for i in range(150)]

    pts = spark.createDataFrame(
        points,
        StructType([StructField("pid", LongType()), StructField("ts", TimestampNTZType())]),
    )
    right = spark.createDataFrame(
        ivals_r,
        StructType(
            [
                StructField("rid", LongType()),
                StructField("rs", TimestampNTZType()),
                StructField("re", TimestampNTZType()),
            ]
        ),
    )
    left = spark.createDataFrame(
        ivals_l,
        StructType(
            [
                StructField("lid", LongType()),
                StructField("ls", TimestampNTZType()),
                StructField("le", TimestampNTZType()),
            ]
        ),
    )

    range_theta = {
        (p, r)
        for p, t in points
        for r, s, e in ivals_r
        if s <= t < e
    }
    overlap_theta = {
        (l, r)
        for l, ls, le in ivals_l
        for r, rs, re in ivals_r
        if ls < re and rs < le and ls < le and rs < re
    }
    for width in (1, 7, 97, 3600, 50000):
        got_r = bucketed_range_join(pts, right, "ts", "rs", "re", bucket_seconds=width).collect()
        assert {(r.pid, r.rid) for r in got_r} == range_theta, f"range width={width}"
        assert len(got_r) == len(range_theta), f"range dups width={width}"
        got_o = interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_seconds=width
        ).collect()
        assert {(r.lid, r.rid) for r in got_o} == overlap_theta, f"overlap width={width}"
        assert len(got_o) == len(overlap_theta), f"overlap dups width={width}"


def test_range_join_left_keeps_unmatched(spark):
    from data_engineer_project_weather_analytics_spark.operators.range_join import bucketed_range_join

    events, windows = _rj_fixtures(spark)
    out = bucketed_range_join(
        events, windows, "ts", "s", "e", bucket_seconds=3600, how="left"
    )
    by_event = {}
    for r in out.collect():
        by_event.setdefault(r.event_id, set()).add(r.win)
    assert by_event[5] == {None}  # unmatched survives with NULL window
    assert by_event[3] == {"A", "B"}


def _write_events_fixture(spark, path, rows):
    """Materialize a synthetic events table a plans/ query can read
    through sources/catalog.load_table (same columns as testdata)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")


def test_nearest_event_join_randomized_reference(spark, tmp_path):
    """Seeded fuzz: j8's windowed bidirectional as-of vs a pure-Python
    per-row nearest scan — exact gap/direction equality, including
    same-microsecond ties (event_id tiebreak) and no-click users."""
    import random

    from data_engineer_project_weather_analytics_spark.plans.lakeops import j8_nearest_event_join

    rng = random.Random(0xBEEF)
    base = datetime.datetime(2024, 1, 5)
    rows = []
    for eid in range(400):
        ts = base + datetime.timedelta(
            # coarse grid on purpose: ~8% same-timestamp collisions
            microseconds=rng.randrange(0, 2 * 86400) * 500_000
        )
        rows.append(
            (
                eid,
                ts,
                rng.randrange(12),
                rng.choice(["purchase", "click", "click", "view"]),
                1.0,
                None,
            )
        )
    _write_events_fixture(spark, str(tmp_path), rows)

    got = {
        r.event_id: (r.gap_us, r.direction)
        for r in j8_nearest_event_join(spark, str(tmp_path)).collect()
    }

    by_user: dict[int, list] = {}
    for eid, ts, uid, et, _v, _p in rows:
        if et in ("purchase", "click"):
            by_user.setdefault(uid, []).append((int(ts.timestamp() * 1e6), eid, et))
    want = {}
    for uid, evs in by_user.items():
        evs.sort()  # (ts_us, event_id) — the window's order
        for i, (ts_us, eid, et) in enumerate(evs):
            if et != "purchase":
                continue
            prev = next(
                (t for t, _e, k in reversed(evs[:i]) if k == "click"), None
            )
            nxt = next((t for t, _e, k in evs[i + 1 :] if k == "click"), None)
            if prev is None and nxt is None:
                want[eid] = (None, None)
            elif nxt is None or (prev is not None and ts_us - prev <= nxt - ts_us):
                want[eid] = (ts_us - prev, "back")
            else:
                want[eid] = (nxt - ts_us, "fwd")
    assert got == want


def test_resample_interpolate_randomized_reference(spark, tmp_path):
    """Seeded fuzz: w9's windowed interpolation vs a pure-Python
    day-grid fill — exact equality of the filled series (observed,
    interpolated, and edge rows), sparse users included."""
    import random

    from data_engineer_project_weather_analytics_spark.plans.lakeops import w9_resample_interpolate

    rng = random.Random(0xFEED)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(8):
        # sparse: 1-12 observations scattered over the month
        for _ in range(rng.randrange(1, 13)):
            day = rng.randrange(30)
            ts = base + datetime.timedelta(
                days=day, seconds=rng.randrange(86400)
            )
            rows.append((eid, ts, uid, "view", rng.uniform(0.01, 400.0), None))
            eid += 1
    _write_events_fixture(spark, str(tmp_path), rows)

    got = {
        (r.user_id, r.grid_day): (r.filled_cents, r.src)
        for r in w9_resample_interpolate(spark, str(tmp_path)).collect()
    }

    import math

    daily: dict[tuple, int] = {}
    for _eid, ts, uid, _et, value, _p in rows:
        day = (ts - base).days
        daily[(uid, day)] = daily.get((uid, day), 0) + int(math.floor(value * 100))
    want = {}
    for uid in {u for u, _d in daily}:
        obs_days = sorted(d for u, d in daily if u == uid)
        for d in range(30):
            if (uid, d) in daily:
                want[(uid, d)] = (float(daily[(uid, d)]), "obs")
                continue
            prev = max((x for x in obs_days if x < d), default=None)
            nxt = min((x for x in obs_days if x > d), default=None)
            if prev is None or nxt is None:
                want[(uid, d)] = (None, "edge")
            else:
                v0, v1 = daily[(uid, prev)], daily[(uid, nxt)]
                want[(uid, d)] = (
                    float(v0 * (nxt - d) + v1 * (d - prev)) / float(nxt - prev),
                    "interp",
                )
    assert set(got) == set(want)
    for k in want:
        gv, gs = got[k]
        wv, ws = want[k]
        assert gs == ws, (k, got[k], want[k])
        assert (gv is None) == (wv is None), (k, got[k], want[k])
        if gv is not None:
            assert gv == wv, (k, got[k], want[k])


def test_countmin_never_underestimates(spark):
    """CMS guarantee: est(w) >= true(w) for every graded token (the
    sketch only overestimates, by collision mass)."""
    from data_engineer_project_weather_analytics_spark.plans.lakeops import x24_countmin_heavy_hitters

    rows = x24_countmin_heavy_hitters(spark, SF_DIR).collect()
    assert rows, "no heavy hitters graded"
    assert all(r.cms_est >= r.n_exact for r in rows), [
        (r.token, r.n_exact, r.cms_est) for r in rows if r.cms_est < r.n_exact
    ]


def test_bloom_has_no_false_negatives(spark):
    """Bloom guarantee: every true member passes (n_bloom_pass >=
    n_true, n_false_pos >= 0) — a false negative would mean the
    pre-filter silently drops join matches."""
    from data_engineer_project_weather_analytics_spark.plans.lakeops import j9_bloom_prune_join

    row = j9_bloom_prune_join(spark, SF_DIR).collect()[0]
    assert row.n_true > 0, "degenerate fixture: no true matches"
    assert row.n_bloom_pass >= row.n_true
    assert row.n_false_pos >= 0


def test_hist_quantile_bounds_exact(spark):
    """Histogram-sketch guarantee: the estimated bucket's range covers
    the exact order statistic (est <= exact < est + width)."""
    from data_engineer_project_weather_analytics_spark.plans.lakeops import (
        _HQ_WIDTH,
        a21_hist_quantiles,
    )

    for r in a21_hist_quantiles(spark, SF_DIR).collect():
        for p in (50, 95, 99):
            est = r[f"p{p}_est"]
            exact = r[f"p{p}_exact"]
            assert est <= exact < est + _HQ_WIDTH, (r.event_type, p, est, exact)


def test_cusum_flags_planted_level_shift(spark, tmp_path):
    """A planted +50%-per-day level shift from day 20 must trip the
    CUSUM flag after the shift and never before it."""
    import random

    from data_engineer_project_weather_analytics_spark.plans.lakeops import w10_cusum_changepoint

    rng = random.Random(0xD81F7)
    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for day in range(30):
        level = 200.0 if day < 20 else 300.0
        for _ in range(40):
            ts = base + datetime.timedelta(days=day, seconds=rng.randrange(86400))
            rows.append((eid, ts, rng.randrange(10), "view", level + rng.uniform(-5, 5), None))
            eid += 1
    _write_events_fixture(spark, str(tmp_path), rows)

    got = {r.day: r.flagged for r in w10_cusum_changepoint(spark, str(tmp_path)).collect()}
    assert not any(got[d] for d in range(20)), "flagged before the shift"
    assert any(got[d] for d in range(20, 30)), "shift never flagged"


def test_debounce_kept_events_respect_min_gap(spark, tmp_path):
    """Debounce invariant on random bursty data: within each
    (user, type) stream, consecutive KEPT events are > 60 s apart, and
    burst sizes account for every input event exactly once."""
    import random

    from data_engineer_project_weather_analytics_spark.plans.lakeops import w12_debounce

    rng = random.Random(0xDEB)
    base = datetime.datetime(2024, 1, 10)
    rows, eid = [], 0
    for uid in range(6):
        t = base
        for _ in range(80):
            # mix of sub-minute chatter and >1 min silences
            t = t + datetime.timedelta(seconds=rng.choice([1, 5, 30, 59, 61, 600]))
            rows.append((eid, t, uid, "view", 1.0, None))
            eid += 1
    _write_events_fixture(spark, str(tmp_path), rows)

    out = w12_debounce(spark, str(tmp_path)).collect()
    assert sum(r.burst_size for r in out) == len(rows)

    ts_by_eid = {e: ts for e, ts, *_ in rows}
    kept_by_user: dict[int, list] = {}
    for r in out:
        kept_by_user.setdefault(r.user_id, []).append(ts_by_eid[r.kept_event_id])
    for times in kept_by_user.values():
        times.sort()
        for a, b in zip(times, times[1:]):
            assert (b - a).total_seconds() > 60, (a, b)


def test_dq2_drift_zero_baseline_parity(spark, tmp_path):
    """A slice with ZERO baseline rows must agree cross-engine: Spark
    try_divide yields NULL, and the oracle's CASE guard must mirror it
    (a plain double division gives inf in DuckDB — ADVICE r3)."""
    import duckdb

    from data_engineer_project_weather_analytics_spark.plans.lakeops import (
        ORACLES_LAKEOPS,
        dq2_drift_detect,
    )
    from .conftest import assert_parity

    base = datetime.datetime(2024, 1, 10)   # < split (2024-01-16)
    curr = datetime.datetime(2024, 1, 20)   # >= split
    rows = [
        # "both" populates both slices; "newborn" exists only after the
        # split → n_base = 0 → count_ratio must be NULL on both engines
        (0, base, 1, "both", 1.5, None),
        (1, curr, 2, "both", 2.5, None),
        (2, curr, 3, "newborn", 3.5, None),
        (3, curr, 3, "newborn", 4.5, None),
    ]
    _write_events_fixture(spark, str(tmp_path), rows)

    out = dq2_drift_detect(spark, str(tmp_path))
    ratios = {r.event_type: r.count_ratio for r in out.collect()}
    assert ratios["newborn"] is None
    assert ratios["both"] == 1.0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    assert_parity(out, con, ORACLES_LAKEOPS["dq2_drift_detect"], "dq2-zero-base")
    con.close()


def test_a8b_approx_distinct_self_grades(spark):
    """The rows-only HLL++ query must carry its own error bound: the
    within_5pct flag is computed in-query against the exact counts and
    must hold on the testdata."""
    from data_engineer_project_weather_analytics_spark.plans.core import NO_ORACLE

    row = NO_ORACLE["a8b_approx_count_distinct"](spark, SF_DIR).collect()[0]
    assert row.within_5pct is True, row
    assert row.exact_users > 0 and row.exact_events > 0
    # the measured error itself travels in the schema (integer ppm) so
    # the driver's rows-only record pins the bound, not just the flag
    assert 0 <= row.users_err_ppm <= 50_000, row
    assert 0 <= row.events_err_ppm <= 50_000, row


def test_semdedup_incremental_pins_drops_to_corpus_neighbors(spark):
    """Every batch vector the incremental probe drops must have a REAL
    corpus neighbor at cosine >= 0.8 — verified in numpy against the
    raw vectors (the FULL corpus side, independent of the operator's
    cells/survivors) — and the survivor-side consistency must hold:
    best_sim is the max quantized similarity over exactly the same-cell
    corpus survivors, kept vectors have none at threshold.  Planted
    data: 10 of the 20 batch vectors are tiny perturbations of corpus
    vectors (cosine ~0.999), the rest independent draws — both
    branches exercised.  Quantized comparisons allow +-1 quantum where
    numpy's dot and Spark's fold tree could disagree in the last ulp
    at a floor boundary."""
    import math
    import random

    import numpy as np

    from data_engineer_project_weather_analytics_spark.operators import similarity

    rng = random.Random(11)
    dim = 16
    corpus_rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(60)
    ]
    batch_rows = []
    for j in range(10):  # planted near-dups of corpus vectors 0..9
        base = corpus_rows[j][1]
        batch_rows.append(
            (1000 + j, [x + rng.uniform(-0.01, 0.01) for x in base])
        )
    for j in range(10, 20):  # independent draws
        batch_rows.append(
            (1000 + j, [rng.uniform(-1, 1) for _ in range(dim)])
        )
    schema = "vec_id long, embedding array<double>"
    corpus_df = spark.createDataFrame(corpus_rows, schema)
    batch_df = spark.createDataFrame(batch_rows, schema)
    out = {
        r["vec_id"]: r
        for r in similarity.semdedup_incremental(
            corpus_df, batch_df, "vec_id", "embedding", k=8
        ).collect()
    }
    assert sorted(out) == sorted(v for v, _ in batch_rows)

    vecs = {v: np.array(e, dtype=np.float64) for v, e in corpus_rows}
    vecs.update({v: np.array(e, dtype=np.float64) for v, e in batch_rows})
    corpus_ids = [v for v, _ in corpus_rows]

    def simq(a: np.ndarray, b: np.ndarray) -> int:
        return math.floor(
            float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)) * 10000
        )

    survivors, _ = similarity.semdedup_corpus_index(
        corpus_df, "vec_id", "embedding", k=8
    )
    by_cell: dict[int, list[int]] = {}
    for r in survivors.collect():
        by_cell.setdefault(r["cell"], []).append(r["corpus_id"])

    n_dropped = n_kept = 0
    for vid, row in out.items():
        cell_survivors = by_cell.get(row["cluster_id"], [])
        best = max(
            (simq(vecs[vid], vecs[c]) for c in cell_survivors), default=None
        )
        if row["kept"] == 0:
            n_dropped += 1
            # independent pin: a real corpus vector is near (>= 0.8)
            assert max(simq(vecs[vid], vecs[c]) for c in corpus_ids) >= 7999, vid
            assert row["n_corpus_near"] >= 1 and row["best_sim"] >= 8000, row
            assert abs(row["best_sim"] - best) <= 1, (row, best)
        else:
            n_kept += 1
            assert row["n_corpus_near"] == 0 and row["best_sim"] is None, row
            assert best is None or best <= 8000, (row, best)
    # the planted near-dups drop, the independent draws survive
    assert n_dropped >= 8 and n_kept >= 8, (n_dropped, n_kept)


def test_x54_registered_query_batch_identity(spark):
    """The registered x54 covers exactly the batch side of the split,
    once each, with the kept/n_corpus_near/best_sim invariants —
    schema-level sanity on real testdata (the natural corpus has no
    cross-split near-dups at sf0.001; the drop branch is exercised by
    the planted-data test above and by the DuckDB oracle replay)."""
    import hashlib

    from data_engineer_project_weather_analytics_spark.plans.extensions import (
        x54_incremental_semdedup,
    )

    rows = x54_incremental_semdedup(spark, SF_DIR).collect()
    raw_ids = [
        r["vec_id"]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id")
        .collect()
    ]
    batch_ids = [
        v for v in raw_ids
        if hashlib.md5(str(v).encode()).hexdigest() >= "cd"
    ]
    assert sorted(r["vec_id"] for r in rows) == sorted(batch_ids)
    for r in rows:
        if r["kept"] == 1:
            assert r["n_corpus_near"] == 0 and r["best_sim"] is None, r
        else:
            assert r["n_corpus_near"] >= 1 and r["best_sim"] >= 8000, r


@pytest.mark.parametrize("two_level", [False, True], ids=["flat", "two_level"])
def test_batch_assign_two_level_is_consistent_with_fit(spark, two_level):
    """The 'probe sees the same geometry' contract, for both codebook
    shapes: re-probing the CORPUS vectors through the assignment step
    (_assign_to_codebook) against the fit's returned codebook must
    reproduce the fit's own final assignment exactly — the flat
    ``{"cents"}`` and the two-level ``{"fmap", "occ"}`` codebook alike
    are what the stored assignment used (semdedup_corpus_index
    docstring)."""
    import random

    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.operators import similarity

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v = df.select(
        F.col("vec_id").alias("__vid"),
        F.col("embedding").alias("__v"),
    )
    assigned, codebook = similarity._kmeans_fit(
        v, k=16, n_iter=2, two_level=two_level
    )
    fit = {r["__vid"]: r["cell"] for r in assigned.collect()}
    probe = similarity._assign_to_codebook(v, codebook)
    got = {r["__vid"]: r["cell"] for r in probe.collect()}
    assert got == fit


def test_semdedup_incremental_auto_pins_planted_dups(spark):
    """The auto-k two-level probe must drop a batch vector that is an
    exact copy of a corpus vector (identical vectors share every
    argmax, so same cell is guaranteed; cosine = 1.0 >= any threshold)
    and keep a batch vector orthogonal to the whole corpus — both
    branches of the deployment path, plus the same in-row invariants
    the fixed-k form pins."""
    import random

    from data_engineer_project_weather_analytics_spark.operators import similarity

    rng = random.Random(3)
    dim = 8
    corpus_rows = [
        (i, [rng.uniform(0.1, 1.0) for _ in range(dim)]) for i in range(40)
    ]
    # an exact copy (must drop) and an axis-flipped far vector (must keep:
    # every corpus component is positive, so cosine vs -corpus_0 < 0)
    batch_rows = [
        (1000, list(corpus_rows[5][1])),
        (1001, [-x for x in corpus_rows[0][1]]),
    ]
    schema = "vec_id long, embedding array<double>"
    out = {
        r["vec_id"]: r
        for r in similarity.semdedup_incremental(
            spark.createDataFrame(corpus_rows, schema),
            spark.createDataFrame(batch_rows, schema),
            "vec_id",
            "embedding",
            k=8,
            two_level=True,
        ).collect()
    }
    assert set(out) == {1000, 1001}
    assert out[1000]["kept"] == 0 and out[1000]["best_sim"] >= 9999
    assert out[1001]["kept"] == 1 and out[1001]["best_sim"] is None
    for r in out.values():
        if r["kept"] == 1:
            assert r["n_corpus_near"] == 0
        else:
            assert r["n_corpus_near"] >= 1


def test_x56_auto_agrees_with_fixed_on_non_semantic_columns(spark):
    """The deployment composition (x56_curation_auto) differs from the
    oracle-checked x56 ONLY through the semantic stage: quality flags,
    mixture sampling, span-rewrite columns, and every verdict not
    hinging on semantic_kept must be identical row-for-row."""
    from data_engineer_project_weather_analytics_spark.plans.corpus import (
        x56_curation_auto,
        x56_curation_materialize,
    )

    fixed = {r["doc_id"]: r for r in x56_curation_materialize(spark, SF_DIR).collect()}
    auto = {r["doc_id"]: r for r in x56_curation_auto(spark, SF_DIR).collect()}
    assert sorted(fixed) == sorted(auto)
    for d, fr in fixed.items():
        ar = auto[d]
        for c in ("lang", "quality_pass", "removed_occ", "retained_frac",
                  "rate_bp", "sampled"):
            assert fr[c] == ar[c], (d, c)
        if fr["semantic_kept"] == ar["semantic_kept"]:
            assert fr["verdict"] == ar["verdict"], d


def test_x59_auto_agrees_with_fixed_on_non_semantic_columns(spark):
    """The deployment ingest verdict (x59_ingest_curation_auto) differs
    from the oracle-checked x59 ONLY through the semantic probe stage:
    quality flags, exact/near-dup evidence, mixture sampling, and every
    verdict not hinging on semantic_kept must be identical
    row-for-row (the x56_auto recipe applied to the ingestion triad)."""
    from data_engineer_project_weather_analytics_spark.plans.corpus import (
        x59_ingest_curation,
        x59_ingest_curation_auto,
    )

    fixed = {r["doc_id"]: r for r in x59_ingest_curation(spark, SF_DIR).collect()}
    auto = {r["doc_id"]: r for r in x59_ingest_curation_auto(spark, SF_DIR).collect()}
    assert sorted(fixed) == sorted(auto)
    for d, fr in fixed.items():
        ar = auto[d]
        for c in ("lang", "quality_pass", "exact_kept", "n_near",
                  "best_jaccard", "rate_bp", "sampled"):
            assert fr[c] == ar[c], (d, c)
        if fr["semantic_kept"] == ar["semantic_kept"]:
            assert fr["verdict"] == ar["verdict"], d


def test_x60_funnel_partitions_the_batch_exactly(spark):
    """Verdict precedence IS stage attribution: the six funnel columns
    must partition n_docs exactly per language, the totals must match
    a direct count over x59's verdicts, and keep_bp must be the exact
    integer quotient."""
    from data_engineer_project_weather_analytics_spark.plans.corpus import (
        x59_ingest_curation,
        x60_ingest_funnel,
    )

    rows = x60_ingest_funnel(spark, SF_DIR).collect()
    assert rows
    parts = (
        "n_drop_quality n_drop_exact n_drop_neardup n_drop_semdup "
        "n_drop_sampled n_keep"
    ).split()
    for r in rows:
        assert sum(r[c] for c in parts) == r["n_docs"], r
        assert r["keep_bp"] == r["n_keep"] * 10000 // r["n_docs"], r
    verdicts = x59_ingest_curation(spark, SF_DIR).groupBy(
        "lang", "verdict"
    ).count().collect()
    direct: dict[tuple[str, str], int] = {
        (r["lang"], r["verdict"]): r["count"] for r in verdicts
    }
    for r in rows:
        for c in parts:
            v = "keep" if c == "n_keep" else c[2:]
            assert r[c] == direct.get((r["lang"], v), 0), (r["lang"], c)


def test_audio_real_wave_decode_matches_fake_stats(spark):
    """The REAL stdlib-wave decode path must reproduce the fake path's
    stats exactly: for a WAV synthesized from payload bytes under the
    shared (b-128)*256 mapping, real(wav(payload)) == fake(payload)
    per asset — a value check of header parse, frame read, and sample
    unpack end-to-end (the PIL-contract recipe for audio)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 40
    )
    media = multimodal.documents_as_audio(docs)
    fake = {
        r["media_id"]: tuple(r)[1:]
        for r in multimodal.audio_features(media, fake=True).collect()
    }
    real = {
        r["media_id"]: tuple(r)[1:]
        for r in multimodal.audio_features(
            multimodal.encode_pcm_wav(media), fake=False
        ).collect()
    }
    assert real == fake and len(real) == 40
    # the stats are real, not degenerate
    assert any(v[3] > 0 for v in real.values())  # peak
    assert all(v[1] > 0 for v in real.values())  # n_samples


def test_audio_codec_errors_are_named(spark):
    """fake=False on a non-audio row raises a NotImplementedError that
    NAMES the missing codec (honest-stub convention), and an
    unsupported PCM layout (stereo) is refused by name too."""
    import io
    import wave

    media = spark.createDataFrame(
        [(1, "video", b"xx", 2, None, None, 8000)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="no audio codec for media_type='video'"):
        multimodal.audio_features(media, fake=False).collect()

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)  # stereo: unsupported layout
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x01\x00\x01")
    stereo = spark.createDataFrame(
        [(1, "audio", buf.getvalue(), 44, None, None, 8000)],
        schema=multimodal.MEDIA_SCHEMA,
    )

    def _collect_stereo():
        # the first raises above crashes Python workers BY DESIGN; the
        # very next Python-eval job can race the worker factory's
        # recovery and die with a java.nio.channels error
        # (ClosedChannelException / CancelledKeyException — both seen
        # in r12 full-suite runs; the test passes in isolation).  Retry
        # on that infrastructure signature only, so the test stays
        # pinned to the codec contract, not worker-daemon timing.
        import time

        for _ in range(3):
            try:
                multimodal.audio_features(stereo, fake=False).collect()
                return  # no exception: let pytest.raises fail loudly
            except Exception as exc:
                if "java.nio.channels" not in str(exc):
                    raise
                time.sleep(1.0)
        multimodal.audio_features(stereo, fake=False).collect()

    with pytest.raises(Exception, match="only 16-bit mono PCM WAV"):
        _collect_stereo()


def test_video_real_avi_decode_matches_fake_stats(spark):
    """The REAL stdlib RIFF/AVI decode path must reproduce the fake
    path's stats exactly: for an AVI synthesized from payload bytes
    (4 height-1 DIB strips, zero-padded tail), real(avi(payload)) ==
    fake(payload) per asset — a value check of the RIFF walk, header
    parse, and frame read end-to-end (the wave-contract recipe for
    video, e8291ee one modality up)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 40
    )
    media = multimodal.documents_as_video(docs)
    fake = {
        r["media_id"]: tuple(r)[1:]
        for r in multimodal.video_features(media, fake=True).collect()
    }
    real = {
        r["media_id"]: tuple(r)[1:]
        for r in multimodal.video_features(
            multimodal.encode_avi(media), fake=False
        ).collect()
    }
    assert real == fake and len(real) == 40
    # geometry and stats are real, not degenerate
    assert all(v[3] == multimodal.N_VIDEO_FRAMES for v in real.values())
    assert any(v[7] > 0 for v in real.values())  # sum_abs
    # the zero-padded tail is visible in the stats exactly as the
    # arithmetic predicts: sum_bytes is the padded total, a stride
    # multiple of 4 per frame
    assert all(
        v[5] % (4 * multimodal.N_VIDEO_FRAMES) == 0 for v in real.values()
    )


def test_video_empty_payload_roundtrip(spark):
    """An empty payload still encodes to a valid 4-frame container of
    blank strips and both paths agree on it (the x5d empty-doc
    totality rule applied to video)."""
    empty = spark.createDataFrame(
        [(1, "video", b"", 0, None, None, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    fake = tuple(multimodal.video_features(empty, fake=True).collect()[0])
    real = tuple(
        multimodal.video_features(
            multimodal.encode_avi(empty), fake=False
        ).collect()[0]
    )
    assert fake == real
    # 4 frames x 4-byte minimum strip, all pad: peak = |0-128| = 128
    assert fake[1:] == (4, 1, 25, 4, 160, 16, 128, 16 * 128)


def test_video_codec_errors_are_named(spark):
    """fake=False on a non-video row raises a NotImplementedError that
    NAMES the missing codec (honest-stub convention), and a compressed
    stream / non-RIFF payload is refused by name too."""
    media = spark.createDataFrame(
        [(1, "image", b"xx", 2, None, None, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="no video codec for media_type='image'"):
        multimodal.video_features(media, fake=False).collect()

    notriff = spark.createDataFrame(
        [(1, "video", b"not a riff container", 20, None, None, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="not a RIFF/AVI container"):
        multimodal.video_features(notriff, fake=False).collect()


def test_ivfpq_recall_dial_monotone(spark):
    """x55 must grade every query at every dial setting, with recall
    non-decreasing in nprobe (a wider probe set only adds candidates)
    — the structural property that makes it a tuning dial."""
    from data_engineer_project_weather_analytics_spark.plans.extensions import (
        _IVFPQ_NPROBES,
        _PQ_QUERIES,
        x55_ivfpq_recall,
    )

    rows = x55_ivfpq_recall(spark, SF_DIR).collect()
    by_q: dict[int, dict[int, int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["nprobe"]] = r["recall_ppm"]
    assert len(by_q) == _PQ_QUERIES
    for q, dials in by_q.items():
        assert sorted(dials) == sorted(_IVFPQ_NPROBES), (q, dials)
        seq = [dials[n] for n in sorted(dials)]
        assert seq == sorted(seq), (q, seq)  # monotone non-decreasing
    # at least one query must actually move with nprobe on this corpus
    # OR recall is already saturated at 1.0 — either way the widest
    # dial is the best
    assert all(
        dials[max(_IVFPQ_NPROBES)] == max(dials.values())
        for dials in by_q.values()
    )


def test_embedding_lsh_candidates_superset_of_output(spark):
    """The exposed candidate stage is exactly the verify input: every
    pair the operator emits must appear among its candidates (the
    work-driver count bench_scale accounts can never undercount the
    output)."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(80):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, base))
        rows.append((i + 1000, [x + rng.uniform(-0.01, 0.01) for x in base]))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<float>"
    )
    kw = dict(n_planes=6, dim=16, seed=3, n_tables=2, max_bucket=1000)
    cand = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_lsh_candidates(df, "vec_id", "embedding", **kw).collect()
    }
    out = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_lsh(
            df, "vec_id", "embedding", threshold=0.9, **kw
        ).collect()
    }
    assert out  # planted near-dups produce pairs
    assert out <= cand


def test_sample_frames_reconstructs_payload(spark):
    """Fake frame slices concatenate back to the exact payload (the
    contract the x5c oracle relies on), with the 25fps-surrogate
    cadence and n_frames rows per asset — including lengths not
    divisible by n_frames and the empty payload."""
    media = spark.createDataFrame(
        [
            (1, "video", b"0123456789ab", 12, None, None, None),
            (2, "video", b"0123456789abc", 13, None, None, None),  # 13 % 4 != 0
            (3, "video", b"", 0, None, None, None),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    frames = multimodal.sample_frames(media, n_frames=4, fake=True)
    assert frames.schema == multimodal.FRAME_SCHEMA
    rows = frames.collect()
    assert len(rows) == 3 * 4
    by_media = {}
    for r in sorted(rows, key=lambda r: (r.media_id, r.frame_idx)):
        assert r.frame_ts_ms == r.frame_idx * multimodal.FRAME_INTERVAL_MS
        by_media.setdefault(r.media_id, b"")
        by_media[r.media_id] += bytes(r.frame_payload)
    assert by_media[1] == b"0123456789ab"
    assert by_media[2] == b"0123456789abc"
    assert by_media[3] == b""


def test_sample_frames_real_path_names_missing_codec(spark):
    media = spark.createDataFrame(
        [(1, "video", b"bytes", 5, None, None, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="codec"):
        multimodal.sample_frames(media, fake=False).collect()
    with pytest.raises(ValueError, match="n_frames"):
        multimodal.sample_frames(media, n_frames=0)


def test_resize_media_fake_tiles_and_truncates(spark):
    """Fake resize emits exactly w*h bytes per payload — tiling short
    payloads, truncating long ones, zero-filling empty ones — with
    width/height metadata set and size_bytes re-derived."""
    media = spark.createDataFrame(
        [
            (1, "image", b"ab", 2, None, None, None),       # tile
            (2, "image", b"x" * 50, 50, None, None, None),  # truncate
            (3, "image", b"", 0, None, None, None),         # zero-fill
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.resize_media(media, 4, 3, fake=True)
    assert out.schema == multimodal.MEDIA_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    assert bytes(rows[1].payload) == b"abababababab"
    assert bytes(rows[2].payload) == b"x" * 12
    assert bytes(rows[3].payload) == bytes(12)
    for r in rows.values():
        assert (r.width, r.height, r.size_bytes) == (4, 3, 12)


@pytest.mark.skipif(
    not _pil_available(), reason="PIL not installed in this container"
)
def test_resize_media_real_codec_contract(spark):
    """With PIL installed, fake=False resizes REAL image bytes under
    the same contract: MEDIA_SCHEMA out, target dims decodable from
    the re-encoded payload."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (8, 8), color=128).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", buf.getvalue(), buf.getbuffer().nbytes, 8, 8, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.resize_media(media, 4, 2, fake=False)
    assert out.schema == multimodal.MEDIA_SCHEMA
    row = out.collect()[0]
    assert (row.width, row.height) == (4, 2)
    decoded = Image.open(io.BytesIO(bytes(row.payload)))
    assert decoded.size == (4, 2)


@pytest.mark.skipif(
    _pil_available(), reason="PIL installed: the real resize path works"
)
def test_resize_media_real_path_raises_without_codec(spark):
    media = spark.createDataFrame(
        [(1, "image", b"bytes", 5, None, None, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="PIL"):
        multimodal.resize_media(media, 4, 4, fake=False).collect()


def test_semdedup_keep_greedy_min_id(spark):
    # two orthogonal groups; inside group A, 1/2/3 are mutual near-dups
    # (cosine > 0.8) so only min-id 1 survives; in group B, 4 and 5 are
    # near-dups (5 dropped) while 6 is distinct enough to survive
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.99, 0.05, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.98, 0.0, 0.05, 0.0]),
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0, 0.0]),
        Row(vec_id=5, embedding=[0.0, 0.05, 0.99, 0.0]),
        Row(vec_id=6, embedding=[0.0, 0.7, 0.7, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.vec_id: r
        for r in similarity.semdedup_keep(
            df, "vec_id", "embedding", k=2, n_iter=3, threshold=0.8
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6}  # decision for EVERY vector
    assert {v: out[v].kept for v in out} == {
        1: 1, 2: 0, 3: 0, 4: 1, 5: 0, 6: 1
    }
    # degrees: 1-2-3 form a triangle; 4-5 a pair; 6 isolated
    assert {v: out[v].n_near for v in out} == {
        1: 2, 2: 2, 3: 2, 4: 1, 5: 1, 6: 0
    }


def test_x5d_oracle_total_on_empty_payload(spark):
    """The x5d oracle divides by length(text): an empty document must
    hit its replayed zero-byte branch (md5 of 128 NUL bytes) and match
    the Spark fake resizer's empty-payload branch exactly (ADVICE r6 —
    the shipped testdata has no empty docs, so this drives the branch
    through BOTH engines on a synthetic corpus)."""
    import hashlib

    import duckdb

    from data_engineer_project_weather_analytics_spark.plans.registry import REGISTRY

    docs = spark.createDataFrame([(1, ""), (2, "ab")], "doc_id bigint, text string")
    media = multimodal.documents_as_media(docs)
    resized = multimodal.resize_media(media, 16, 8, fake=True)
    got = {
        r.media_id: hashlib.md5(bytes(r.payload)).hexdigest()
        for r in resized.collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT * FROM (VALUES (1, ''), (2, 'ab')) t(doc_id, text)"
    )
    want = dict(
        con.execute(
            "SELECT media_id, payload_md5 FROM ("
            + REGISTRY["x5d_resize_digest"].sql
            + ")"
        ).fetchall()
    )
    con.close()
    assert got == want
    assert got[1] == hashlib.md5(bytes(128)).hexdigest()


def test_documents_testdata_is_ascii(spark):
    """The x5c/x5d oracles slice BYTES on the Spark side but CHARS in
    SQL (substr): those agree only while every document is single-byte
    (ASCII).  Assert the assumption on the corpus the oracle checks run
    against, so a future non-ASCII testdata drop fails HERE with the
    real cause instead of as an opaque hash mismatch (ADVICE r6)."""
    docs = load_table(spark, SF_DIR, "documents")
    n_multibyte = docs.filter(F.octet_length("text") != F.length("text")).count()
    assert n_multibyte == 0


def test_reduced_recall_dial_rp_survives_offprefix_signal(spark):
    """x57's reason to exist: when the discriminative mass lives OUTSIDE
    the first r_dim coordinates, prefix truncation is blind to it while
    the JL projection (which mixes every coordinate into every reduced
    dim) still recovers the true neighbors.  Planted: each query shares
    its last 48 dims exactly with its 3 true neighbors; the first 16
    dims are iid noise."""
    import random

    rng = random.Random(11)

    def noise(n):
        return [rng.uniform(-1.0, 1.0) for _ in range(n)]

    n_queries, k = 4, 3
    rows = []
    for q in range(n_queries):
        tail = noise(48)
        rows.append((q, noise(16) + tail))
        for j in range(k):
            rows.append((100 + 10 * q + j, noise(16) + tail))
    for d in range(40):
        rows.append((500 + d, noise(64)))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = similarity.reduced_recall_dial(
        df, "vec_id", "embedding", dim=64, r_dim=16, n_queries=n_queries, k=k
    ).collect()
    got = {(r.method, r.query_id): r.n_hit for r in out}
    assert set(got) == {
        (m, q) for m in ("rp", "prefix") for q in range(n_queries)
    }
    rp_total = sum(got[("rp", q)] for q in range(n_queries))
    prefix_total = sum(got[("prefix", q)] for q in range(n_queries))
    assert rp_total > prefix_total, (rp_total, prefix_total)
    # the projection must recover most of the planted neighbors
    assert rp_total >= (n_queries * k) // 2, rp_total


def test_sq8_recall_rescore_dominates_raw(spark):
    """x58's structural guarantee: rescoring the top-20 int8 candidates
    with the exact cosine can only help — any exact-top-k member inside
    the candidate set outranks every non-member under the same
    quantized-cosine key the exact side uses, so rescore n_hit ≥ raw
    n_hit for EVERY query."""
    from data_engineer_project_weather_analytics_spark.plans.extensions import (
        _PQ_QUERIES,
        x58_sq8_recall,
    )

    rows = x58_sq8_recall(spark, SF_DIR).collect()
    by_q: dict[int, dict[str, int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["method"]] = r["n_hit"]
    assert len(by_q) == _PQ_QUERIES
    for q, methods in by_q.items():
        assert set(methods) == {"sq8", "sq8_rescore"}, (q, methods)
        assert methods["sq8_rescore"] >= methods["sq8"], (q, methods)
