"""Stored-index MAINTENANCE lifecycle: build → probe → append →
probe.  The stored read paths (x50b/x51b/x53b/x54b) prove the QUERY
half; these tests prove the steady-state loop — a batch admitted
today is corpus for the batch that arrives tomorrow — for both index
families that own per-batch admission state (LSH signatures, SemDeDup
survivors).  The PQ index has no admission semantics (it indexes
everything), so its lifecycle is build/rebuild only."""

from pyspark.sql import functions as F

from data_engineer_project_weather_analytics_spark.operators import dedup, similarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, emb array<double>")


BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)


def test_lsh_index_append_makes_admissions_visible_to_next_batch(
    spark, tmp_path
):
    idx = str(tmp_path / "lsh_idx")
    corpus = _docs(
        spark,
        [
            (1, "one two three four five six seven eight nine ten"),
            (2, "red orange yellow green blue indigo violet black white gray"),
        ],
    )
    dedup.lsh_index_write(corpus, "doc_id", "text", idx)

    # batch 1: a doc unrelated to the corpus — probe finds nothing
    batch1 = _docs(spark, [(100, BASE)])
    p1 = dedup.lsh_probe_stored(
        spark, idx, batch1, "doc_id", "text", threshold=0.1
    )
    assert p1.count() == 0

    # admit batch 1 into the index
    dedup.lsh_index_append(batch1, "doc_id", "text", idx)

    # batch 2: a near-dup of the batch-1 doc — the probe must now
    # surface the cross-batch pair, with batch-1's doc on the CORPUS
    # side (id_a): yesterday's admission is today's corpus
    batch2 = _docs(spark, [(200, BASE.replace("omicron", "painted"))])
    p2 = dedup.lsh_probe_stored(
        spark, idx, batch2, "doc_id", "text", threshold=0.1
    ).collect()
    assert [(r.id_a, r.id_b) for r in p2] == [(100, 200)]
    assert p2[0].jaccard > 0.5


def test_semdedup_index_append_dedups_next_batch(spark, tmp_path):
    idx = str(tmp_path / "sem_idx")
    # corpus: one tight cluster on the first axis
    corpus = _vecs(
        spark,
        [
            (1, [1.0, 0.05, 0.0, 0.0]),
            (2, [1.0, 0.00, 0.1, 0.0]),
            (3, [0.9, 0.10, 0.0, 0.1]),
        ],
    )
    similarity.semdedup_index_write(
        corpus, "vec_id", "emb", idx, k=2, n_iter=2, threshold=0.8
    )

    u = [0.0, 0.1, 1.0, 0.0]           # far from the corpus cluster
    u_near = [0.0, 0.12, 1.0, 0.02]    # cosine(u, u_near) > 0.99

    # before any append, BOTH u and its near-twin pass the probe
    pre = {
        r.vec_id: r
        for r in similarity.semdedup_incremental_stored(
            spark, idx, _vecs(spark, [(100, u), (200, u_near)]),
            "vec_id", "emb",
        ).collect()
    }
    assert pre[100].kept == 1 and pre[200].kept == 1

    # admit batch 1 (u) — returned verdicts are the probe rows
    v1 = {
        r.vec_id: r
        for r in similarity.semdedup_index_append(
            spark, idx, _vecs(spark, [(100, u)]), "vec_id", "emb"
        ).collect()
    }
    assert v1[100].kept == 1

    # batch 2: the near-twin is now dropped against batch-1's admission
    v2 = {
        r.vec_id: r
        for r in similarity.semdedup_incremental_stored(
            spark, idx, _vecs(spark, [(200, u_near)]), "vec_id", "emb"
        ).collect()
    }
    assert v2[200].kept == 0
    assert v2[200].n_corpus_near == 1
    assert v2[200].best_sim >= 9900  # quantized cosine vs the twin


def test_streaming_micro_batches_maintain_stored_index(spark, tmp_path):
    """The maintenance loop driven end-to-end by Structured Streaming:
    each micro-batch probes the PARQUET SemDeDup index and appends its
    admissions (semdedup_index_append inside foreachBatch), so a later
    micro-batch's near-twin of an earlier admission is dropped.  The
    DURABLE twin of streaming_semdedup_probe: the parquet index IS the
    state, so admissions survive restarts without checkpoint replay —
    and a non-streaming client (the batch x54b query) sees the same
    index."""
    import time

    idx = str(tmp_path / "sem_stream_idx")
    corpus = _vecs(
        spark, [(1, [1.0, 0.05, 0.0, 0.0]), (2, [1.0, 0.0, 0.1, 0.0])]
    )
    similarity.semdedup_index_write(
        corpus, "vec_id", "emb", idx, k=2, n_iter=2, threshold=0.8
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    u = [0.0, 0.1, 1.0, 0.0]
    u_near = [0.0, 0.12, 1.0, 0.02]
    _vecs(spark, [(100, u)]).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    _vecs(spark, [(200, u_near)]).coalesce(1).write.mode("append").parquet(
        src
    )

    stream = (
        spark.readStream.schema("vec_id bigint, emb array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def _admit(b, _id):
        if not b.isEmpty():
            similarity.semdedup_index_append(
                spark, idx, b, "vec_id", "emb"
            ).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.vec_id: r for r in spark.read.parquet(out).collect()}
    # micro-batch 1's vector was novel → admitted; micro-batch 2's
    # near-twin was dropped against that admission
    assert got[100].kept == 1
    assert got[200].kept == 0 and got[200].n_corpus_near == 1
    assert got[200].best_sim >= 9900


def test_stored_auto_probe_agrees_with_in_query_auto(spark):
    """x54c (stored auto-k two-level index) must return row-for-row
    the rows x54_auto computes in-query on the same corpus — the
    byte-identity claim the stored split rests on, proven at the
    registered-query level (both are rows-only at the driver, so this
    pytest IS their cross-check)."""
    import data_engineer_project_weather_analytics_spark.plans.extensions as E

    sf = "/root/testdata/sf0.001"
    want = sorted(
        tuple(r)
        for r in E.x54_incremental_semdedup_auto(spark, sf).collect()
    )
    got = sorted(
        tuple(r)
        for r in E.x54c_incremental_semdedup_auto_stored(spark, sf).collect()
    )
    assert got == want
    assert len(got) > 0


def test_index_compact_preserves_probe_results(spark, tmp_path):
    """Compaction is pure housekeeping: after several appends have
    littered the LSH index with small files, compact_index must shrink
    the file count without changing a single probe row — and the
    staged-swap must leave no .compact_* residue."""
    import os

    from data_engineer_project_weather_analytics_spark.operators import index_store

    idx = str(tmp_path / "lsh_idx_c")
    corpus = _docs(spark, [(1, BASE)])
    dedup.lsh_index_write(corpus, "doc_id", "text", idx)
    for i, word in enumerate(["painted", "gilded", "carved"]):
        dedup.lsh_index_append(
            _docs(spark, [(10 + i, BASE.replace("omicron", word))]),
            "doc_id",
            "text",
            idx,
        )
    probe = _docs(spark, [(99, BASE.replace("kappa", "copper"))])

    def probe_rows():
        return sorted(
            tuple(r)
            for r in dedup.lsh_probe_stored(
                spark, idx, probe, "doc_id", "text", threshold=0.1
            ).collect()
        )

    before_rows = probe_rows()
    assert len(before_rows) >= 4  # corpus doc + 3 appended near-dups
    stats = index_store.compact_index(
        spark, idx, index_store.LSH_INDEX_LAYOUT
    )
    assert set(stats) == {"sigs", "sets"}
    for sub, (n_before, n_after) in stats.items():
        assert n_before >= 4, (sub, stats)  # write + 3 appends
    # sets: unpartitioned → one global file.  sigs: band-partitioned
    # layout → one file per live band partition, never more
    assert stats["sets"][1] == 1, stats
    n_bands = len(
        [d for d in os.listdir(os.path.join(idx, "sigs")) if d.startswith("band=")]
    )
    assert n_bands >= 1
    assert stats["sigs"][1] == n_bands, (stats, n_bands)
    assert stats["sigs"][1] < stats["sigs"][0], stats
    assert probe_rows() == before_rows
    assert not [p for p in os.listdir(idx) if p.startswith(".compact")]


def test_semdedup_index_append_only_adds_kept_rows(spark, tmp_path):
    idx = str(tmp_path / "sem_idx2")
    corpus = _vecs(spark, [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])])
    similarity.semdedup_index_write(
        corpus, "vec_id", "emb", idx, k=2, n_iter=2, threshold=0.8
    )
    n0 = spark.read.parquet(f"{idx}/survivors").count()
    # one dup of corpus vec 1 (dropped), one novel vector (kept)
    batch = _vecs(
        spark, [(10, [0.99, 0.01, 0.0, 0.0]), (11, [0.0, 0.0, 0.0, 1.0])]
    )
    v = {
        r.vec_id: r
        for r in similarity.semdedup_index_append(
            spark, idx, batch, "vec_id", "emb"
        ).collect()
    }
    assert v[10].kept == 0 and v[11].kept == 1
    surv = spark.read.parquet(f"{idx}/survivors")
    assert surv.count() == n0 + 1
    appended = surv.filter(F.col("corpus_id") >= 10).collect()
    assert [r.corpus_id for r in appended] == [11]
    # the appended row carries the vector and its assigned cell, so the
    # next probe can verify against it without touching the batch table
    assert appended[0]["__cv"] == [0.0, 0.0, 0.0, 1.0]


def test_delete_from_index_lsh_matches_rebuild(spark, tmp_path):
    """Retraction (VERDICT r11 task 3): deleting a doc from the stored
    LSH index must leave EXACTLY the state a full rebuild on the
    retained corpus produces — each doc's signature and packed-set
    rows derive only from that doc, so probe results after the delete
    are byte-identical to the rebuild's (the x54b shared-oracle trick
    applied to deletion).  The index-layer analog of the reference's
    ON DELETE CASCADE (sql/createtable.sql:13)."""
    import os

    from data_engineer_project_weather_analytics_spark.operators import index_store

    idx = str(tmp_path / "lsh_del")
    rebuilt = str(tmp_path / "lsh_rebuilt")
    corpus = _docs(
        spark,
        [
            (1, BASE),
            (2, BASE.replace("omicron", "painted")),
            (3, "one two three four five six seven eight nine ten"),
        ],
    )
    dedup.lsh_index_write(corpus, "doc_id", "text", idx)
    # retract doc 2 (the near-dup of doc 1)
    stats = index_store.delete_from_index(
        spark, idx, index_store.LSH_INDEX_LAYOUT,
        spark.createDataFrame([(2,)], "id bigint"),
    )
    assert set(stats) == {"sigs", "sets"}
    for sub, (rows_before, rows_after) in stats.items():
        assert rows_after < rows_before, (sub, stats)
    assert not [p for p in os.listdir(idx) if p.startswith(".compact")]

    dedup.lsh_index_write(
        corpus.filter("doc_id != 2"), "doc_id", "text", rebuilt
    )
    probe = _docs(spark, [(99, BASE.replace("kappa", "copper"))])

    def probe_rows(where):
        return sorted(
            tuple(r)
            for r in dedup.lsh_probe_stored(
                spark, where, probe, "doc_id", "text", threshold=0.1
            ).collect()
        )

    got, want = probe_rows(idx), probe_rows(rebuilt)
    assert got == want
    assert [r[0] for r in got] == [1]  # doc 2 no longer matches
    # stored state itself is row-identical to the rebuild
    for sub in ("sigs", "sets"):
        a = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{idx}/{sub}").collect()
        )
        b = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{rebuilt}/{sub}").collect()
        )
        assert a == b, sub


def test_delete_from_index_semdedup_unblocks_near_twin(spark, tmp_path):
    """SemDeDup retraction: removing a survivor means its near-twins
    pass future probes again (the retracted doc must stop shadowing
    the corpus), while the codebook stays frozen — deletion, like
    append, operates under the existing geometry; re-centering is a
    rebuild."""
    from data_engineer_project_weather_analytics_spark.operators import index_store

    idx = str(tmp_path / "sem_del")
    corpus = _vecs(
        spark, [(1, [1.0, 0.05, 0.0, 0.0]), (2, [1.0, 0.0, 0.1, 0.0])]
    )
    similarity.semdedup_index_write(
        corpus, "vec_id", "emb", idx, k=2, n_iter=2, threshold=0.8
    )
    u = [0.0, 0.1, 1.0, 0.0]
    u_near = [0.0, 0.12, 1.0, 0.02]
    similarity.semdedup_index_append(
        spark, idx, _vecs(spark, [(100, u)]), "vec_id", "emb"
    )
    cents_before = sorted(
        tuple(r) for r in spark.read.parquet(f"{idx}/cents").collect()
    )
    blocked = similarity.semdedup_incremental_stored(
        spark, idx, _vecs(spark, [(200, u_near)]), "vec_id", "emb"
    ).collect()
    assert blocked[0].kept == 0

    stats = index_store.delete_from_index(
        spark, idx, index_store.SEM_INDEX_LAYOUT,
        spark.createDataFrame([(100,)], "id bigint"),
    )
    # only the survivors artifact carries per-row corpus state
    assert set(stats) == {"survivors"}
    rows_before, rows_after = stats["survivors"]
    assert rows_after == rows_before - 1
    freed = similarity.semdedup_incremental_stored(
        spark, idx, _vecs(spark, [(200, u_near)]), "vec_id", "emb"
    ).collect()
    assert freed[0].kept == 1
    cents_after = sorted(
        tuple(r) for r in spark.read.parquet(f"{idx}/cents").collect()
    )
    assert cents_after == cents_before  # geometry untouched


def test_delete_from_index_pq_removes_neighbor(spark, tmp_path):
    """PQ retraction: a deleted vector disappears from stored-probe
    results (its posting-list row is gone) while the codebook and
    quantizer max stay frozen — the append/delete contract shared by
    every index family."""
    from data_engineer_project_weather_analytics_spark.operators import index_store

    idx = str(tmp_path / "pq_del")
    vecs = _vecs(
        spark,
        [(i, [float(i % 3) + 0.1 * i, 1.0 - 0.05 * i, 0.5, 0.25]) for i in range(8)],
    )
    similarity.pq_index_write(
        vecs, "vec_id", "emb", idx, dim=4, m=2, n_codewords=4
    )
    queries = _vecs(spark, [(0, [0.1, 1.0, 0.5, 0.25])])

    def neighbors():
        return {
            r.neighbor_id
            for r in similarity.pq_topk_stored(
                spark, idx, queries, "vec_id", "emb", dim=4, m=2, k=8
            ).collect()
        }

    assert 5 in neighbors()
    stats = index_store.delete_from_index(
        spark, idx, index_store.PQ_INDEX_LAYOUT,
        spark.createDataFrame([(5,)], "id bigint"),
    )
    assert set(stats) == {"codes"}
    assert stats["codes"] == (8, 7)
    assert 5 not in neighbors()


def test_recover_index_repairs_every_crash_state(spark, tmp_path):
    """Compaction crash recovery (VERDICT r11 task 7): simulate a kill
    at each point inside the staged-rename swap and assert
    recover_index restores a fully-live artifact with unchanged probe
    results — the .compact_trash invariant the compact_index docstring
    promises, now pinned."""
    import os
    import shutil

    from data_engineer_project_weather_analytics_spark.operators import index_store

    idx = str(tmp_path / "lsh_crash")
    corpus = _docs(spark, [(1, BASE), (2, BASE.replace("omicron", "painted"))])
    dedup.lsh_index_write(corpus, "doc_id", "text", idx)
    probe = _docs(spark, [(99, BASE.replace("kappa", "copper"))])

    def probe_rows():
        return sorted(
            tuple(r)
            for r in dedup.lsh_probe_stored(
                spark, idx, probe, "doc_id", "text", threshold=0.1
            ).collect()
        )

    want = probe_rows()
    assert len(want) == 2
    sets_live = os.path.join(idx, "sets")
    staged = os.path.join(idx, ".compact_sets")
    trash = os.path.join(idx, ".compact_trash_sets")

    # state A — crash after the staged write, before any rename:
    # live intact, staged orphan → residue dropped, live wins
    shutil.copytree(sets_live, staged)
    actions = index_store.recover_index(idx, index_store.LSH_INDEX_LAYOUT)
    assert actions == {"sets": "dropped_staged"}
    assert not os.path.exists(staged)
    assert probe_rows() == want

    # state B — crash BETWEEN the two renames: live missing, complete
    # staged (_SUCCESS present) + trash → recovery finishes the swap
    shutil.copytree(sets_live, staged)
    os.replace(sets_live, trash)
    actions = index_store.recover_index(idx, index_store.LSH_INDEX_LAYOUT)
    assert actions == {"sets": "completed_swap"}
    assert os.path.isdir(sets_live) and not os.path.exists(trash)
    assert probe_rows() == want

    # state C — crash after the swap, before the trash cleanup:
    # live new + trash orphan → residue dropped
    shutil.copytree(sets_live, trash)
    actions = index_store.recover_index(idx, index_store.LSH_INDEX_LAYOUT)
    assert actions == {"sets": "dropped_trash"}
    assert not os.path.exists(trash)
    assert probe_rows() == want

    # state D — live missing and the staged write never finished (no
    # _SUCCESS): recovery must ROLL BACK the trash copy, never promote
    # a half-written artifact
    shutil.copytree(sets_live, staged)
    os.remove(os.path.join(staged, "_SUCCESS"))
    os.replace(sets_live, trash)
    actions = index_store.recover_index(idx, index_store.LSH_INDEX_LAYOUT)
    assert actions == {"sets": "rolled_back"}
    assert os.path.isdir(sets_live) and not os.path.exists(staged)
    assert not os.path.exists(trash)
    assert probe_rows() == want

    # idempotent on a healthy index
    assert index_store.recover_index(idx, index_store.LSH_INDEX_LAYOUT) == {}


def test_index_freshness_recommends_rebuild_after_drift(spark, tmp_path):
    """The freshness advisor closes the maintenance loop: appends and
    deletes are correct per-operation under the frozen geometry, but
    once most of an index postdates the fit the advisor must say so —
    and a rebuild must reset the baseline."""
    from data_engineer_project_weather_analytics_spark.operators import index_store

    idx = str(tmp_path / "sem_fresh")
    corpus = _vecs(
        spark, [(1, [1.0, 0.05, 0.0, 0.0]), (2, [0.0, 1.0, 0.1, 0.0])]
    )
    similarity.semdedup_index_write(
        corpus, "vec_id", "emb", idx, k=2, n_iter=2, threshold=0.8
    )
    fresh = index_store.index_freshness(
        spark, idx, index_store.SEM_INDEX_LAYOUT
    )
    assert fresh["recommend_rebuild"] is False
    assert fresh["artifacts"]["survivors"]["appended_fraction"] == 0.0

    # admit three novel vectors: 3 of 5 survivors now postdate the fit
    batch = _vecs(
        spark,
        [
            (10, [0.0, 0.0, 1.0, 0.0]),
            (11, [0.0, 0.0, 0.0, 1.0]),
            (12, [0.5, 0.0, 0.0, -1.0]),
        ],
    )
    similarity.semdedup_index_append(spark, idx, batch, "vec_id", "emb")
    fresh = index_store.index_freshness(
        spark, idx, index_store.SEM_INDEX_LAYOUT
    )
    assert fresh["artifacts"]["survivors"]["rows"] == 5
    assert fresh["artifacts"]["survivors"]["appended_fraction"] == 0.6
    assert fresh["recommend_rebuild"] is True

    # a rebuild re-fits on the full corpus and RESETS the baseline
    full = corpus.unionByName(batch)
    index_store.rebuild_index(
        idx,
        lambda staged: similarity.semdedup_index_write(
            full, "vec_id", "emb", staged, k=2, n_iter=2, threshold=0.8
        ),
    )
    fresh = index_store.index_freshness(
        spark, idx, index_store.SEM_INDEX_LAYOUT
    )
    assert fresh["recommend_rebuild"] is False
    assert fresh["artifacts"]["survivors"]["appended_fraction"] == 0.0
    # and the rebuilt index serves probes (fresh geometry over all 5)
    probe = similarity.semdedup_incremental_stored(
        spark, idx, _vecs(spark, [(100, [0.0, 0.0, 1.0, 0.02])]),
        "vec_id", "emb",
    ).collect()
    assert probe[0].kept == 0  # near-dup of vec 10, now in the fit

    # deletion drift counts too
    index_store.delete_from_index(
        spark, idx, index_store.SEM_INDEX_LAYOUT,
        spark.createDataFrame([(1,), (2,), (10,)], "id bigint"),
    )
    fresh = index_store.index_freshness(
        spark, idx, index_store.SEM_INDEX_LAYOUT
    )
    assert fresh["artifacts"]["survivors"]["deleted_fraction"] >= 0.5
    assert fresh["recommend_rebuild"] is True


def test_rebuild_index_crash_recovery(spark, tmp_path):
    """recover_rebuild repairs every reachable crash state of the
    whole-index swap — including refusing to promote a staged index
    whose build never finished (no completeness marker)."""
    import os
    import shutil

    from data_engineer_project_weather_analytics_spark.operators import index_store

    idx = str(tmp_path / "lsh_rb")
    corpus = _docs(spark, [(1, BASE)])
    dedup.lsh_index_write(corpus, "doc_id", "text", idx)
    probe = _docs(spark, [(99, BASE.replace("kappa", "copper"))])

    def probe_rows():
        return sorted(
            tuple(r)
            for r in dedup.lsh_probe_stored(
                spark, idx, probe, "doc_id", "text", threshold=0.1
            ).collect()
        )

    want = probe_rows()
    assert len(want) == 1
    staged, trash = idx + ".rebuild_staged", idx + ".rebuild_trash"

    # crash DURING the staged build: live intact, no marker → residue
    # dropped, live wins
    shutil.copytree(idx, staged)
    assert index_store.recover_rebuild(idx) == "dropped_staged"
    assert probe_rows() == want

    # crash between the renames with a COMPLETE staged build
    shutil.copytree(idx, staged)
    open(os.path.join(staged, index_store.REBUILD_COMPLETE), "w").close()
    os.replace(idx, trash)
    assert index_store.recover_rebuild(idx) == "completed_swap"
    assert not os.path.exists(trash) and not os.path.exists(staged)
    assert probe_rows() == want

    # live missing and staged INCOMPLETE (no marker): roll back
    shutil.copytree(idx, staged)
    os.replace(idx, trash)
    assert index_store.recover_rebuild(idx) == "rolled_back"
    assert not os.path.exists(staged) and not os.path.exists(trash)
    assert probe_rows() == want

    # healthy index: no-op
    assert index_store.recover_rebuild(idx) is None


def test_stored_index_rebuilds_when_input_is_rewritten(spark, tmp_path, monkeypatch):
    """The stored-index cache is keyed on the input files' content
    stamps, not on the path: rewriting ``embeddings.parquet`` IN PLACE
    with a different corpus must make x54b serve a fresh index — the
    same rows a build from scratch returns — never the old one."""
    import hashlib
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    import data_engineer_project_weather_analytics_spark.plans.extensions as E

    from .conftest import SF_DIR

    sf = tmp_path / "sf"
    sf.mkdir()
    path = str(sf / "embeddings.parquet")
    shutil.copyfile(f"{SF_DIR}/embeddings.parquet", path)
    monkeypatch.setattr(E, "_SEM_INDEX_ROOT", str(tmp_path / "cached"))

    def rows():
        return sorted(
            tuple(r) for r in E.x54b_incremental_semdedup_stored(spark, str(sf)).collect()
        )

    before = rows()

    # plant an exact copy of every batch vector on a corpus row: a fresh
    # index holds the copies (or a near survivor), so every batch vector
    # must now be dropped; the stale index would keep most of them
    t = pq.read_table(path)
    is_batch = [
        hashlib.md5(str(v).encode()).hexdigest() >= "cd"
        for v in t.column("vec_id").to_pylist()
    ]
    emb = t.column("embedding").to_pylist()
    batch_vecs = [e for e, b in zip(emb, is_batch) if b]
    corpus_pos = [i for i, b in enumerate(is_batch) if not b]
    for pos, vec in zip(corpus_pos, batch_vecs):
        emb[pos] = vec
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        t.schema.field("embedding"),
        pa.array(emb, type=t.schema.field("embedding").type),
    )
    pq.write_table(t, path)

    after = rows()
    monkeypatch.setattr(E, "_SEM_INDEX_ROOT", str(tmp_path / "fresh"))
    assert after == rows()
    assert after != before
    assert all(r[-1] == 0 for r in after)  # kept flag: every copy drops


def test_stored_index_failed_build_leaves_no_live_dir(tmp_path):
    """A build that raises leaves no live index behind; the next call
    builds cleanly, and later calls with the same inputs and params
    serve that index without building again."""
    import os

    import pytest

    from data_engineer_project_weather_analytics_spark.operators import index_store

    src = tmp_path / "table.parquet"
    src.write_text("rows")
    root = str(tmp_path / "idx")

    def failing(d):
        os.makedirs(d)
        open(os.path.join(d, "half_written"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        index_store.stored_index(root, "fam", [str(src)], {"p": 1}, failing)
    assert not [p for p in os.listdir(root) if not p.endswith(".rebuild_staged")]

    def good(d):
        os.makedirs(d)
        open(os.path.join(d, "artifact"), "w").close()

    idx = index_store.stored_index(root, "fam", [str(src)], {"p": 1}, good)
    assert sorted(os.listdir(idx)) == ["artifact"]
    assert os.listdir(root) == [os.path.basename(idx)]
    # cache hit: the failing build is never called
    assert index_store.stored_index(root, "fam", [str(src)], {"p": 1}, failing) == idx
    # other params key another index
    assert index_store.stored_index(root, "fam", [str(src)], {"p": 2}, good) != idx
