"""Custom stateful streaming operators via ``applyInPandasWithState``.

For semantics the built-in streaming aggregations can't express, Spark
exposes per-key state with Arrow-batched Python hooks.  Here: a
**running latest-reading tracker** — per key, emit the current latest
(value, ts) and a monotonically increasing update count every
micro-batch in which the key appears.  This is the streaming twin of
the batch latest-per-key view (dashboard A3) with change tracking the
batch view can't give you.

State is a single small tuple per key (bounded memory); at scale the
state store shards by key exactly like any keyed aggregation.  The
closure is self-contained (pickled by value) so workers don't need
this module importable.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from data_engineer_project_weather_analytics_spark.operators.dedup import (
    _band_digest_sql,
    _band_slice_sql,
    _ngrams_sql,
)

STATE_SCHEMA = StructType(
    [
        StructField("latest_ts", TimestampType()),
        StructField("latest_value", DoubleType()),
        StructField("n_updates", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("latest_ts", TimestampType()),
        StructField("latest_value", DoubleType()),
        StructField("n_updates", LongType()),
    ]
)


def latest_tracker(
    stream: DataFrame,
    key_col: str = "city_id",
    ts_col: str = "ts",
    value_col: str = "temp",
) -> DataFrame:
    """Per-key stateful latest tracker over a grouped stream."""

    def _track(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            latest_ts, latest_value, n_updates = state.get
        else:
            latest_ts, latest_value, n_updates = None, None, 0
        seen = 0
        for batch in batches:
            for ts, value in zip(batch[ts_col], batch[value_col]):
                seen += 1
                if latest_ts is None or ts > latest_ts:
                    latest_ts, latest_value = ts, float(value)
        if seen:
            n_updates += seen
            state.update((latest_ts, latest_value, n_updates))
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "latest_ts": [latest_ts],
                    "latest_value": [latest_value],
                    "n_updates": [n_updates],
                }
            )

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            _track,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming content near-dup (MinHash LSH over per-bucket state)
# ---------------------------------------------------------------------------

NEARDUP_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("saturated", BooleanType()),
    ]
)

NEARDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("minhash", StringType()),
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
    ]
)


def with_minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-ROW band signatures — a ``bands`` column of
    ``array<struct<band,minhash>>`` — with NO aggregation, so the
    projection composes with a streaming source (the batch pipeline's
    groupBy formulation is a shuffle the stateful stage below must not
    be preceded by).

    Same n-grams (``dedup._ngrams_sql``) and the same band digest
    (``dedup._band_digest_sql``/``_band_slice_sql``: each salted md5
    yields four 32-bit band slices) as the batch
    :func:`~data_engineer_project_weather_analytics_spark.operators.dedup.minhash_with_sizes`, and
    the same two scale shapes as ``doc_shingles``: tokenize ONCE and
    compute the ``ceil(n_bands/4)`` digests ONCE per shingle behind
    projection boundaries — a naive inline form recomputes split() and
    md5() per band.  Documents with fewer than ``shingle_n`` tokens get
    an empty band array (no signature, never a candidate) — same
    convention as the batch shingle pipeline.
    """
    # each withColumn is a projection whose output is referenced more
    # than once downstream, so CollapseProject keeps the boundary: the
    # token array, the shingle set, and the digest array are each
    # computed once per row
    digests = (
        df.withColumn("__toks", F.split(F.col(text_col), " "))
        .withColumn(
            "__sh", F.expr(_ngrams_sql("__toks", shingle_n, distinct=True))
        )
        .withColumn(
            "__digests",
            F.expr(f"transform(__sh, s -> {_band_digest_sql('s', n_bands)})"),
        )
    )
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'minhash', "
        f"array_min(transform(__digests, d -> {_band_slice_sql('d', b)})))"
        for b in range(n_bands)
    )
    return digests.withColumn(
        "bands",
        F.expr(
            f"CASE WHEN size(__digests) > 0 THEN array({band_structs}) "
            f"ELSE CAST(array() AS ARRAY<STRUCT<band: INT, minhash: STRING>>) END"
        ),
    ).drop("__toks", "__sh", "__digests")


def streaming_neardup_candidates(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 256,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Cross-micro-batch near-duplicate candidates over a document
    stream — the streaming twin of the batch LSH pipeline
    (``x2b_lsh_candidate_pairs``): a new document pairs with every
    document that ever shared one of its MinHash band buckets, across
    ALL earlier micro-batches, without re-scanning history.

    Shape: per-row band signatures (:func:`with_minhash_bands`, no
    shuffle), explode to one row per (band, minhash), then
    ``applyInPandasWithState`` keyed by the bucket.  Per-bucket state
    is the sorted id list of bucket members — the streaming equivalent
    of the batch ``collect_set`` bucket, sharded by bucket key exactly
    like any keyed aggregation.

    The batch pre-cap becomes a saturation flag: once a bucket exceeds
    ``max_bucket`` members it stops emitting AND drops its id list
    (state for a degenerate boilerplate bucket is O(1) forever after).
    The batch path excludes such buckets entirely; a stream cannot
    retract already-emitted pairs, so saturation only bounds future
    work — same memory guarantee, slightly wider emitted set at the
    moment of crossing.

    Pairs are emitted per band (the same pair colliding in two bands
    appears twice, under different keys) — downstream dedups with a
    plain ``dropDuplicates([id_a, id_b])``, exactly as the batch
    pipeline's distinct does.

    **State lifetime.**  The default (``state_ttl_ms=None``) never
    expires state (``NoTimeout``): stream-lifetime dedup, exact parity
    with the batch pipeline.  A deployment that only needs a
    duplicate-detection *horizon* — the practical posture at 100 TB,
    where total bucket state otherwise grows with corpus lifetime —
    passes ``state_ttl_ms``: each bucket's idle clock is re-armed on
    every micro-batch that touches it, and a bucket idle longer than
    the TTL is dropped wholesale (ProcessingTime timeout).  Documents
    arriving after an expiry see an empty bucket: they re-admit and
    pair only among themselves — no duplicate pairs are ever re-emitted
    for pre-expiry members (asserted by
    tests/test_streaming.py::test_streaming_neardup_state_ttl_expires_buckets).
    The pair logic is untouched; only the keep-forever guarantee is
    traded for bounded state.
    """
    sigs = (
        with_minhash_bands(
            stream, id_col, text_col, n_bands=n_bands, shingle_n=shingle_n
        )
        .select(F.col(id_col).alias("__id"), F.explode("bands").alias("__b"))
        .select(
            "__id",
            F.col("__b.band").alias("band"),
            F.col("__b.minhash").alias("minhash"),
        )
    )

    ttl = state_ttl_ms  # close over a plain int, not the DataFrame args

    def _bucket(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        band, minhash = key
        if ttl is not None and state.hasTimedOut:
            # idle past the TTL: drop the bucket wholesale (members AND
            # saturation flag); the next arrival re-admits from empty
            state.remove()
            return
        if state.exists:
            ids, saturated = state.get
            ids = list(ids)
        else:
            ids, saturated = [], False
        out_a: list[int] = []
        out_b: list[int] = []
        for batch in batches:
            if saturated:
                continue
            for new_id in sorted(set(int(i) for i in batch["__id"])):
                if new_id in ids:
                    continue  # replay of a known member: no new pairs
                for old in ids:
                    a, b = (old, new_id) if old < new_id else (new_id, old)
                    out_a.append(a)
                    out_b.append(b)
                ids.append(new_id)
                if len(ids) > max_bucket:
                    saturated = True
                    ids = []  # O(1) state for the degenerate bucket
                    break
        state.update((ids, saturated))
        if ttl is not None:
            state.setTimeoutDuration(ttl)  # re-arm the idle clock
        if out_a:
            yield pd.DataFrame(
                {
                    "band": band,
                    "minhash": minhash,
                    "id_a": out_a,
                    "id_b": out_b,
                }
            )

    return sigs.groupBy("band", "minhash").applyInPandasWithState(
        _bucket,
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if state_ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


# ---------------------------------------------------------------------------
# Streaming semantic (embedding) near-dup — the x54 probe as a stream
# ---------------------------------------------------------------------------

SEMDEDUP_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("vecs", ArrayType(ArrayType(DoubleType()))),
        StructField("saturated", BooleanType()),
    ]
)

SEMDEDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("cluster_id", IntegerType()),
        StructField("n_corpus_near", LongType()),
        StructField("best_sim", LongType()),
        StructField("kept", IntegerType()),
    ]
)


def _py_l2_norm(xs: list[float]) -> float:
    """Bit-exact replay of ``similarity.l2_norm`` over a literal
    vector: a plain sequential left-fold (`s += x*x`) reproduces
    Spark's ``F.aggregate`` fold bit-for-bit (numpy's SIMD
    reassociation does NOT — the round-8 streaming-parity finding),
    and ``math.sqrt`` is correctly rounded like Spark's SQRT."""
    import math

    s = 0.0
    for x in xs:
        fx = float(x)
        s += fx * fx
    return math.sqrt(s)


def _literal_argmax(
    cos: Callable[[list[float]], F.Column],
    members: list[tuple[int, list[float]]],
) -> F.Column:
    """Argmax of ``cos(centroid)`` over literal ``(id, centroid)``
    members: one packed-BIGINT key per member (quantized cosine, ties to
    the lowest id — the batch hash-agg's ``_pack_argmax`` encoding),
    ``greatest()`` across them, the id unpacked."""
    from data_engineer_project_weather_analytics_spark.operators.similarity import (
        _pack_argmax,
        _unpack_argmax_id,
        sim_q,
    )

    packed = [_pack_argmax(sim_q(cos(cent)), F.lit(int(i))) for i, cent in members]
    best = packed[0] if len(packed) == 1 else F.greatest(*packed)
    return _unpack_argmax_id(best).cast("int")


def with_cell_assignment(
    df: DataFrame,
    vec_col: str,
    codebook: dict[str, DataFrame],
) -> DataFrame:
    """Per-ROW nearest-centroid assignment against a LITERAL codebook —
    `(.., cell)` with NO aggregation, so the projection composes with a
    streaming source (the batch ``similarity._assign_to_codebook``'s
    crossJoin/join + groupBy argmax is a shuffle the stateful stage
    below must not be preceded by; this is the
    :func:`with_minhash_bands` recipe applied to the kmeans codebook).

    ``codebook`` is the batch codebook dict of either shape
    (``similarity._kmeans_fit`` or a stored index read back with
    ``index_store.read_index``), collected here and folded into the
    plan as literals — ``F.lit(double)`` round-trips each component
    exactly, and every argmax is ``greatest()`` over the same
    packed-BIGINT keys the batch hash-agg uses, so the assignment is
    BIT-IDENTICAL to the batch form (asserted by
    tests/test_streaming.py::test_with_cell_assignment_matches_batch and
    ::test_streaming_semdedup_stored_probe_equals_batch_x54c):

    - ``{"cents"}`` (flat): one argmax over all k centroids;
    - ``{"fmap", "occ"}`` (two-level): coarse argmax over the ~√k-row
      occupied codebook, then fine argmax ONLY among the routed coarse
      cell's members via a lazily-evaluated CASE branch per coarse cell
      — each row computes ~2·√k cosines instead of k, which is what
      lets a stream probe the stored auto-k index (x54c's artifacts)
      without the flat k-wide argmax that dominated the 100× streaming
      point (round-11 finding).

    Codebook size bound: k × dim doubles fold into the plan as
    literals; fine for the broadcastable regime
    (``FINE_CODEBOOK_BROADCAST_MAX_K``) — past that the probe becomes a
    stream-static join against a codebook table, same semantics."""
    from collections import defaultdict

    from data_engineer_project_weather_analytics_spark.operators.similarity import (
        _as_double,
        cosine_pre,
        l2_norm,
    )

    # the row's own norm folds ONCE per row (not once per centroid),
    # and each literal centroid's norm is a Python-computed literal —
    # the sequential `s += x*x` loop replays Spark's F.aggregate
    # left-fold bit-for-bit (round-8 finding) and F.lit round-trips
    # doubles exactly, so the quantized keys (and the stream≡batch
    # bit-parity pytest pins) are unchanged.  Per-row fold work drops
    # from 3 per centroid to 1 per centroid + 1 per row (cosine_pre).
    v = _as_double(vec_col)

    def cos(cent: list[float]) -> F.Column:
        return cosine_pre(
            v,
            F.array(*[F.lit(float(x)) for x in cent]),
            F.col("__vn"),
            F.lit(_py_l2_norm(cent)),
        )

    out = df.withColumn("__vn", l2_norm(v))
    if "cents" in codebook:
        cents = [(r["cell"], r["centroid"]) for r in codebook["cents"].collect()]
        return out.withColumn("cell", _literal_argmax(cos, cents)).drop("__vn")
    occ = [(r["coarse"], r["ccent"]) for r in codebook["occ"].collect()]
    members: dict[int, list[tuple[int, list[float]]]] = defaultdict(list)
    for r in codebook["fmap"].collect():
        members[int(r["coarse"])].append((r["cell"], r["centroid"]))
    out = out.withColumn("__coarse", _literal_argmax(cos, occ))
    fine = None
    for coarse in sorted(members):
        cond = F.col("__coarse") == coarse
        cell = _literal_argmax(cos, members[coarse])
        fine = F.when(cond, cell) if fine is None else fine.when(cond, cell)
    return out.withColumn("cell", fine).drop("__coarse", "__vn")


def streaming_semdedup_probe(
    stream: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: dict[str, DataFrame],
    threshold: float = 0.8,
    max_cell: int = 10_000,
    state_ttl_ms: int | None = None,
    seed_col: str | None = None,
) -> DataFrame:
    """Streaming incremental semantic dedup — the micro-batch twin of
    the batch x54 probe (operators/similarity.py:semdedup_incremental):
    every incoming vector is cell-assigned against the static codebook
    (narrow, :func:`with_cell_assignment`), then decided against the
    per-cell SURVIVOR state — dropped iff any survivor sits at cosine
    ≥ ``threshold``, with the same quantized-cosine arithmetic as the
    batch form (the Python loop replays Spark's left-fold tree
    bit-for-bit: sequential double mult/add, two sqrt, one division).

    State = the cell → survivor (id, vector) index, sharded by cell
    key like any keyed aggregation.  Rows flagged by ``seed_col`` are
    admitted WITHOUT a decision (bootstrapping the state from an
    existing corpus index — the x54 parity path); kept probe vectors
    join the state AFTER all of their micro-batch's decisions, so
    vectors of one micro-batch never drop each other (exactly x54's
    batch-vs-corpus semantics) while later micro-batches see them as
    survivors (the steady state).

    Bounds, both the MinHash-bucket recipe: a cell past ``max_cell``
    survivors saturates — it keeps deciding against the capped list
    but admits no more (bounded state; a cell that hot means the
    threshold is too low for the corpus) — and ``state_ttl_ms`` drops
    idle cells wholesale (ProcessingTime timeout, re-armed per touch).

    Output per probe vector: the x54 row
    ``(vec_id, cluster_id, n_corpus_near, best_sim, kept)``.

    ``codebook`` is the batch codebook dict of either shape
    (:func:`with_cell_assignment`): ``{"cents"}`` for the flat
    oracle-k regime, ``{"fmap", "occ"}`` for the stored auto-k index —
    the deployment regime, ~2·√k cosines per row instead of k, which
    is what makes the stream probe viable once k tracks the corpus."""
    import math

    assigned = with_cell_assignment(stream, vec_col, codebook)
    from data_engineer_project_weather_analytics_spark.operators.similarity import _as_double

    sel = [
        F.col(id_col).alias("__id"),
        _as_double(vec_col).alias("__v"),
        F.col("cell"),
        (
            F.col(seed_col) if seed_col is not None else F.lit(False)
        ).alias("__seed"),
    ]
    rows_df = assigned.select(*sel)

    ttl = state_ttl_ms
    thr = int(round(threshold * 10000))

    def _simq(a: list[float], b: list[float]) -> int:
        # Spark's exact expression tree: left-fold dot products, two
        # correctly-rounded sqrts, one division, floor at 1e-4 — the
        # IEEE shared-tree rule, so stream ≡ batch to the bit
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000.0)

    def _probe(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cell = int(key[0])
        if ttl is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, vecs, saturated = state.get
            ids = list(ids)
            vecs = [list(map(float, v)) for v in vecs]
        else:
            ids, vecs, saturated = [], [], False
        seeds: list[tuple[int, list[float]]] = []
        probes: list[tuple[int, list[float]]] = []
        for batch in batches:
            for vid, vec, is_seed in zip(
                batch["__id"], batch["__v"], batch["__seed"]
            ):
                row = (int(vid), [float(x) for x in vec])
                (seeds if bool(is_seed) else probes).append(row)
        known = set(ids)
        for vid, vec in sorted(seeds):
            if saturated or vid in known:
                continue
            ids.append(vid)
            vecs.append(vec)
            known.add(vid)
            if len(ids) >= max_cell:
                saturated = True
        # decisions against the state snapshot (corpus survivors +
        # seeds); probe rows of this micro-batch never see each other
        out: list[tuple[int, int, int, int | None, int]] = []
        admitted: list[tuple[int, list[float]]] = []
        for vid, vec in sorted(probes):
            sims = [_simq(vec, sv) for sv in vecs]
            near = [s for s in sims if s >= thr]
            if near:
                out.append((vid, cell, len(near), max(near), 0))
            else:
                out.append((vid, cell, 0, None, 1))
                admitted.append((vid, vec))
        for vid, vec in admitted:
            if saturated or vid in known:
                continue
            ids.append(vid)
            vecs.append(vec)
            known.add(vid)
            if len(ids) >= max_cell:
                saturated = True
        state.update((ids, vecs, saturated))
        if ttl is not None:
            state.setTimeoutDuration(ttl)
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "vec_id", "cluster_id", "n_corpus_near", "best_sim", "kept"
                ],
            )

    return rows_df.groupBy("cell").applyInPandasWithState(
        _probe,
        outputStructType=SEMDEDUP_OUTPUT_SCHEMA,
        stateStructType=SEMDEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if state_ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
