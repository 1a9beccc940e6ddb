#!/usr/bin/env python
"""Streaming semantic-probe micro-bench → STREAM_BENCH.json.

The stateful stream twin of the x54 incremental SemDeDup probe
(streaming/stateful.py:streaming_semdedup_probe) has bit-parity and
checkpoint-recovery tests but — before this harness — no committed
throughput or state-size evidence (VERDICT r8 task 4).  This script
measures the probe at the 10x embedding corpus (plus, with
SPARK_GRAFT_STREAM_SCALE100=1, the 100x corpus — VERDICT r9 task 6)
in the two regimes that matter for a 100 TB steady state:

* capacity  — ``max_cell`` above every cell's survivor population:
  every kept probe is admitted to state; state grows with the corpus,
  sharded by cell key like any keyed aggregation;
* saturated — ``max_cell`` below the typical cell width: hot cells
  stop ADMITTING but keep DECIDING against the capped survivor list
  (bounded state by construction; the semantics are pinned by
  tests/test_streaming.py::test_streaming_semdedup_saturation_keeps_deciding).

Protocol: the replica's embeddings are split train/test by the x54
rule (deterministic id-hash); the corpus side becomes a STORED auto-k
index (the x54c artifacts, built once per replica and cached — r12:
the stream consumes survivors + both codebooks, paying ~2·√k literal
cosines per probe row via the two-level route instead of the flat
k-wide argmax that dominated the r11 100x point); the stored
survivors are streamed in as SEED micro-batch 1 (state bootstrap —
admitted without decisions), the test side as PROBE micro-batch 2
(one decision row each).  The
foreachBatch sink records a wall-clock stamp per NON-EMPTY
micro-batch (ADVICE r9: a trailing empty availableNow batch used to
fold into probe_wall and deflate the headline), so the seed and probe
phases are timed separately; the headline metric is probe decisions
per second.  State rows are derived per the probe's admission rule
(min(max_cell, seeds + kept) per cell — seeds join before decisions,
kept probes after).

Load sentinel: same policy as bench.py/bench_scale.py — the committed
calibration probe runs first and the harness refuses to emit under
sustained host load (SPARK_GRAFT_BENCH_FORCE=1 overrides); the JSON
carries the measured factor for audit.

Emits ONE JSON line; the committed STREAM_BENCH.json is gated by
tests/test_bench_config.py::test_stream_bench_artifact_is_green.

Run time: ~2-3 min including the replica build (embeddings only,
cached under /tmp/spark_graft_streambench); the 100x section adds
~10-15 min (160 k-vector index fit + 40 k probe decisions x2).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

BASE_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK_DIR = "/tmp/spark_graft_streambench"

#: capacity regime: no cell reaches this (cells hold ~250 vectors
#: under the auto-k policy) — every kept probe is admitted
MAX_CELL_CAPACITY = 10_000
#: saturated regime: below the typical cell width — most cells cap,
#: decisions continue against the capped survivor list
MAX_CELL_SATURATED = 50


def build_embeddings_replica(copies: int) -> str:
    """Embeddings-only replica (the bench_scale recipe, separate dir
    so a concurrent scale run's replica cache is never touched)."""
    import bench_scale

    out_dir = os.path.join(WORK_DIR, f"x{copies}")
    bench_scale.build_replica(BASE_DIR, out_dir, copies, tables=("embeddings",))
    return out_dir


def measure(spark, copies: int) -> dict:
    """Seed + probe the streaming SemDeDup twin at the ``copies``x
    embedding corpus in both regimes; returns the per-scale record."""
    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.operators import (
        index_store,
        similarity,
    )
    from data_engineer_project_weather_analytics_spark.operators.text import (
        deterministic_split,
    )
    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_semdedup_probe,
    )

    rep_dir = build_embeddings_replica(copies)
    emb = spark.read.parquet(f"{rep_dir}/embeddings.parquet")
    split = deterministic_split("vec_id")
    corpus = emb.filter(split == "train")
    batch = emb.filter(split == "test")
    n_corpus = corpus.count()
    n_probe = batch.count()

    # the static index the stream probes is the STORED auto-k index —
    # the x54c artifacts (survivors + BOTH codebooks), built once per
    # replica and cached (r12, VERDICT r11 task 5): the stream no
    # longer pays the in-harness fit, and the probe assigns via the
    # TWO-LEVEL literal route (with_two_level_cell_assignment, ~2·√k
    # cosines per row) instead of the flat k-wide argmax that
    # dominated the r11 100x point (104.6 rows/s at k=639).
    idx = index_store.stored_index(
        WORK_DIR, f"semidx_x{copies}", [f"{rep_dir}/embeddings.parquet"],
        {"split": "train", "k": None, "two_level": True},
        lambda d: similarity.semdedup_index_write(
            corpus, "vec_id", "embedding", d, k=None, two_level=True
        ),
    )
    survivors = spark.read.parquet(f"{idx}/survivors")
    fmap_rows = [
        (r["cell"], list(r["centroid"]), r["coarse"])
        for r in spark.read.parquet(f"{idx}/fmap").collect()
    ]
    occ_rows = [
        (r["coarse"], list(r["ccent"]))
        for r in spark.read.parquet(f"{idx}/occ").collect()
    ]
    k = len(fmap_rows)
    # the stream's two-level seed assignment is bit-identical to the
    # fit's final pass (pinned by the x54c stream≡batch test), so the
    # stored survivors' own cell IS the stream's state accounting
    seeds_per_cell = {
        r["cell"]: r["n"]
        for r in survivors.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_seed = sum(seeds_per_cell.values())

    src = os.path.join(WORK_DIR, f"src_x{copies}")
    shutil.rmtree(src, ignore_errors=True)
    survivors.select(
        F.col("corpus_id").alias("vec_id"),
        F.col("__cv").alias("embedding"),
        F.lit(True).alias("is_seed"),
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # mtime ordering: seed file strictly first
    batch.select(
        "vec_id",
        similarity._as_double("embedding").alias("embedding"),
        F.lit(False).alias("is_seed"),
    ).coalesce(1).write.mode("append").parquet(src)

    def run_regime(max_cell: int, tag: str) -> dict:
        ckpt = os.path.join(WORK_DIR, f"ckpt_x{copies}_{tag}")
        out = os.path.join(WORK_DIR, f"out_x{copies}_{tag}")
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        # one (stamp, emitted-rows) record per micro-batch: the probe
        # wall is anchored on the DECISION batch's own stamps, so a
        # trailing empty availableNow batch can no longer stretch it
        # (ADVICE r9 — the skew was conservative but real).  The seed
        # batch emits nothing, so its row count is 0 but its stamp is
        # the probe phase's true start.
        stamps: list[tuple[float, int]] = []

        def _sink(b, _id):
            # persist before write+count: an unpersisted micro-batch
            # DataFrame recomputes the full stateful probe per action,
            # so the stamp would cover TWO executions of the decision
            # batch and halve the headline rows/s (ADVICE r10)
            n = 0
            if not b.isEmpty():
                b.persist()
                b.write.mode("append").parquet(out)
                n = b.count()
                b.unpersist()
            stamps.append((time.perf_counter(), n))

        stream = (
            spark.readStream.schema(
                "vec_id long, embedding array<double>, is_seed boolean"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        t0 = time.perf_counter()
        q = (
            streaming_semdedup_probe(
                stream, "vec_id", "embedding",
                max_cell=max_cell, seed_col="is_seed",
                fmap_rows=fmap_rows, occ_rows=occ_rows,
            )
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(3600)
        # exactly one batch emits rows (the probe); the seed batch
        # precedes it with an empty emission and its stamp is the
        # probe phase's start — any later empty batch is ignored
        decision_idx = [i for i, (_, n) in enumerate(stamps) if n > 0]
        assert len(decision_idx) == 1, (
            f"expected 1 decision batch, got {len(decision_idx)}"
        )
        i = decision_idx[0]
        probe_stamp, probe_emitted = stamps[i]
        start = stamps[i - 1][0] if i > 0 else t0
        seed_wall = start - t0  # stream startup + seed admission
        probe_wall = probe_stamp - start
        rows = spark.read.parquet(out)
        kept = rows.filter(F.col("kept") == 1).count()
        decided = rows.count()
        assert decided == probe_emitted
        kept_per_cell = {
            r["cluster_id"]: r["n"]
            for r in rows.filter(F.col("kept") == 1)
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # the probe's admission rule: seeds join before any decision,
        # kept probes after, both stop at max_cell
        state_rows = 0
        saturated = 0
        for cell in set(seeds_per_cell) | set(kept_per_cell):
            s = seeds_per_cell.get(cell, 0) + kept_per_cell.get(cell, 0)
            state_rows += min(max_cell, s)
            if s >= max_cell:
                saturated += 1
        return {
            "max_cell": max_cell,
            "seed_wall_s": round(seed_wall, 3),
            "probe_wall_s": round(probe_wall, 3),
            "probe_rows_per_s": round(n_probe / probe_wall, 1),
            "decided": decided,
            "kept": kept,
            "dropped": decided - kept,
            "state_rows": state_rows,
            "saturated_cells": saturated,
        }

    return {
        "replica": f"{copies}x embeddings ({n_corpus + n_probe} vectors)",
        "copies": copies,
        "corpus_rows": n_corpus,
        "seed_rows": n_seed,
        "probe_rows": n_probe,
        "k": k,
        "capacity": run_regime(MAX_CELL_CAPACITY, "capacity"),
        "saturated": run_regime(MAX_CELL_SATURATED, "saturated"),
    }


def main() -> None:
    import bench
    from data_engineer_project_weather_analytics_spark.session import get_spark

    spark = get_spark(app_name="data_engineer_project_weather_analytics_spark-bench-stream")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- load sentinel (bench.py's, verbatim: retries, refusal, and
    # SPARK_GRAFT_BENCH_FORCE override included) -----------------------
    load_factor = bench.check_load_sentinel(spark)

    base = measure(spark, 10)
    out = {
        "metric": "streaming_probe_rows_per_s",
        "value": base["capacity"]["probe_rows_per_s"],
        "unit": "rows/s",
        **base,
        "load_factor": (
            round(load_factor, 3) if load_factor is not None else None
        ),
    }
    # the 100x corpus point (VERDICT r9 task 6): 160 k-vector state,
    # 40 k probe decisions — the steady-state stream one decade up
    if os.environ.get("SPARK_GRAFT_STREAM_SCALE100") == "1":
        out["scale100"] = measure(spark, 100)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
