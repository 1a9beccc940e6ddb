"""Static sanity for the two bench harnesses — no SparkSession.

The benches are the project's numeric gates; a typo'd query name or a
mode string would only surface as a KeyError 20 minutes into a run
(or worse, silently skip a query).  These checks are instant.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402
import bench_scale  # noqa: E402

from data_engineer_project_weather_analytics_spark.plans.registry import (  # noqa: E402
    REGISTRY,
)

#: bench_scale names resolved through its local `extra` dict rather
#: than the registry (scale-configuration variants of registered ops)
_SCALE_EXTRA = {"x3b_embedding_neardup_auto", "x45_semdedup_auto"}


def test_bench_headline_is_registered_with_valid_modes():
    unknown = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert unknown == [], unknown
    bad_modes = {
        n: m for n, m in bench.HEADLINE.items() if m not in ("collect", "checksum")
    }
    assert bad_modes == {}, bad_modes
    # the frozen-baseline subset must stay inside the headline set or
    # baseline16_total silently undercounts
    baseline16 = (
        "a1_scorecard a2_daily_timeseries a3_latest_per_key "
        "a5_latest_join_dim k2_upsert_lww j1_dim_join_agg j3_asof_join "
        "w2_moving_avg t4_hourly_window tpch_q1_pricing_summary "
        "tpch_q3_shipping_priority tpch_q5_local_volume x1_exact_dedup "
        "x2b_lsh_candidate_pairs x3_cosine_topk x4c_quality_score"
    ).split()
    missing = [n for n in baseline16 if n not in bench.HEADLINE]
    assert missing == [], missing
    # the r6 graph-gate subtotal (baseline17 = baseline16 + g2) needs
    # its extra member timed too
    assert "g2_pagerank" in bench.HEADLINE
    # the r8-heavyweight subtotal (new5_r8_total, frozen in BASELINE.md
    # since r9) needs all five members timed
    new5 = (
        "x54_incremental_semdedup x55_ivfpq_recall "
        "x56_curation_materialize x57_reduced_recall x58_sq8_recall"
    ).split()
    assert [n for n in new5 if n not in bench.HEADLINE] == []
    # the r9-heavyweight subtotal (heavy7_total, frozen in BASELINE.md
    # since r10) folds x45 + x59 into a gated trend too
    heavy7 = new5 + ["x45_semdedup_keep", "x59_ingest_curation"]
    assert [n for n in heavy7 if n not in bench.HEADLINE] == []
    # the r11 auto-twin subtotal (auto4_total): the deployment shapes
    # recommended beyond ~10x sf0.1 must stay under per-round timing
    auto4 = (
        "x45_semdedup_auto x54_incremental_semdedup_auto "
        "x56_curation_auto x59_ingest_curation_auto"
    ).split()
    assert [n for n in auto4 if n not in bench.HEADLINE] == []
    # the r12 stored-read-path subtotal (stored4_total): the
    # build-once/probe-forever queries must stay under per-round timing
    stored4 = (
        "x50b_pq_topk_stored x51b_ivfpq_topk_stored "
        "x53b_incremental_neardup_stored "
        "x54c_incremental_semdedup_auto_stored"
    ).split()
    assert [n for n in stored4 if n not in bench.HEADLINE] == []
    import inspect

    assert '"auto4_total"' in inspect.getsource(bench.main)
    assert '"new5_r8_total"' in inspect.getsource(bench.main)
    assert '"heavy7_total"' in inspect.getsource(bench.main)
    assert '"stored4_total"' in inspect.getsource(bench.main)


def test_bench_load_sentinel_exists():
    """The load sentinel (VERDICT r7: third ghost-regression round) is
    part of the bench contract: a committed idle-machine probe
    reference, a refusal threshold, and the measure/check pair wired
    into main() — so contaminated numbers can no longer reach a
    committed BENCH artifact silently."""
    assert 0.1 <= bench.CALIBRATION_REF_SEC <= 2.0
    assert 1.0 < bench.LOAD_FACTOR_MAX <= 2.0
    assert bench.CALIBRATION_RETRIES >= 1
    assert callable(bench.measure_load_factor)
    assert callable(bench.check_load_sentinel)
    import inspect

    src = inspect.getsource(bench.main)
    assert "check_load_sentinel" in src
    # the emitted JSON carries the measured factor for audit
    assert '"load_factor"' in inspect.getsource(bench)


def test_bench_scale_load_sentinel_exists():
    """r8's polluted BENCH_SCALE.json came from the one harness with
    no sentinel (VERDICT r8 task 2): every timing section must open
    with the shared calibration probe and refuse under sustained load,
    and the emitted JSON must carry the per-section factors."""
    import inspect

    assert callable(bench_scale.section_sentinel)
    sent = inspect.getsource(bench_scale.section_sentinel)
    # shares bench.py's committed reference + thresholds (one source
    # of truth for "what idle means") and honors the same override
    assert "measure_load_factor" in sent
    assert "SPARK_GRAFT_BENCH_FORCE" in sent
    main_src = inspect.getsource(bench_scale.main)
    for section in ("scale10", "scale100", "scale1000"):
        assert f'section_sentinel(spark, "{section}")' in main_src, section
    assert '"load_factor"' in main_src


def test_bench_scale_queries_resolve():
    unknown = [
        n
        for n in (
            *bench_scale.QUERIES,
            *bench_scale.SCALE100_QUERIES,
            *bench_scale.SCALE1000_QUERIES,
        )
        if n not in REGISTRY and n not in _SCALE_EXTRA
    ]
    assert unknown == [], unknown


def test_bench_scale_accounted_targets_are_timed():
    timed = (
        set(bench_scale.QUERIES)
        | set(bench_scale.SCALE100_QUERIES)
        | set(bench_scale.SCALE1000_QUERIES)
    )
    orphans = [n for n in bench_scale.ACCOUNTED if n not in timed]
    assert orphans == [], orphans
    valid_kinds = {
        "output_rows",
        "candidate_pairs",
        "token_stream",
        "shingle_stream",
        "span_stream",
        "cell_pair_stream",
        "semdedup_auto_work",
        "semdedup_inc_auto_work",
        "probe_pair_stream",
        "wedge_count",
        "copurchase_edges",
    }
    bad = {
        n: k
        for n, k in bench_scale.ACCOUNTED.items()
        if k not in valid_kinds and not k.startswith("input_rows:")
    }
    assert bad == {}, bad


#: Conscious-edit checkpoint for the scale harness (VERDICT r9 task 7).
#: The resume journal (BENCH_SCALE_journal.jsonl) banks hours of
#: measurements keyed to bench_scale.JOURNAL_EPOCH.  Any edit to
#: bench_scale.py trips this pin; updating it is the moment to decide:
#: did the edit change MEASUREMENT SEMANTICS (run() timing protocol,
#: an already-journaled work_rows kind, replica construction,
#: ACCOUNTING_SLACK)?  If yes → bump JOURNAL_EPOCH too (full
#: re-measure); if purely additive → keep the epoch and the bank.
_BENCH_SCALE_MD5 = "6b1649c6e70dad05d39c0106d317d707"  # accounting call sites renamed to the one k-means fit/assign (same fit, same counted rows; epoch kept); stored-index pre-warm skips journaled entries (untimed path only, epoch kept); r13: t0 above fn() (semantics change, epoch bumped) + stored-index pre-warm (keeps the build untimed; identical to best-of-2's min for sub-cutoff samples, so same-epoch entries stay valid)


def test_journal_epoch_discipline():
    import hashlib
    import json

    actual = hashlib.md5((ROOT / "bench_scale.py").read_bytes()).hexdigest()
    assert actual == _BENCH_SCALE_MD5, (
        "bench_scale.py changed: decide whether the edit alters "
        "measurement semantics (bump bench_scale.JOURNAL_EPOCH — "
        "discards the journal) or is purely additive (keep it), then "
        f"update _BENCH_SCALE_MD5 to {actual!r}"
    )
    # a committed journal must be consistent with the declared epoch —
    # entries from a bumped-away epoch are dead weight that a resumed
    # run would silently ignore
    jp = ROOT / "BENCH_SCALE_journal.jsonl"
    if jp.exists():
        revs = {
            json.loads(ln)["rev"]
            for ln in jp.read_text().splitlines()
            if ln.strip()
        }
        assert revs <= {bench_scale.JOURNAL_EPOCH}, (
            f"journal carries stale epochs {revs - {bench_scale.JOURNAL_EPOCH}}: "
            "prune them or delete the journal"
        )


def test_ingest_bench_artifact_is_green():
    """The committed REST-ingest micro-bench (VERDICT r10 task 6): the
    partition-parallel fetch path must have fetched AND parsed every
    city end-to-end, and the throttled regime must demonstrate the
    design point — aggregate rate well above the reference's
    one-thread sequential floor (14 cities x 0.4 s = 5.6 s/run)."""
    import json

    import pytest

    if not (ROOT / "INGEST_BENCH.json").exists():
        pytest.skip(
            "INGEST_BENCH.json not yet generated on this machine — run "
            "`python bench_ingest.py` on an idle machine and commit "
            "the emitted line"
        )
    data = json.loads((ROOT / "INGEST_BENCH.json").read_text())
    u = data["unthrottled"]
    assert u["parsed_rows"] == u["n_cities"]  # no payload lost end-to-end
    t = data["throttled"]
    assert t["fetched"] == t["n_cities"]
    # partition-parallel throttling must beat the sequential floor by
    # a wide margin (32 partitions; allow scheduling overhead)
    assert t["speedup_vs_sequential"] >= 8, t
    # and the unthrottled machinery is orders above the reference's
    # 2.5 rows/s (1 city / 0.4 s)
    assert u["rows_per_s"] >= 100, u


def test_stream_bench_artifact_is_green():
    """The committed streaming-probe micro-bench (VERDICT r8 task 4)
    must carry both regimes with complete decisions: every probe row
    decided in BOTH the capacity and the saturated run (saturation
    means "stop admitting", never "stop deciding" — the runtime
    semantics are pinned by
    test_streaming_semdedup_saturation_keeps_deciding), at least one
    cell actually saturated in the saturated regime, and the state
    bound honored."""
    import json

    import pytest

    if not (ROOT / "STREAM_BENCH.json").exists():
        pytest.skip(
            "STREAM_BENCH.json not yet generated on this machine — "
            "run `python bench_stream.py` on an idle machine and "
            "commit the emitted line (r9: the scale-bench regeneration "
            "owned the machine to the round boundary)"
        )
    data = json.loads((ROOT / "STREAM_BENCH.json").read_text())

    def check_scale(rec, tag):
        assert rec["probe_rows"] > 0 and rec["seed_rows"] > 0, tag
        for regime in ("capacity", "saturated"):
            r = rec[regime]
            assert r["decided"] == rec["probe_rows"], (tag, regime)
            assert r["kept"] + r["dropped"] == r["decided"], (tag, regime)
            assert r["probe_rows_per_s"] > 0, (tag, regime)
        assert rec["capacity"]["saturated_cells"] == 0, tag
        assert rec["saturated"]["saturated_cells"] >= 1, tag
        # bounded-state headline: the saturated regime's state cannot
        # exceed cells * max_cell
        assert (
            rec["saturated"]["state_rows"]
            <= rec["k"] * rec["saturated"]["max_cell"]
        ), tag

    check_scale(data, "base")
    # the 100x-corpus section (VERDICT r9 task 6) obeys the same
    # invariants when present
    if "scale100" in data:
        check_scale(data["scale100"], "scale100")
        assert data["scale100"]["corpus_rows"] > data["corpus_rows"]
