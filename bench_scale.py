#!/usr/bin/env python
"""Scale-stress bench: does each plan survive a 10x data blow-up?

There is no driver-generated sf1 testdata, so this harness builds a
10x replica of $SPARK_GRAFT_SF_DIR (default sf0.1) in /tmp via DuckDB
and times the scale-sensitive queries at 1x and 10x **in the same
Spark session**, reporting the wall-clock ratio per query.

Replication is key-remapped, not naive duplication:

* fact/dimension keys are offset per copy (``key + r * (max+1)``) so
  join fan-out and group-key cardinality grow 10x like real data —
  nation/region stay fixed (they are constant-size in TPC-H);
* document text gets a per-copy token suffix (``replace(' ', 'c<r> ')``)
  so every token differs across copies: token/shingle counts per doc
  are preserved while MinHash buckets don't collapse into one
  10-deep duplicate cluster per doc;
* embeddings get value-dependent per-copy noise
  (``x + 0.05*r*sin(1000*x)``) so cosine directions differ across
  copies (a uniform shift/scale would leave all 10 copies parallel and
  turn every LSH bucket into a duplicate cluster).

A query whose plan hides a scale cliff (forced broadcast of an
SF-scaling table, un-capped hot bucket, quadratic candidate join)
shows up here as a ratio far above ``10 * t1``; healthy plans land
well under that because ~0.3-0.5 s of each 1x time is fixed
plan/schedule overhead (BASELINE.md).

Prints ONE JSON line:
  {"metric": "scale10_ratio_max", "value": R, "unit": "x",
   "queries": {name: {"t1": s, "t10": s, "ratio": r,
                      # ACCOUNTED tail queries additionally carry:
                      "rows_kind": ..., "rows_1x": n, "rows_10x": n,
                      "rows_ratio": r, "bounded": true}, ...},
   "unbounded_accounted": [], "scale100": {name: {...}},
   "scale100_ratio_max": R, "replica_rows": {...},
   "load_factor": {"scale10": f, "scale100": f, "scale1000": f},
   "sf": "0.1x10"}

Each section opens with the bench.py load sentinel (the same
committed calibration probe): under sustained host load the harness
REFUSES to record rather than commit polluted ratios — the structural
fix for the round-8 artifact (see section_sentinel).

The ACCOUNTED queries (the >6x tail) prove their superlinear time is
work-driven: emitted-pair counts (MinHash LSH), candidate-pair counts
(embedding LSH verify input), or the exploded token stream (x24 CMS)
at both scales, with time-ratio required <= rows_ratio *
ACCOUNTING_SLACK.  The
scale100 section times the cheap scale-critical queries on a 100x
replica of the tables they touch — the spot-check for cliffs the 10x
run hides; the env-gated scale1000 section is the largest committed
evidence (100 M events / 5 M docs / 2 M vectors).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the 1000x section streams 100 M-event / 5 M-doc / 2 M-vector
# replicas through 32 concurrent tasks: the repo's 8g default heap
# leaves < 256 MB/task and OOMed the first round-7 run — size the
# bench JVM like a real executor (still overridable from the env)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

BASE_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
SCALE_DIR = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR", f"/tmp/spark_graft_scale{COPIES}"
)

#: Scale-sensitive headline subset: the joins/aggregations whose plans
#: the 100x posture depends on (size-conditional broadcasts, pre-capped
#: LSH buckets, union-scan as-of, shuffle TF-IDF join).
QUERIES: tuple[str, ...] = (
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "tpch_q18_top_customers",
    "a3_latest_per_key",
    "a5_latest_join_dim",
    "j3_asof_join",
    "j4_range_join_windows",
    "j5_interval_overlap",
    "t4_hourly_window",
    "x1_exact_dedup",
    "x2b_lsh_candidate_pairs",
    "x2f_lsh_verified_neardup",
    "x3b_embedding_neardup_auto",
    "x7_decontamination",
    "x9_tfidf_keywords",
    "x16_curation_pipeline",
    "x19_unigram_prob_score",
    "tpch_q20_excess_supply",
    "tpch_q21_waiting_suppliers",
    "j8_nearest_event_join",
    "j9_bloom_prune_join",
    "x23_sq8_topk",
    "x24_countmin_heavy_hitters",
    "mb1_market_basket",
    "geo1_grid_join",
    "w9_resample_interpolate",
    "c1_compaction_plan",
    "a21_hist_quantiles",
    "mb2_association_rules",
    "j11_linear_attribution",
    "x27_adaptive_stopword_strip",
    "x28_target_encode",
    "a24_winsorize",
    "dq3_order_reconciliation",
    "mv2_delta_join_repair",
    "g1_triangle_count",
    "g2_pagerank",
    "g3_label_propagation",
    "j12_scd2_pit_join",
    "x33_chunk_dedup",
    "x34_kmv_source_overlap",
    "x35_inverted_index",
    "x36_bm25_retrieval",
    "x38_prefix_filter_neardup",
    "x39_feature_hashing",
    "x37_containment_pairs",
    "o4_pareto_cumshare",
    "w14_seasonal_backtest",
    "dq5_benford_deviation",
    "x3g_kmeans_clusters",
    "x42_hybrid_rrf",
    "x43_duplicate_span_fraction",
    "x44_dsir_importance",
    # registered fixed-k form AND the deployment auto-k form: fixed k
    # makes the within-cell pair stream quadratic in the corpus (the
    # accounting proves the time is pair-bought), auto-k keeps cells
    # constant-size and the pair stream linear — the pair of entries
    # IS the scale argument for recommended_kmeans_k
    "x45_semdedup_keep",
    "x45_semdedup_auto",
    "x49_span_dedup_rewrite",
    "x50_pq_topk",
    # the stored-index read path split out of x50: the index BUILD is
    # an eager side effect cached under /tmp, pre-warmed before the
    # section's timed loop (prewarm_stored_indexes), so the timed
    # region is the pure query — scan of the stored m-int codes vs
    # x50's full in-query re-train+scan
    "x50b_pq_topk_stored",
    "x51_ivfpq_topk",
    "x51b_ivfpq_topk_stored",
    "x53_incremental_neardup",
    # the stored-LSH-index read path: per-batch cost only (the corpus
    # signature/set build is an untimed plan-construction side effect,
    # cached under /tmp per corpus)
    "x53b_incremental_neardup_stored",
    "x54_incremental_semdedup",
    # train↔eval decontamination: one corpus-linear shingle pass
    # against the broadcast eval shingle set
    "x61_decontamination",
    # the production-contract twin: FIXED 64-doc eval suite + 8-gram
    # windows — the broadcast is scale-CONSTANT, so this form carries
    # the 100x and 1000x points x61's growing eval slice cannot
    "x61b_decontamination_fixed_eval",
    # the per-EVAL-doc coverage direction: same one-pass corpus scan
    # reduced to the bounded hit set, per-doc arithmetic on the fixed
    # 64-doc suite only
    "x61c_contamination_eval_coverage",
    # the stored-SemDeDup-index read path: per-batch probe cost only
    # (the corpus survivor/codebook build is an untimed
    # plan-construction side effect, cached under /tmp per corpus)
    "x54b_incremental_semdedup_stored",
    "x54_incremental_semdedup_auto",
    "x56_curation_materialize",
    "x56_curation_auto",
    "x57_reduced_recall",
    "x58_sq8_recall",
    # the steady-state composed ingest verdict: fixed-k form (oracle
    # parity) AND the auto-k deployment twin — the x45/x56 pairing
    # applied to the ingestion triad
    "x59_ingest_curation",
    "x59_ingest_curation_auto",
)


#: tail queries whose 10x wall-clock exceeds the typical band; each
#: carries an explicit work-driver accounting (rows_1x/rows_10x) so a
#: superlinear TIME ratio is provably work-driven: for the MinHash pair
#: queries the work is the emitted pair set (output grows with the
#: duplicate mass), for the embedding LSH it is the candidate-pair set
#: feeding the cosine verify (the thresholded output can be empty while
#: the verify still does real work), and for the CMS sketch it is the
#: exploded token stream (input-linear; the sketch state is constant).
ACCOUNTED: dict[str, str] = {
    "x2b_lsh_candidate_pairs": "output_rows",
    "x2f_lsh_verified_neardup": "output_rows",
    # x3b's OUTPUT can be empty (no pair clears the cosine threshold)
    # while the verify stage still did real work — count the candidate
    # pairs the bucket join feeds the verify, the true work driver
    "x3b_embedding_neardup_auto": "candidate_pairs",
    "x24_countmin_heavy_hitters": "token_stream",
    # prefix-filter / containment pair output grows with the duplicate
    # mass exactly like the LSH pair queries
    "x38_prefix_filter_neardup": "output_rows",
    "x37_containment_pairs": "output_rows",
    # incremental probe: verified cross-split pair output grows with
    # the duplicate mass, exactly like the bootstrap pair queries
    "x53_incremental_neardup": "output_rows",
    "x53b_incremental_neardup_stored": "output_rows",
    # the curation pipeline's output is the curated corpus itself
    "x16_curation_pipeline": "output_rows",
    # tf-idf keyword output is top-k per surviving doc — input-linear
    "x9_tfidf_keywords": "output_rows",
    # per-doc outputs: contamination verdicts / stripped texts grow
    # with the corpus
    "x7_decontamination": "output_rows",
    "x27_adaptive_stopword_strip": "output_rows",
    # SQ8 rescore output is fixed-k per query; the work driver is the
    # scanned embedding corpus itself
    "x23_sq8_topk": "input_rows:embeddings",
    # PageRank cost is |E| join rows per iteration over the
    # checkpointed adjacency
    "g2_pagerank": "copurchase_edges",
    # LPA's per-round join+agg+window also touches exactly |E| rows per
    # iteration over the same checkpointed adjacency (iteration count
    # is fixed, so the edge count is the scale driver)
    "g3_label_propagation": "copurchase_edges",
    # KMV overlap is dominated by the distinct-shingle shuffle feeding
    # the per-source bottom-k; the exploded shingle stream is its
    # input-linear driver (sketch side is k-bounded by construction)
    "x34_kmv_source_overlap": "shingle_stream",
    # posting-list and hashed-BoW construction stream the token set
    "x35_inverted_index": "token_stream",
    "x39_feature_hashing": "token_stream",
    # per-row / per-doc outputs hovering near the accounting line —
    # covered so run-to-run variance can't surface an unaccounted >4x
    "w9_resample_interpolate": "output_rows",
    "x33_chunk_dedup": "output_rows",
    "x19_unigram_prob_score": "output_rows",
    "x28_target_encode": "output_rows",
    # 1000x-section members: per-key / per-doc outputs (t4 is NOT
    # accounted — its hourly-bucket output is scale-constant, the
    # sub-linear story is the point)
    "a3_latest_per_key": "output_rows",
    "x1_exact_dedup": "output_rows",
    # both geo sides grow with SF, so the 100x point runs hot (32x);
    # the emitted within-radius pair set grows 100x and bounds it
    "geo1_grid_join": "output_rows",
    # triangle counting's work driver is the wedge set, reported in
    # the query's own output (its row count is always 1)
    "g1_triangle_count": "wedge_count",
    # Lloyd k-means emits one row per vector; per-pass scored rows are
    # n x k with k fixed, so the assignment output is the linear driver
    "x3g_kmeans_clusters": "output_rows",
    # the 5-gram span stream drives both of x43's shuffles (the span
    # count-distinct and the 1:1 count-join back onto the spans)
    "x43_duplicate_span_fraction": "span_stream",
    # the rewrite manifest runs two windows over the SAME span
    # occurrence stream (span-hash first-occurrence, per-doc gap sum)
    "x49_span_dedup_rewrite": "span_stream",
    # PQ coding scans the embedding corpus against a constant 16-row
    # broadcast codebook; ADC scoring is |queries| * n broadcast rows —
    # both input-linear in the corpus
    "x50_pq_topk": "input_rows:embeddings",
    # the stored-index query scans one codes row per corpus vector
    # (ADC against broadcast distance tables) — input-linear, with a
    # far smaller constant than x50's in-query form
    "x50b_pq_topk_stored": "input_rows:embeddings",
    "x51b_ivfpq_topk_stored": "input_rows:embeddings",
    # IVFADC adds the centroid pass (corpus-linear) and PRUNES the ADC
    # scan to probed cells — still corpus-bounded
    "x51_ivfpq_topk": "input_rows:embeddings",
    # the reduced-recall dial makes a constant number of corpus passes
    # (quantizer max, rp/prefix reductions, the exact grade), each
    # against a fixed 8-query broadcast — all input-linear in the
    # embedding corpus
    "x57_reduced_recall": "input_rows:embeddings",
    # the SQ8 dial is one quantized corpus scan against a broadcast
    # query set plus a |queries|*20 rescore — input-linear like x23
    "x58_sq8_recall": "input_rows:embeddings",
    # DSIR is one token explode + a 64-row broadcast — token-linear
    "x44_dsir_importance": "token_stream",
    # SemDeDup's cost is the within-cell pair set Σ c·(c−1)/2: with
    # the registered fixed k it grows ~quadratically in the corpus
    # (the accounting bounds it)
    "x45_semdedup_keep": "cell_pair_stream",
    # the auto-k deployment form holds cells at ~250 vectors, so the
    # pair stream is linear — but with k ∝ n the ASSIGNMENT stream is
    # the dominant work (the round-6 unbounded finding: the flat n·k
    # form burned 17x wall at 10x corpus against a pair-only driver).
    # The two-level form scores O(n·√k) rows per pass; this driver
    # counts ALL of it: coarse scoring + routed fine scoring per Lloyd
    # pass, plus the within-cell verify pairs
    "x45_semdedup_auto": "semdedup_auto_work",
    # incremental probe: the work driver is the batch x same-cell
    # corpus-survivor candidate stream the verify scores (the thresholded
    # keep decision can drop to zero rows while the probe still did real
    # pair work — the x3b candidate_pairs framing); with the registered
    # fixed k the cells grow with the corpus, so the stream is
    # superlinear by construction and the accounting bounds it
    "x54_incremental_semdedup": "probe_pair_stream",
    # stored-index twin probes the identical candidate stream
    # (kind-cached: shares the fixed-k probe measurement)
    "x54b_incremental_semdedup_stored": "probe_pair_stream",
    # decontamination work is the train shingle stream — linear in the
    # document corpus (the broadcast eval side is fixed by contract)
    "x61_decontamination": "input_rows:documents",
    "x61b_decontamination_fixed_eval": "input_rows:documents",
    "x61c_contamination_eval_coverage": "input_rows:documents",
    # the auto-k deployment probe: ALL its work measured — the
    # two-level index build on the corpus split (the semdedup_auto_work
    # terms), the batch probe's coarse + routed-fine scored rows, and
    # the same-cell survivor verify pairs the keep decision aggregates
    "x54_incremental_semdedup_auto": "semdedup_inc_auto_work",
    # the composed curation pipeline is dominated by its x45 stage: the
    # within-cell pair stream (fixed oracle k, so ~quadratic — the x45
    # adjudication applies; the deployment form routes through the
    # auto-k twin); the span/quality/sampling stages are input-linear
    "x56_curation_materialize": "cell_pair_stream",
    # the deployment composition embeds x45_auto, so the same
    # assignment-stream + verify-pair driver bounds it (every other
    # stage is input-linear; the driver value is kind-cached, so the
    # expensive 1000x accounting fit is computed once and shared with
    # x45_semdedup_auto)
    "x56_curation_auto": "semdedup_auto_work",
    # the composed ingest verdict embeds the fixed-k x54 probe, whose
    # batch x same-cell survivor candidate stream dominates (quality /
    # x1b / x53 / sampling are input-linear) — kind-shared with
    # x54_incremental_semdedup, so the driver is measured once
    "x59_ingest_curation": "probe_pair_stream",
    # the deployment twin embeds the auto-k probe: same driver as
    # x54_incremental_semdedup_auto (kind-cached — the expensive
    # two-level accounting fit runs once per replica)
    "x59_ingest_curation_auto": "semdedup_inc_auto_work",
}

#: time-ratio must stay under rows_ratio * this constant for every
#: accounted query — the "superlinear time is bought by superlinear
#: work" gate
ACCOUNTING_SLACK = 1.5

#: a first timing sample at or past this skips the second best-of-2
#: sample: GC-stall noise is seconds-sized, so a multi-minute sample
#: already averages it out, and the repeat would add ~45 min of pure
#: machine time at the 1000x points (see ``run`` in ``main``)
SINGLE_SAMPLE_CUTOFF_SEC = 300.0

#: per-entry journal: every measured (section, query) row is appended
#: here the moment it exists, so a run killed at ANY point (round
#: boundary, container restart, OOM) RESUMES instead of restarting —
#: the round-9 lesson: a multi-hour harness whose only output is the
#: final JSON line lost a 4-hour run to the round clock.  Lives next
#: to the harness (committed by the round-end snapshot, so it survives
#: container death) and is keyed to the harness revision, so stale
#: timings from an edited harness can never be replayed into a fresh
#: artifact.  Delete it to force a full re-measure.
JOURNAL_PATH = os.environ.get(
    "SPARK_GRAFT_SCALE_JOURNAL",
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_SCALE_journal.jsonl",
    ),
)


#: Journal epoch: journal entries are keyed to THIS declared constant,
#: not to a hash of the file — the round-9 keying (md5 of the whole
#: harness) meant ANY edit, even an additive query registration,
#: silently discarded hours of banked measurements.  Discipline (gated
#: by tests/test_bench_config.py::test_journal_epoch_discipline): every
#: bench_scale.py edit must update the pinned md5 there — the conscious
#: checkpoint — and an edit that changes MEASUREMENT SEMANTICS (run()'s
#: timing protocol, the work_rows() driver definition of an
#: already-journaled kind, replica construction, ACCOUNTING_SLACK) must
#: ALSO bump this epoch, invalidating the journal and forcing a full
#: re-measure.  Purely additive edits (new section-list entries, new
#: kinds, comments) keep the epoch: existing entries were measured by
#: identical code paths.  Initial value = the md5 prefix of the
#: round-9 harness that banked the first journal; "r13-t0-above-fn"
#: = run() now times plan construction + execution (the r12 ADVICE
#: fix — see the comment in run(); every prior entry timed the action
#: only, which under AQE-materialized lazy checkpoints excluded the
#: pinned fit work, so the whole journal was re-measured).
JOURNAL_EPOCH = "r13-t0-above-fn"


def _harness_rev() -> str:
    return JOURNAL_EPOCH


def load_journal() -> dict:
    """(section, name) → entry for every journaled measurement taken
    by THIS harness revision."""
    out: dict = {}
    if not os.path.exists(JOURNAL_PATH):
        return out
    rev = _harness_rev()
    with open(JOURNAL_PATH) as fh:
        for ln in fh:
            try:
                rec = json.loads(ln)
            except ValueError:
                continue
            if rec.get("rev") != rev:
                continue
            out[(rec["section"], rec["name"])] = rec["entry"]
    return out


def journal_write(section: str, name: str, entry: dict) -> None:
    rec = {
        "rev": _harness_rev(),
        "section": section,
        "name": name,
        "entry": entry,
    }
    with open(JOURNAL_PATH, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
        fh.flush()

#: the 100x spot-check (cheapest scale-critical queries): catches
#: cliffs the 10x run hides.  Only the tables these five touch are
#: replicated at 100x.
SCALE100_QUERIES: tuple[str, ...] = (
    "a3_latest_per_key",
    "j3_asof_join",
    "j4_range_join_windows",
    "x1_exact_dedup",
    "geo1_grid_join",
    "tpch_q3_shipping_priority",   # 60 M-row fact join, 1.5 M-row dim
    "t4_hourly_window",            # 10 M-event windowed agg
    "x24_countmin_heavy_hitters",  # 27 M-token stream vs 16 KB sketch
    # the most scale-critical LLM operator: LSH banding over 1 M docs;
    # carries candidate-pair accounting so its superlinear wall-clock
    # is provably pair-volume-driven, not a plan cliff
    "x2b_lsh_candidate_pairs",
    # the steady-state semantic probe one decade up is carried by the
    # AUTO-k twin below.  The fixed-k registered form is measured (and
    # probe_pair-accounted) at 10x only: at 200k vectors its k=8 cells
    # are ~20k wide, so the corpus-index verify is ~1.6e9 cosines over
    # at most 8 cell-keyed partitions — ~2h of measured wall in the r9
    # run for a configuration the deployment policy explicitly
    # replaces (recommended_kmeans_k).  The oracle-parity value of the
    # fixed form lives at 10x; the 100x/1000x steady-state evidence is
    # the auto family's.
    # the round-6 scale finding, repaired: two-level auto-k SemDeDup
    # over 200 k vectors (k=800, coarse=28) with full work accounting
    # (assignment stream + verify pairs) — the 10x point is where the
    # flat form's violation showed, this is the proof one decade up
    "x45_semdedup_auto",
    # the auto-k steady-state probe one decade up: two-level index on
    # the 160 k-vector corpus split + two-level batch probe, cells held
    # at ~250 vectors so the verify stream stays linear — full
    # semdedup_inc_auto_work accounting
    "x54_incremental_semdedup_auto",
    # the deployment composition at 500 k docs / 200 k vectors: the
    # embedded auto-k SemDeDup dominates (kind-shared accounting with
    # x45_semdedup_auto); spans/quality/sampling are input-linear
    "x56_curation_auto",
    # PQ/ADC over 500 k vectors: the in-memory-index ANN must stay
    # corpus-linear (broadcast codebook + distance tables, one ranking
    # window) — a cliff here means the coding left whole-stage codegen
    "x50_pq_topk",
    # decontamination one decade up: 500 k train docs scanned against
    # the broadcast eval shingle set (~4 MB at this scale) — must stay
    # input-linear; the stored/semdedup stored twins do NOT join this
    # section (x54b's untimed index build is still the demoted fixed-k
    # 1.6e9-cosine verify)
    "x61_decontamination",
    # the fixed-eval production form at the same decade: the eval side
    # is 64 docs HERE AND AT EVERY SCALE — the wall must track the
    # train shingle stream alone
    "x61b_decontamination_fixed_eval",
    # the composed steady-state ingest verdict one decade up, via the
    # AUTO-k twin only (the fixed-k x54 probe it would otherwise embed
    # is the demoted 100x scale-killer: ~1.6e9 cosines over <=8 cells);
    # accounting is kind-shared with x54_incremental_semdedup_auto —
    # the embedded probe dominates, quality/x1b/x53 are input-linear
    "x59_ingest_curation_auto",
)
SCALE100_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
)

#: the 1000x section (SPARK_GRAFT_SCALE1000=1): three orders of
#: magnitude for the cheapest keyed-agg / window / dedup / sketch
#: shapes — 100 M events and 5 M documents, the largest replica the
#: sandbox disk carries.  Env-gated because the replica build plus
#: timings add ~20 min to a run; the committed BENCH_SCALE.json is
#: produced WITH the flag on.
SCALE1000_QUERIES: tuple[str, ...] = (
    "a3_latest_per_key",           # 100 M-row latest-per-key window
    "t4_hourly_window",            # 100 M-row windowed agg, bounded keys
    "x1_exact_dedup",              # 5 M-doc hash dedup
    "x24_countmin_heavy_hitters",  # 270 M-token stream vs 16 KB sketch
    # the LLM flagship: banded MinHash candidate pairs over 5 M docs —
    # carries output-pair accounting so a superlinear wall-clock is
    # provably pair-volume-driven (the per-copy token suffix keeps
    # copies from colliding, so pair mass grows ~linearly with copies)
    "x2b_lsh_candidate_pairs",
    # DSIR importance scoring: one 270 M-token explode against a
    # 64-row broadcast bucket table — the token-linear curation op
    "x44_dsir_importance",
    # the heaviest round-6 text op (5.18x at 10x): the 5-gram span
    # stream over 5 M docs drives both of its shuffles
    "x43_duplicate_span_fraction",
    # auto-k SemDeDup at 2 M vectors (k=8000, coarse=89): the largest
    # committed point for the repaired two-level assignment
    "x45_semdedup_auto",
    # the span-rewrite sibling of x43 at 5 M docs: two windows over a
    # ~250 M-span stream — the heaviest new round-7 text op
    "x49_span_dedup_rewrite",
    # the ANN compression family at 2 M vectors (the largest committed
    # replica): PQ/ADC coding + broadcast distance tables must stay
    # corpus-linear (input-row accounting), and IVFADC must show the
    # probe PRUNING the ADC scan on top of it
    "x50_pq_topk",
    # the stored-index read path at the same 2 M-vector point: the
    # build happens once at plan-construction (untimed); the timed
    # query is the stored-codes scan + broadcast distance tables —
    # the build-once/probe-forever 100 TB ANN contrast to x50's
    # in-query re-train
    "x50b_pq_topk_stored",
    "x51_ivfpq_topk",
    # stored IVF read path at 2 M vectors: probed posting lists only
    "x51b_ivfpq_topk_stored",
    # the remaining two compression-recall dials at the 2 M-vector
    # point: both are a constant number of corpus passes against an
    # 8-query broadcast (input-row accounting, same as x50/x51); x58's
    # ranked stream is ids+int-score only since the r8 ADVICE fix, so
    # the window never sorts a 64-dim payload at 2 M rows
    "x57_reduced_recall",
    "x58_sq8_recall",
    # the steady-state semantic probe at the largest replica: 1.6 M
    # corpus vectors / 0.4 M batch, k ≈ 6400 — two-level index build +
    # two-level probe, the 100 TB ingestion shape; the fixed-k
    # registered form stays OUT of this section by construction (at
    # k=8 its same-cell candidate stream would be ~n²/8 pairs — hours
    # of pure pair work; the auto policy IS the scale answer)
    "x54_incremental_semdedup_auto",
    # x56_curation_auto is DEMOTED from this section (round 10): its
    # 1000x wall-clock is ~85% the embedded x45_auto fit measured
    # directly above (~45 min of machine time to re-time a composition
    # whose accounting driver is kind-shared with x45_auto anyway);
    # the composition's own 1000x evidence = its components' entries
    # (x45_auto here, spans/quality/sampling via x43/x49/x44) plus the
    # zero-extra-shuffle plan gate (tests/test_plans.py).  The 100x
    # composed point stays (banked: 14.96x vs 226x work growth).
    # x53_incremental_neardup at 1000x: ATTEMPTED round 10 with the
    # raw-string exploded verify and DISK-BOUND (the |candidates| x
    # shingles/doc intermediate spilled past the ~76 GB free-disk
    # headroom at 5 M docs).  REINSTATED round 11 after the verify was
    # rebuilt on packed 60-bit hashed-shingle sets
    # (dedup.jaccard_for_candidates_packed): the widest verify
    # intermediate is now |candidates| rows of two doc-length-bounded
    # int64 arrays scored in-row by array_intersect — no exploded
    # join, no post-join corpus-wide aggregation.  Candidate
    # generation at this scale was already proven by x2b (banked
    # 84x / 955x-pairs); this entry adds the full probe+verify.
    "x53_incremental_neardup",
    # the stored-signature-index twin at 5 M docs: the recurring
    # per-batch cost once the corpus side is materialized (the 100 TB
    # steady state x53's docstring promises) — the corpus shingle +
    # signature aggregation drops out of the timed region
    "x53b_incremental_neardup_stored",
    # decontamination at the production contract, three decades up:
    # the 64-doc eval suite's broadcast shingle set is IDENTICAL in
    # size to the 1x run, so the 5 M-doc wall is the train 8-gram
    # shingle stream alone (input-linear bound) — the 1000x point
    # x61's corpus-growing eval slice cannot carry (VERDICT r11 #3)
    "x61b_decontamination_fixed_eval",
)
SCALE1000_TABLES = ("region", "nation", "events", "documents", "embeddings")


def build_replica(
    base_dir: str,
    out_dir: str,
    copies: int,
    tables: tuple[str, ...] | None = None,
) -> dict[str, int]:
    """Materialize the key-remapped replica with DuckDB; idempotent."""
    import duckdb

    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        with open(marker) as fh:
            have = json.load(fh)
        # a cached replica only counts if it covers the requested tables
        if tables is None or set(tables) <= set(have):
            return have
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    con = duckdb.connect()
    con.execute(f"SET threads TO {max(4, os.cpu_count() or 4)}")
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{base_dir}/{t}.parquet'"
        )

    def off(table: str, key: str) -> int:
        return con.execute(f"SELECT max({key}) + 1 FROM {table}").fetchone()[0]

    oc, os_, op = off("customer", "c_custkey"), off("supplier", "s_suppkey"), off("part", "p_partkey")
    oo = off("orders", "o_orderkey")
    oe, ou = off("events", "event_id"), off("events", "user_id")
    od, ov = off("documents", "doc_id"), off("embeddings", "vec_id")

    replicas = {
        # constant-size dimensions: one copy
        "region": "SELECT * FROM region",
        "nation": "SELECT * FROM nation",
        "customer": f"""SELECT c_custkey + r*{oc} AS c_custkey, c_name,
                c_nationkey, c_acctbal, c_mktsegment
            FROM customer, range({copies}) t(r)""",
        "supplier": f"""SELECT s_suppkey + r*{os_} AS s_suppkey, s_name,
                s_nationkey, s_acctbal
            FROM supplier, range({copies}) t(r)""",
        "part": f"""SELECT p_partkey + r*{op} AS p_partkey, p_name, p_brand,
                p_type, p_size, p_retailprice
            FROM part, range({copies}) t(r)""",
        "orders": f"""SELECT o_orderkey + r*{oo} AS o_orderkey,
                o_custkey + r*{oc} AS o_custkey, o_orderstatus,
                o_totalprice, o_orderdate, o_orderpriority
            FROM orders, range({copies}) t(r)""",
        "lineitem": f"""SELECT l_orderkey + r*{oo} AS l_orderkey,
                l_partkey + r*{op} AS l_partkey,
                l_suppkey + r*{os_} AS l_suppkey,
                l_linenumber, l_quantity, l_extendedprice, l_discount,
                l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM lineitem, range({copies}) t(r)""",
        "events": f"""SELECT event_id + r*{oe} AS event_id, ts,
                user_id + r*{ou} AS user_id, event_type, value, props
            FROM events, range({copies}) t(r)""",
        # per-copy token suffix: token count preserved, tokens distinct
        "documents": f"""SELECT doc_id + r*{od} AS doc_id,
                CASE WHEN r = 0 THEN text
                     ELSE replace(text, ' ', 'c' || r || ' ') END AS text,
                lang, source, n_chars
            FROM documents, range({copies}) t(r)""",
        # value-dependent noise changes cosine direction per copy
        "embeddings": f"""SELECT vec_id + r*{ov} AS vec_id,
                CAST(list_transform(embedding,
                     x -> x + 0.05 * r * sin(1000 * x)) AS FLOAT[])
                    AS embedding,
                label
            FROM embeddings, range({copies}) t(r)""",
    }
    if tables is not None:
        replicas = {t: sql for t, sql in replicas.items() if t in tables}
    rows: dict[str, int] = {}
    for t, sql in replicas.items():
        con.execute(
            f"COPY ({sql}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
        rows[t] = con.execute(
            f"SELECT count(*) FROM '{out_dir}/{t}.parquet'"
        ).fetchone()[0]
    con.close()
    with open(marker, "w") as fh:
        json.dump(rows, fh)
    return rows


def scale_summary_md(data: dict) -> str:
    """Markdown summary of a BENCH_SCALE.json dict.  PARITY.md embeds
    this output verbatim between ``<!-- BENCH_SCALE:begin/end -->``
    markers; tests/test_docs_scale_sync.py regenerates it from the
    committed JSON and string-compares, so the doc CANNOT drift from
    the measurement (rounds 3 and 4 both shipped stale hand-written
    scale figures — this is the structural fix)."""
    import statistics

    q = data["queries"]
    worst = max(q, key=lambda n: q[n]["ratio"])
    lines = [
        f"Worst 10x wall-clock ratio: **{data['value']}x** (`{worst}`), "
        f"median {round(statistics.median(v['ratio'] for v in q.values()), 2)}x "
        f"over {len(q)} queries.",
        f"Accounted-tail gate: every time ratio must stay within "
        f"rows_ratio x {data['accounting_slack']}; violations: "
        f"{data['unbounded_accounted'] or 'none'} (10x), "
        f"{data.get('unbounded_accounted_100x') or 'none'} (100x), "
        f"{data.get('unbounded_accounted_1000x') or 'none'} (1000x).",
        "",
        "| query | t 1x (s) | t 10x (s) | time ratio | work driver "
        "| rows 1x → 10x | rows ratio |",
        "|---|---|---|---|---|---|---|",
    ]
    for n in sorted(n for n, v in q.items() if "rows_ratio" in v):
        v = q[n]
        lines.append(
            f"| {n} | {v['t1']} | {v['t10']} | {v['ratio']}x "
            f"| {v['rows_kind']} | {v['rows_1x']:,} → {v['rows_10x']:,} "
            f"| {v['rows_ratio']}x |"
        )
    s100 = data.get("scale100", {})
    if s100:
        lines += [
            "",
            f"100x spot-check (max ratio "
            f"{data['scale100_ratio_max']}x — vs 100x input growth):",
            "",
            "| query | t 1x (s) | t 100x (s) | time ratio | work accounting |",
            "|---|---|---|---|---|",
        ]
        for n in sorted(s100):
            v = s100[n]
            acc = (
                f"{v['rows_kind']}: {v['rows_1x']:,} → {v['rows_100x']:,} "
                f"({v['rows_ratio']}x)"
                if "rows_ratio" in v
                else "sub-linear, unaccounted"
            )
            lines.append(
                f"| {n} | {v['t1']} | {v['t100']} | {v['ratio']}x | {acc} |"
            )
    s1000 = data.get("scale1000", {})
    if s1000:
        lines += [
            "",
            f"1000x point (max ratio {data['scale1000_ratio_max']}x — "
            f"100 M events / 5 M documents, vs 1000x input growth):",
            "",
            "| query | t 1x (s) | t 1000x (s) | time ratio | work accounting |",
            "|---|---|---|---|---|",
        ]
        for n in sorted(s1000):
            v = s1000[n]
            acc = (
                f"{v['rows_kind']}: {v['rows_1x']:,} → {v['rows_1000x']:,} "
                f"({v['rows_ratio']}x)"
                if "rows_ratio" in v
                else "sub-linear, unaccounted"
            )
            lines.append(
                f"| {n} | {v['t1']} | {v['t1000']} | {v['ratio']}x | {acc} |"
            )
    return "\n".join(lines)


def update_parity_md(
    json_path: str = "BENCH_SCALE.json", parity_path: str = "PARITY.md"
) -> None:
    """Rewrite PARITY.md's generated scale block from the committed
    JSON: ``python -c "import bench_scale; bench_scale.update_parity_md()"``
    (run after every bench_scale.py rerun; tests/test_docs_scale_sync.py
    fails until the block matches)."""
    import re

    data = json.load(open(json_path))
    parity = open(parity_path).read()
    begin, end = "<!-- BENCH_SCALE:begin", "<!-- BENCH_SCALE:end -->"
    block = scale_summary_md(data)
    new = re.sub(
        re.escape(begin) + r".*?-->\n.*?\n" + re.escape(end),
        lambda _m: f"{begin} generated: do not hand-edit; rerun "
        f'python -c "import bench_scale; bench_scale.update_parity_md()" '
        f"-->\n{block}\n{end}",
        parity,
        flags=re.DOTALL,
    )
    assert begin in new, "PARITY.md is missing the BENCH_SCALE markers"
    open(parity_path, "w").write(new)


def section_sentinel(spark, section: str) -> float | None:
    """Load sentinel, ported from bench.py (VERDICT r8 task 2): the
    round-8 scale artifact was recorded under sustained host load and
    its ghost ratios (q18 14.15x, j5 10.93x — both ~1.5x when idle)
    cost a full rerun.  bench.py refuses to emit under load; this
    harness — the one that actually produced the polluted artifact —
    had no sentinel.  Before EACH timing section the same committed
    calibration probe (bench.CALIBRATION_REF_SEC, the 7-column
    lineitem checksum scan at the 1x BASE_DIR) is measured; under
    sustained load the section retries then REFUSES (exit 1) rather
    than record contaminated ratios.  SPARK_GRAFT_BENCH_FORCE=1
    overrides; the per-section factor lands in the JSON either way.

    Returns the measured factor, or None when BASE_DIR is not the
    sf0.1 reference dir (no committed reference applies)."""
    import bench

    if not BASE_DIR.rstrip("/").endswith("sf0.1"):
        return None
    lf = bench.measure_load_factor(spark, BASE_DIR)
    for _ in range(bench.CALIBRATION_RETRIES):
        if lf <= bench.LOAD_FACTOR_MAX:
            return round(lf, 3)
        print(
            f"bench_scale[{section}]: load sentinel tripped (factor "
            f"{lf:.2f} > {bench.LOAD_FACTOR_MAX}); retrying in "
            f"{bench.CALIBRATION_RETRY_SLEEP_SEC}s",
            file=sys.stderr,
        )
        time.sleep(bench.CALIBRATION_RETRY_SLEEP_SEC)
        lf = bench.measure_load_factor(spark, BASE_DIR)
    if (
        lf > bench.LOAD_FACTOR_MAX
        and os.environ.get("SPARK_GRAFT_BENCH_FORCE") != "1"
    ):
        print(
            f"bench_scale REFUSED before the {section} section: "
            f"measured load factor {lf:.2f} exceeds "
            f"{bench.LOAD_FACTOR_MAX}x the idle reference after "
            f"{bench.CALIBRATION_RETRIES} retries — a concurrent "
            "process would inflate every ratio (the r8 polluted-"
            "artifact signature).  Quiet the machine and rerun, or "
            "set SPARK_GRAFT_BENCH_FORCE=1 to record anyway.",
            file=sys.stderr,
        )
        sys.exit(1)
    return round(lf, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.plans.registry import REGISTRY
    from data_engineer_project_weather_analytics_spark.session import get_spark

    rows = build_replica(BASE_DIR, SCALE_DIR, COPIES)

    spark = get_spark(app_name="data_engineer_project_weather_analytics_spark-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    # warm JVM + file listing at both scales
    spark.read.parquet(f"{BASE_DIR}/lineitem.parquet").count()
    spark.read.parquet(f"{SCALE_DIR}/lineitem.parquet").count()

    # the auto-k deployment forms (x3b_embedding_neardup_auto,
    # x45_semdedup_auto) are registered rows-only queries since r7 —
    # REGISTRY serves them like everything else

    def run(name: str, sf_dir: str) -> float:
        """Best-of-2 wall-clock: a single sample is exposed to GC
        pauses / allocation stalls (a GCLocker hiccup once turned
        x23's real 2.3x into a recorded 10.5x); the min of two runs is
        the plan's cost, not the JVM's bad luck.

        Adaptive cutoff: the GC-luck failure mode is a seconds-sized
        stall distorting a seconds-sized sample — a sample past
        ``SINGLE_SAMPLE_CUTOFF_SEC`` self-averages over thousands of
        GC cycles, so the second sample buys nothing but wall-clock
        (a best-of-2 of the 2 M-vector SemDeDup fit alone would add
        ~45 min to the 1000x section)."""
        fn = REGISTRY[name].fn
        best = float("inf")
        for _ in range(2):
            # drop caches a previous sample populated (bench.py does the
            # same): queries that persist() internally would otherwise
            # time their second sample against a warm InMemoryRelation
            spark.catalog.clearCache()
            # t0 BEFORE construction (r13, the r12 ADVICE): under AQE,
            # an eager OR lazy localCheckpoint in the plan executes its
            # upstream query stages at plan-construction time
            # (AdaptiveSparkPlanExec.execute() materializes stages to
            # finalize the plan), so timing only the action silently
            # excluded the pinned kmeans fits / sketch passes — the
            # re-banked x34 10x point read ratio 1.0 on a 10x corpus
            # before this fix.  bench.py has always timed construction;
            # this aligns the two harnesses.  The stored-index twins'
            # build-once side effects stay amortized by best-of-2: the
            # cached /tmp index exists by sample 2, whose construction
            # is the pure read path, and min() takes it.
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.select(
                F.bit_xor(F.xxhash64(*df.columns)).alias("checksum")
            ).collect()
            best = min(best, time.perf_counter() - t0)
            if best >= SINGLE_SAMPLE_CUTOFF_SEC:
                break
        return round(best, 3)

    def work_rows(name: str, kind: str, sf_dir: str) -> int:
        """The query's work-driver size at this scale (ACCOUNTED)."""
        if kind.startswith("input_rows:"):
            table = kind.split(":", 1)[1]
            return spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
        if kind == "output_rows":
            fn = REGISTRY[name].fn
            return fn(spark, sf_dir).count()
        if kind == "candidate_pairs":
            from data_engineer_project_weather_analytics_spark.operators import similarity
            from data_engineer_project_weather_analytics_spark.plans.extensions import (
                EMB_LSH_MAX_BUCKET,
            )
            from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

            emb = load_table(spark, sf_dir, "embeddings")
            return similarity.embedding_lsh_candidates(
                emb, "vec_id", "embedding", n_planes=None,
                dim=64, seed=42, n_tables=4, max_bucket=EMB_LSH_MAX_BUCKET,
            ).count()
        if kind == "wedge_count":
            return int(REGISTRY[name].fn(spark, sf_dir).first()["n_wedges"])
        if kind == "copurchase_edges":
            from data_engineer_project_weather_analytics_spark.plans.corpus import (
                copurchase_adjacency,
            )
            from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

            return copurchase_adjacency(
                load_table(spark, sf_dir, "lineitem")
            ).count()
        if kind == "span_stream":
            from data_engineer_project_weather_analytics_spark.plans.corpus import _SPAN_N

            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            return int(
                docs.select(
                    F.sum(
                        F.greatest(
                            F.size(F.split("text", " ")) - (_SPAN_N - 1),
                            F.lit(0),
                        )
                    )
                ).first()[0]
            )
        if kind == "cell_pair_stream":
            from data_engineer_project_weather_analytics_spark.operators import similarity
            from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

            emb = load_table(spark, sf_dir, "embeddings")
            per = similarity.kmeans_assign(
                emb, "vec_id", "embedding", k=similarity.KMEANS_K
            ).groupBy("cluster_id").count()
            return int(
                per.select(
                    F.sum(F.col("count") * (F.col("count") - 1) / 2)
                ).first()[0]
            )
        if kind == "probe_pair_stream":
            from pyspark.sql import functions as FF

            from data_engineer_project_weather_analytics_spark.operators import similarity
            from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

            emb = load_table(spark, sf_dir, "embeddings")
            h = FF.md5(FF.col("vec_id").cast("string"))
            return similarity.semdedup_incremental_candidates(
                emb.filter(h < "cd"), emb.filter(h >= "cd"),
                "vec_id", "embedding",
            ).count()
        if kind == "semdedup_inc_auto_work":
            # ALL the work the auto-k incremental probe does, measured
            # from ONE extra two-level fit of the corpus split:
            #   index build: ITERS * (n_c * |occ| + routed fine rows)
            #                + within-cell verify pairs
            #   probe:       n_b * |occ| + routed fine rows
            #                + batch x same-cell survivor verify pairs
            # fmap/occ are persisted FIRST so materializing the final
            # assignment re-runs only the last pass (one fit total);
            # fine counts come from the final assignment, so a fine
            # cell that ends a pass empty is not counted — the same
            # <1% honesty note as semdedup_auto_work.
            from data_engineer_project_weather_analytics_spark.operators import similarity
            from data_engineer_project_weather_analytics_spark.operators.text import (
                deterministic_split,
            )
            from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

            emb = load_table(spark, sf_dir, "embeddings")
            split = deterministic_split("vec_id")
            corpus = emb.filter(split == "train")
            batch = emb.filter(split == "test")
            n_c = corpus.count()
            n_b = batch.count()
            k = similarity.recommended_kmeans_k(n_c)
            cv = corpus.select(
                F.col("vec_id").alias("__vid"),
                similarity._as_double("embedding").alias("__v"),
            )
            assigned, fmap, occ = similarity._kmeans_fit_two_level(cv, k)
            fmap = fmap.persist()
            occ = occ.persist()
            n_occ = occ.count()
            fmap.count()
            a = assigned.persist()
            bv = batch.select(
                F.col("vec_id").alias("__vid"),
                similarity._as_double("embedding").alias("__v"),
            )
            bass = similarity._batch_assign_two_level(
                bv, fmap, occ,
                broadcast_fine=k <= similarity.FINE_CODEBOOK_BROADCAST_MAX_K,
                keep_coarse=True,
            ).persist()
            try:
                per_coarse = a.groupBy("coarse").agg(
                    F.count(F.lit(1)).alias("nv"),
                    F.countDistinct("cell").alias("nf"),
                )
                fine_scored = int(
                    per_coarse.select(F.sum(F.col("nv") * F.col("nf"))).first()[0]
                )
                pairs = int(
                    a.groupBy("cell")
                    .count()
                    .select(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                    .first()[0]
                )
                probe_fine = int(
                    bass.groupBy("coarse")
                    .count()
                    .join(per_coarse.select("coarse", "nf"), "coarse")
                    .select(F.sum(F.col("count") * F.col("nf")))
                    .first()[0]
                )
                thr = 8000  # the query's 0.8 threshold, quantized
                aa = a.select(
                    F.col("__vid").alias("id_a"), "cell",
                    F.col("__v").alias("__va"),
                )
                ab = a.select(
                    F.col("__vid").alias("id_b"), "cell",
                    F.col("__v").alias("__vb"),
                )
                dropped = (
                    aa.join(ab, "cell")
                    .filter(F.col("id_a") < F.col("id_b"))
                    .filter(
                        similarity.sim_q(
                            similarity.cosine(F.col("__va"), F.col("__vb"))
                        )
                        >= thr
                    )
                    .select(F.col("id_b").alias("__did"))
                    .distinct()
                )
                surv = a.join(
                    dropped, a["__vid"] == dropped["__did"], "left_anti"
                ).select("cell")
                probe_pairs = bass.select("cell").join(surv, "cell").count()
            finally:
                bass.unpersist()
                a.unpersist()
                fmap.unpersist()
                occ.unpersist()
            return (
                similarity.KMEANS_ITERS * (n_c * n_occ + fine_scored)
                + pairs
                + n_b * n_occ
                + probe_fine
                + probe_pairs
            )
        if kind == "semdedup_auto_work":
            # ALL the work the two-level auto-k SemDeDup does, measured
            # from one extra assignment run:
            #   KMEANS_ITERS * (n * |occupied coarse cells|     (step 3)
            #                   + Σ_coarse n_vectors * n_fine)  (step 4)
            #   + Σ_cell pairs                                  (verify)
            # Fine-cell counts come from the FINAL assignment, so a
            # fine cell that ends a pass empty is not counted — a <1%
            # undercount at these scales (stated for honesty); the
            # codebook-sized streams (fine→coarse routing, centroid
            # rebuilds) are k·√k rows, orders below the vector terms.
            from data_engineer_project_weather_analytics_spark.operators import similarity
            from data_engineer_project_weather_analytics_spark.sources.catalog import load_table

            emb = load_table(spark, sf_dir, "embeddings")
            n = emb.count()
            k = similarity.recommended_kmeans_k(n)
            a = similarity.kmeans_assign_two_level(
                emb, "vec_id", "embedding", k=k, keep_coarse=True
            ).persist()
            try:
                n_occ = a.select("coarse_id").distinct().count()
                fine_scored = int(
                    a.groupBy("coarse_id")
                    .agg(
                        F.count(F.lit(1)).alias("nv"),
                        F.countDistinct("cluster_id").alias("nf"),
                    )
                    .select(F.sum(F.col("nv") * F.col("nf")))
                    .first()[0]
                )
                pairs = int(
                    a.groupBy("cluster_id")
                    .count()
                    .select(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                    .first()[0]
                )
            finally:
                a.unpersist()
            return similarity.KMEANS_ITERS * (n * n_occ + fine_scored) + pairs
        if kind == "shingle_stream":
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            return int(
                docs.select(
                    F.sum(
                        F.greatest(
                            F.size(F.split("text", " ")) - 2, F.lit(0)
                        )
                    )
                ).first()[0]
            )
        # token_stream: x24's cost is the exploded token stream (the
        # same split the query performs), not its fixed top-30 output
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return int(
            docs.select(F.sum(F.size(F.split("text", " ")))).first()[0]
        )

    rows_cache: dict[tuple[str, str], int] = {}

    def work_rows_cached(name: str, kind: str, sf_dir: str) -> int:
        # per-NAME kinds depend on the query itself; every other kind
        # is a pure function of (kind, sf_dir), so queries sharing a
        # driver (x45_semdedup_auto / x56_curation_auto) share the
        # measurement — the expensive 1000x accounting fit runs once
        key = (
            name if kind in ("output_rows", "wedge_count") else kind,
            sf_dir,
        )
        if key not in rows_cache:
            rows_cache[key] = work_rows(name, kind, sf_dir)
        return rows_cache[key]

    #: stored-index twins whose plan CONSTRUCTION builds a /tmp index
    #: (index_store.stored_index) on first touch.  With t0 above fn() (r13) that
    #: build would land inside the FIRST timed sample — amortized by
    #: best-of-2 normally, but a >=SINGLE_SAMPLE_CUTOFF_SEC first
    #: sample is recorded alone, which would bill the one-time build
    #: to the recurring read path.  Constructing each stored twin once
    #: per corpus BEFORE its section's timed loop keeps the build
    #: untimed by DESIGN (the build-once/probe-forever contract these
    #: entries exist to measure), exactly as the replica build and the
    #: warm-listing counts are untimed.
    stored_twins = (
        "x50b_pq_topk_stored",
        "x51b_ivfpq_topk_stored",
        "x53b_incremental_neardup_stored",
        "x54b_incremental_semdedup_stored",
    )

    def prewarm_stored_indexes(section, section_queries, sf_dirs) -> None:
        # a journaled entry is never re-timed: a resumed run after a
        # /tmp wipe must not rebuild its (2 M-vector) index for nothing
        for name in section_queries:
            if name in stored_twins and (section, name) not in journal:
                for d in sf_dirs:
                    REGISTRY[name].fn(spark, d)

    journal = load_journal()

    def seed_rows_cache(name: str, entry: dict, sf_dir: str, rows_key: str):
        """A journaled entry carries its accounting — seed the kind
        cache so a resumed run never re-measures a shared driver."""
        kind = ACCOUNTED.get(name)
        if kind is None or "rows_kind" not in entry:
            return
        kk = name if kind in ("output_rows", "wedge_count") else kind
        rows_cache[(kk, BASE_DIR)] = entry["rows_1x"]
        rows_cache[(kk, sf_dir)] = entry[rows_key]

    load_factors: dict[str, float | None] = {
        "scale10": section_sentinel(spark, "scale10")
    }
    out: dict[str, dict[str, float]] = {}
    prewarm_stored_indexes("scale10", QUERIES, (BASE_DIR, SCALE_DIR))
    for name in QUERIES:
        if ("scale10", name) in journal:
            out[name] = journal[("scale10", name)]
            seed_rows_cache(name, out[name], SCALE_DIR, "rows_10x")
            continue
        t1 = run(name, BASE_DIR)
        t10 = run(name, SCALE_DIR)
        entry: dict[str, float] = {
            "t1": t1, "t10": t10, "ratio": round(t10 / max(t1, 1e-9), 2)
        }
        kind = ACCOUNTED.get(name)
        if kind is not None:
            r1 = work_rows_cached(name, kind, BASE_DIR)
            r10 = work_rows_cached(name, kind, SCALE_DIR)
            entry["rows_kind"] = kind
            entry["rows_1x"] = r1
            entry["rows_10x"] = r10
            entry["rows_ratio"] = round(r10 / max(r1, 1), 2)
            # superlinear time must be bought by superlinear work
            entry["bounded"] = entry["ratio"] <= entry["rows_ratio"] * ACCOUNTING_SLACK
        out[name] = entry
        journal_write("scale10", name, entry)

    unbounded = [
        n for n, v in out.items() if "bounded" in v and not v["bounded"]
    ]

    # ---- 100x spot-check on the cheap scale-critical queries --------
    dir100 = f"{SCALE_DIR.rstrip('/')}_x100"
    rows100 = build_replica(BASE_DIR, dir100, 100, tables=SCALE100_TABLES)
    spark.read.parquet(f"{dir100}/events.parquet").count()  # warm listing
    load_factors["scale100"] = section_sentinel(spark, "scale100")
    out100: dict[str, dict[str, float]] = {}
    prewarm_stored_indexes("scale100", SCALE100_QUERIES, (BASE_DIR, dir100))
    for name in SCALE100_QUERIES:
        if ("scale100", name) in journal:
            out100[name] = journal[("scale100", name)]
            seed_rows_cache(name, out100[name], dir100, "rows_100x")
            continue
        t1 = out[name]["t1"] if name in out else run(name, BASE_DIR)
        t100 = run(name, dir100)
        e100: dict[str, float] = {
            "t1": t1, "t100": t100, "ratio": round(t100 / max(t1, 1e-9), 2)
        }
        kind = ACCOUNTED.get(name)
        if kind is not None:
            r1 = work_rows_cached(name, kind, BASE_DIR)
            r100 = work_rows_cached(name, kind, dir100)
            e100["rows_kind"] = kind
            e100["rows_1x"] = r1
            e100["rows_100x"] = r100
            e100["rows_ratio"] = round(r100 / max(r1, 1), 2)
            e100["bounded"] = (
                e100["ratio"] <= e100["rows_ratio"] * ACCOUNTING_SLACK
            )
        out100[name] = e100
        journal_write("scale100", name, e100)

    # ---- optional 1000x point (SPARK_GRAFT_SCALE1000=1) -------------
    out1000: dict[str, dict[str, float]] = {}
    if os.environ.get("SPARK_GRAFT_SCALE1000") == "1":
        dir1000 = f"{SCALE_DIR.rstrip('/')}_x1000"
        build_replica(BASE_DIR, dir1000, 1000, tables=SCALE1000_TABLES)
        spark.read.parquet(f"{dir1000}/events.parquet").count()
        load_factors["scale1000"] = section_sentinel(spark, "scale1000")
        prewarm_stored_indexes("scale1000", SCALE1000_QUERIES, (BASE_DIR, dir1000))
        for name in SCALE1000_QUERIES:
            if ("scale1000", name) in journal:
                out1000[name] = journal[("scale1000", name)]
                seed_rows_cache(name, out1000[name], dir1000, "rows_1000x")
                continue
            t1 = out[name]["t1"] if name in out else run(name, BASE_DIR)
            t1000 = run(name, dir1000)
            e: dict[str, float] = {
                "t1": t1,
                "t1000": t1000,
                "ratio": round(t1000 / max(t1, 1e-9), 2),
            }
            kind = ACCOUNTED.get(name)
            if kind is not None:
                r1 = work_rows_cached(name, kind, BASE_DIR)
                r1000 = work_rows_cached(name, kind, dir1000)
                e["rows_kind"] = kind
                e["rows_1x"] = r1
                e["rows_1000x"] = r1000
                e["rows_ratio"] = round(r1000 / max(r1, 1), 2)
                e["bounded"] = e["ratio"] <= e["rows_ratio"] * ACCOUNTING_SLACK
            out1000[name] = e
            journal_write("scale1000", name, e)

    worst = max(v["ratio"] for v in out.values())
    unbounded100 = [
        n for n, v in out100.items() if "bounded" in v and not v["bounded"]
    ]
    unbounded1000 = [
        n for n, v in out1000.items() if "bounded" in v and not v["bounded"]
    ]
    print(
        json.dumps(
            {
                "metric": "scale10_ratio_max",
                "value": worst,
                "unit": "x",
                "queries": out,
                "accounting_slack": ACCOUNTING_SLACK,
                "load_factor": load_factors,
                "unbounded_accounted": unbounded,
                "unbounded_accounted_100x": unbounded100,
                "scale100": out100,
                **(
                    {
                        "scale1000": out1000,
                        "scale1000_ratio_max": max(
                            v["ratio"] for v in out1000.values()
                        ),
                        "unbounded_accounted_1000x": unbounded1000,
                    }
                    if out1000
                    else {}
                ),
                "scale100_ratio_max": max(v["ratio"] for v in out100.values()),
                "replica_rows": rows,
                "replica_rows_100x": rows100,
                "sf": f"{BASE_DIR.rstrip('/').rsplit('sf', 1)[-1]}x{COPIES}",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
