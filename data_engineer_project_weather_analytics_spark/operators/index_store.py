"""Stored-index format and housekeeping shared by the index families.

Every family builds its index as a dict of named frames (the
``*_INDEX_LAYOUT`` artifact names) and probes such a dict, whether it
was built in-query or read back from disk.  This module is the only
place that turns the dict into parquet and back (:func:`write_index`,
:func:`read_index`), so the layout declared below is the layout on
disk.

The append lifecycle (``dedup.lsh_index_append``,
``similarity.semdedup_index_append``) adds a handful of parquet files
per ingestion batch — after thousands of batches a probe lists and
opens thousands of tiny files, the classic small-files problem.
:func:`compact_index` rewrites each index artifact into a few sorted
files, semantics-preserving by construction (same rows, better
layout), so probes keep their plans and lose the per-file open cost.

Artifacts that carry a pruning key (IVF codes carry their ``cell``,
LSH signatures their ``band``) are laid out hive-partitioned on that
key — ``partitionBy`` at write time — so a probe that touches two
cells opens only two cells' files (dynamic partition pruning at the
probe join), the stored-index analog of the reference's indexed BI
read (``README.md:105-115``) at corpus scale.  Compaction preserves
the partitioned layout: one file per live partition value instead of
one global file.

On a real lake the index would live in a transactional table format
whose compaction is atomic; on a plain filesystem the swap here is two
directory renames with the old artifact kept until the new one is in
place.  A crash between the renames leaves the staged/trash
directories behind, never a half-written artifact in the live path;
:func:`recover_index` repairs every reachable crash state (documented
below) back to a fully-live artifact.

Retraction (:func:`delete_from_index`) removes a key set from the
artifacts that carry per-row corpus state — the index-layer analog of
the reference's ON DELETE CASCADE (``sql/createtable.sql:13``): when
corpus documents are retracted or re-crawled, their signatures /
survivor rows / codes must stop matching future probes.  Geometry
artifacts (codebooks, centroids) are immutable under deletion exactly
as under append — re-centering is a rebuild, not a delete.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineer_project_weather_analytics_spark.sources.catalog import (
    input_stamp,
    read_parquet,
)

#: sidecar recording the row counts of the append-bearing artifacts at
#: BUILD time — the baseline :func:`index_freshness` drifts against
BASE_META = "_base_meta.json"
#: marker a completed whole-index rebuild writes INSIDE the staged dir
#: before the swap, so :func:`recover_rebuild` can tell a promotable
#: staged index from a half-built one
REBUILD_COMPLETE = "_REBUILD_COMPLETE"
#: part of every :func:`stored_index` cache key: bump it whenever an
#: index writer's output changes (layout, columns, values), so indexes
#: built by older code are never served
INDEX_FORMAT_VERSION = 1

#: artifact → layout spec for each index family.
#:
#: - ``partition``: hive-partition columns (pruning keys).  Applied
#:   only when the column is actually present — the flat (non-IVF) PQ
#:   index writes ``codes`` without a ``cell`` column and stays
#:   unpartitioned.
#: - ``sort``: within-file sort columns, giving parquet row-group
#:   min/max stats a pruning surface for probe-side filters.
#: - ``key``: the per-row corpus identity :func:`delete_from_index`
#:   retracts on; ``None`` marks immutable geometry (codebooks,
#:   centroids) that deletion never touches.
LSH_INDEX_LAYOUT: dict[str, dict] = {
    "sigs": {"partition": ["band"], "sort": ["minhash"], "key": "doc_id"},
    "sets": {"partition": [], "sort": ["doc_id"], "key": "doc_id"},
}
#: Survivors are deliberately NOT hive-partitioned by cell: under the
#: auto-k policy the cell count tracks the corpus (k ≈ n/250 — 8 000
#: cells at 2 M vectors, millions at 100 TB), so ``partitionBy(cell)``
#: would manufacture the small-files problem compaction exists to
#: solve (one directory per cell, most holding a single tiny file).
#: CELL-SORTED files give the probe row-group min/max pruning on the
#: same key without the directory explosion; hive partitioning is
#: reserved for BOUNDED-cardinality keys (IVF label cells, LSH bands).
SEM_INDEX_LAYOUT: dict[str, dict] = {
    "survivors": {"partition": [], "sort": ["cell", "corpus_id"], "key": "corpus_id"},
    "cents": {"partition": [], "sort": ["cell"], "key": None},
    # the auto-k two-level index stores both codebooks instead of cents
    "fmap": {"partition": [], "sort": ["cell"], "key": None},
    "occ": {"partition": [], "sort": [], "key": None},
}
PQ_INDEX_LAYOUT: dict[str, dict] = {
    "codes": {"partition": ["cell"], "sort": ["vec_id"], "key": "vec_id"},
    "codebook": {"partition": [], "sort": [], "key": None},
    "centroids": {"partition": [], "sort": ["cell"], "key": None},
}


def _n_parquet_files(path: str) -> int:
    return sum(
        1
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _partition_cols(df, spec: dict) -> list[str]:
    """The artifact's layout partition columns that ``df`` carries."""
    return [c for c in spec.get("partition", ()) if c in df.columns]


def _staged_rewrite(df, path: str, spec: dict, target_files: int) -> None:
    """Write ``df`` as the new contents of artifact ``path`` via the
    crash-safe staged-rename swap.  Partitioned artifacts get one file
    per live partition value (hash-repartition on the partition key
    puts each value in exactly one task); unpartitioned ones get
    ``target_files`` files."""
    parent, sub = os.path.split(path.rstrip("/"))
    staged = os.path.join(parent, f".compact_{sub}")
    trash = os.path.join(parent, f".compact_trash_{sub}")
    pcols = _partition_cols(df, spec)
    sort_cols = [c for c in spec.get("sort", ()) if c in df.columns]
    if pcols:
        w = df.repartition(*[F.col(c) for c in pcols])
    else:
        w = df.repartition(target_files)
    if pcols or sort_cols:
        w = w.sortWithinPartitions(*pcols, *sort_cols)
    writer = w.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(staged)
    shutil.rmtree(trash, ignore_errors=True)
    os.replace(path, trash)
    os.replace(staged, path)
    shutil.rmtree(trash)


def compact_index(
    spark,
    index_dir: str,
    layout: dict[str, dict],
    target_files: int = 1,
) -> dict[str, tuple[int, int]]:
    """Rewrite every artifact of a stored index into its compact
    layout: ``target_files`` sorted parquet files, or — for artifacts
    with a partition key — one sorted file per live partition value.
    Returns ``{artifact: (files_before, files_after)}`` so callers
    (and tests) can assert the compaction actually bought something.

    Row-preserving: the rewrite is a plain
    ``repartition → sortWithinPartitions → write`` of the artifact's
    own rows — no dedup, no schema change — so any probe returns
    byte-identical results before and after.  Missing artifacts (an
    index variant without ``centroids``, say) are skipped."""
    stats: dict[str, tuple[int, int]] = {}
    for sub, spec in layout.items():
        path = os.path.join(index_dir, sub)
        if not os.path.isdir(path):
            continue
        before = _n_parquet_files(path)
        df = spark.read.parquet(path)
        _staged_rewrite(df, path, spec, target_files)
        stats[sub] = (before, _n_parquet_files(path))
    return stats


def delete_from_index(
    spark,
    index_dir: str,
    layout: dict[str, dict],
    ids,
    target_files: int = 1,
) -> dict[str, tuple[int, int]]:
    """Retract a key set from a stored index: every artifact whose
    layout carries a ``key`` is rewritten without the rows whose key is
    in ``ids`` (a one-column DataFrame, any column name), via the same
    staged-rename swap as :func:`compact_index` — a crash mid-delete
    is recoverable by :func:`recover_index` and never leaves a
    half-written artifact live.  Geometry artifacts (``key: None``)
    are untouched: batches were assigned against that geometry, so the
    remaining rows stay exactly the rows a probe must verify against.

    Returns ``{artifact: (rows_before, rows_after)}``.

    Equivalence to a rebuild: for the LSH family, the remaining
    signatures and packed sets are row-for-row what
    ``lsh_index_write`` would produce on the retained corpus (each
    doc's rows derive only from that doc), so post-delete probes are
    byte-identical to a full rebuild.  For the SemDeDup / PQ families
    the geometry is frozen (a rebuild would re-fit centroids /
    quantizer maxima on the retained corpus), so deletion here is
    state removal under the existing geometry — the same contract as
    ``semdedup_index_append``; re-fitting is a rebuild."""
    keys = ids.toDF("__del_key")
    stats: dict[str, tuple[int, int]] = {}
    for sub, spec in layout.items():
        if spec.get("key") is None:
            continue
        path = os.path.join(index_dir, sub)
        if not os.path.isdir(path):
            continue
        df = spark.read.parquet(path)
        before = df.count()
        kept = df.join(
            F.broadcast(keys),
            df[spec["key"]] == keys["__del_key"],
            "left_anti",
        )
        # pin the retained rows BEFORE the swap: the rewrite reads the
        # directory it is about to replace, so the plan must not hold a
        # lazy scan of the old files when the staged dir is renamed in
        # (the semdedup_index_append lineage-truncation rule)
        kept = kept.localCheckpoint()
        _staged_rewrite(kept, path, spec, target_files)
        stats[sub] = (before, spark.read.parquet(path).count())
    return stats


def write_index(
    frames: dict[str, DataFrame],
    index_dir: str,
    layout: dict[str, dict],
    *,
    append: bool = False,
) -> None:
    """The one writer of the on-disk index format: each frame becomes
    the parquet artifact ``<index_dir>/<name>``, hive-partitioned on
    its layout ``partition`` columns when the frame carries them (the
    rule compaction applies too — flat PQ codes have no ``cell`` and
    stay unpartitioned).

    A fresh build overwrites and records the base rows of its keyed
    artifacts (:func:`record_base_rows`); ``append=True`` adds files to
    the live artifacts and records nothing.  No sort is applied —
    compaction owns the sorted layout."""
    for name, df in frames.items():
        pcols = _partition_cols(df, layout[name])
        writer = df.write.mode("append" if append else "overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(os.path.join(index_dir, name))
    if not append:
        spark = next(iter(frames.values())).sparkSession
        record_base_rows(
            index_dir,
            {
                name: spark.read.parquet(os.path.join(index_dir, name)).count()
                for name in frames
                if layout[name]["key"] is not None
            },
        )


def read_index(spark, index_dir: str, layout: dict[str, dict]) -> dict[str, DataFrame]:
    """The stored index as the same dict of named frames its build
    returned — one lazy parquet scan per artifact present on disk
    (an index variant without ``centroids``, say, has no such key),
    each read through the schema memo of ``catalog.read_parquet``."""
    return {
        name: read_parquet(spark, path)
        for name in layout
        if os.path.isdir(path := os.path.join(index_dir, name))
    }


def record_base_rows(index_dir: str, rows: dict[str, int]) -> None:
    """Write the build-time row counts of the append-bearing artifacts
    (called by :func:`write_index`) — the baseline freshness drifts
    against.  Appends and deletes move the live counts away from
    these; a rebuild resets them."""
    with open(os.path.join(index_dir, BASE_META), "w") as fh:
        json.dump({"base_rows": rows}, fh)


def index_freshness(
    spark,
    index_dir: str,
    layout: dict[str, dict],
    rebuild_threshold: float = 0.5,
) -> dict:
    """How far the stored index has drifted from the geometry it was
    built with.  Appends admit rows against the FROZEN codebook and
    deletes remove mass the centroids were fit on — both are correct
    per-operation (the append/delete contract) but compound: once most
    of the index postdates the fit, the geometry no longer describes
    the corpus and re-centering (a rebuild) is due.  Per
    append-bearing artifact: live rows, build-time baseline, and the
    appended/deleted fractions; ``recommend_rebuild`` is True once
    either fraction of any artifact crosses ``rebuild_threshold``.
    Cost: one count per artifact — metadata-cheap next to any probe.
    Indexes built before the baseline sidecar existed report unknown
    fractions and never trigger a recommendation."""
    meta_path = os.path.join(index_dir, BASE_META)
    base: dict[str, int] | None = None
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            base = json.load(fh)["base_rows"]
    artifacts: dict[str, dict] = {}
    worst = 0.0
    known = False
    for sub, spec in layout.items():
        if spec.get("key") is None:
            continue
        path = os.path.join(index_dir, sub)
        if not os.path.isdir(path):
            continue
        now = spark.read.parquet(path).count()
        b = base.get(sub) if base else None
        if b is None or now == 0 or b == 0:
            appended = deleted = None
        else:
            appended = max(0.0, (now - b) / now)
            deleted = max(0.0, (b - now) / b)
            worst = max(worst, appended, deleted)
            known = True
        artifacts[sub] = {
            "rows": now,
            "base_rows": b,
            "appended_fraction": appended,
            "deleted_fraction": deleted,
        }
    return {
        "artifacts": artifacts,
        "recommend_rebuild": known and worst >= rebuild_threshold,
    }


def rebuild_index(index_dir: str, build: Callable[[str], None]) -> None:
    """Whole-index re-center with the compact_index crash contract
    lifted to the index ROOT: ``build`` (any index writer partially
    applied to a target dir) materializes the fresh index into a
    staged sibling, a completeness marker is stamped, and two renames
    swap it live — concurrent probes hold file listings of the old
    artifacts throughout, and a crash at any point is repaired by
    :func:`recover_rebuild`, never leaving a half-built index live.
    This is the operation append/delete defer to: geometry is
    immutable under maintenance, rebuild is where it moves."""
    root = index_dir.rstrip("/")
    staged = root + ".rebuild_staged"
    trash = root + ".rebuild_trash"
    shutil.rmtree(staged, ignore_errors=True)
    build(staged)
    with open(os.path.join(staged, REBUILD_COMPLETE), "w") as fh:
        fh.write("ok")
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.isdir(root):
        os.replace(root, trash)
    os.replace(staged, root)
    shutil.rmtree(trash, ignore_errors=True)
    # the marker is transport state, not index state
    os.remove(os.path.join(root, REBUILD_COMPLETE))


def stored_index(
    root: str,
    family: str,
    inputs: list[str],
    params: dict,
    build: Callable[[str], None],
) -> str:
    """The build-once cache behind every stored-index query: return the
    live index directory for ``family`` under ``root``, building it
    with ``build(dir)`` (through :func:`rebuild_index`'s staged swap)
    when it is missing.

    The directory is keyed on what actually built it: the
    :func:`~data_engineer_project_weather_analytics_spark.sources.catalog.input_stamp`
    (``(path, size, mtime_ns)`` of every data file) of each distinct
    input, the build ``params`` and :data:`INDEX_FORMAT_VERSION`.  A
    table regenerated at the same path — or one part file rewritten
    inside a directory input — therefore gets a fresh index instead of
    silently serving the old one, and a writer change ships with a
    version bump instead of a hand-renamed directory.  Stale indexes
    are left in place, never reused.  A ``build`` that raises leaves no
    live directory (the staged residue is dropped by the next build)."""
    stamps = [s for p in dict.fromkeys(inputs) for s in input_stamp(p)]
    key = json.dumps(
        {"version": INDEX_FORMAT_VERSION, "inputs": stamps, "params": params},
        sort_keys=True,
    )
    index_dir = os.path.join(
        root, f"{family}_{hashlib.sha256(key.encode()).hexdigest()[:16]}"
    )
    if not os.path.isdir(index_dir):
        rebuild_index(index_dir, build)
    return index_dir


def recover_rebuild(index_dir: str) -> str | None:
    """Repair a crashed :func:`rebuild_index` (the root-level analog of
    :func:`recover_index`): live index present → drop staged/trash
    residue (an interrupted build just re-runs); live missing with a
    COMPLETE staged index (marker present) → finish the swap; live
    missing otherwise → roll the trash copy back.  Idempotent; returns
    the action taken or None."""
    root = index_dir.rstrip("/")
    staged = root + ".rebuild_staged"
    trash = root + ".rebuild_trash"
    if os.path.isdir(root):
        residue = []
        for p, what in ((staged, "staged"), (trash, "trash")):
            if os.path.isdir(p):
                shutil.rmtree(p)
                residue.append(what)
        return "dropped_" + "_and_".join(residue) if residue else None
    if os.path.isdir(staged) and os.path.exists(
        os.path.join(staged, REBUILD_COMPLETE)
    ):
        os.replace(staged, root)
        os.remove(os.path.join(root, REBUILD_COMPLETE))
        shutil.rmtree(trash, ignore_errors=True)
        return "completed_swap"
    if os.path.isdir(trash):
        shutil.rmtree(staged, ignore_errors=True)
        os.replace(trash, root)
        return "rolled_back"
    return None


def recover_index(index_dir: str, layout: dict[str, dict]) -> dict[str, str]:
    """Repair a stored index after a crash inside a staged-rename swap
    (:func:`compact_index` / :func:`delete_from_index`).  Idempotent;
    returns ``{artifact: action}`` for every artifact it touched.

    Reachable crash states, per artifact:

    - live path present (+ staged and/or trash residue): the crash hit
      before the old artifact was moved aside, or after the new one was
      already in place — the live path is authoritative either way, so
      residue is dropped (a dropped staged dir just means the
      compaction re-runs later);
    - live path MISSING, staged write complete (``_SUCCESS`` present):
      the crash hit between the two renames — finish the swap;
    - live path missing and staged absent/incomplete: roll the trash
      copy back in.
    """
    actions: dict[str, str] = {}
    for sub in layout:
        path = os.path.join(index_dir, sub)
        staged = os.path.join(index_dir, f".compact_{sub}")
        trash = os.path.join(index_dir, f".compact_trash_{sub}")
        if os.path.isdir(path):
            residue = []
            for p, what in ((staged, "staged"), (trash, "trash")):
                if os.path.isdir(p):
                    shutil.rmtree(p)
                    residue.append(what)
            if residue:
                actions[sub] = "dropped_" + "_and_".join(residue)
        elif os.path.isdir(staged) and os.path.exists(
            os.path.join(staged, "_SUCCESS")
        ):
            os.replace(staged, path)
            shutil.rmtree(trash, ignore_errors=True)
            actions[sub] = "completed_swap"
        elif os.path.isdir(trash):
            shutil.rmtree(staged, ignore_errors=True)
            os.replace(trash, path)
            actions[sub] = "rolled_back"
    return actions
