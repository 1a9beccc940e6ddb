"""Keyed upsert semantics on top of append-only storage.

The reference upserts row-at-a-time into Postgres:

* ``INSERT … ON CONFLICT (city_id) DO UPDATE`` — last-write-wins per
  key (K1, ``dags/etl.py:66-81``);
* ``ON CONFLICT (city_id, dt) DO UPDATE`` — composite key (K2,
  ``dags/etl.py:83-121``);
* ``ON CONFLICT DO NOTHING`` — first-write-wins / insert-if-absent
  (K3, ``notebook/WeatherProject.ipynb:682-687``).

Spark has no keyed UPSERT into parquet, so the engine models it as
**append + last-write-wins dedup view** (SURVEY.md §4.2): every batch
is appended with a monotonically increasing ``ingest_seq``; the
canonical view keeps, per key, the row from the highest sequence.  This
is idempotent (re-applying a batch is a no-op) and commutative across
disjoint keys — the two properties the Postgres upsert provides — and
at 100 TB it is strictly more scalable than in-place mutation: appends
are sequential writes, and the dedup is one shuffle on the key, which
AQE handles skew-split.  Periodic :func:`compact` keeps read
amplification bounded.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Hidden bookkeeping column recording batch arrival order.
INGEST_SEQ = "ingest_seq"


def stamp_batch(batch: DataFrame, seq: int) -> DataFrame:
    """Tag a batch with its ingest sequence number."""
    return batch.withColumn(INGEST_SEQ, F.lit(seq).cast("long"))


def latest_write_wins(
    appended: DataFrame,
    keys: Sequence[str],
    seq_col: str = INGEST_SEQ,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Canonical upsert view: per key, the row of the newest batch.

    ``row_number`` (not ``rank``) guarantees exactly one survivor per
    key even when a batch re-delivers the same key twice; ``tiebreak``
    columns make that choice deterministic.
    """
    order = [F.col(seq_col).desc()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        appended.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", seq_col)
    )


def upsert(
    existing: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    seq_col: str = INGEST_SEQ,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """One-shot logical upsert: existing ⊎ batch → last-write-wins.

    ``existing`` and ``batch`` must both carry ``seq_col``; batch rows
    win ties by carrying the higher sequence (K1/K2 semantics).
    """
    return latest_write_wins(
        existing.unionByName(batch), keys, seq_col=seq_col, tiebreak=tiebreak
    )


def insert_if_absent(existing: DataFrame, batch: DataFrame, keys: Sequence[str]) -> DataFrame:
    """K3 / ``ON CONFLICT DO NOTHING``: keep existing, add only new keys.

    The conflict test is a ``left_anti`` join (J2); with a small
    ``existing`` key set Catalyst broadcasts it, so no shuffle of the
    incoming batch.
    """
    fresh = batch.dropDuplicates(list(keys)).join(
        existing.select(*keys), on=list(keys), how="left_anti"
    )
    return existing.unionByName(fresh)


def jdbc_stage(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str],
    mode: str = "append",
    batchsize: int = 10_000,
) -> None:
    """K1 optional parity path: stage a batch into a JDBC table
    (SURVEY §2.2) — the bulk-write complement to the reference's
    row-at-a-time ``cursor.execute`` loop.  Each partition opens one
    connection and writes ``batchsize`` rows per round trip; pair with
    a staging table + server-side ``INSERT … SELECT … ON CONFLICT`` for
    upsert semantics (JDBC itself has no keyed merge).

    Exercised end-to-end in tests/test_jdbc.py against Apache Derby
    (the embedded JDBC database bundled with the Spark distribution):
    stage + server-side MERGE replays the reference's ``ON CONFLICT
    (city_id, dt) DO UPDATE`` (``dags/etl.py:83-121``) and matches the
    engine's own last-write-wins view.  For Postgres deployments see
    :meth:`~data_engineer_project_weather_analytics_spark.sources.config.DbConfig.jdbc_url` /
    ``jdbc_properties`` for the credential plumbing."""
    df.write.option("batchsize", str(batchsize)).jdbc(
        url, table, mode=mode, properties=properties
    )


def postgres_upsert_sql(
    table: str,
    columns: Sequence[str],
    conflict_keys: Sequence[str],
    epoch_ts_cols: Sequence[str] = (),
    schema: str = "public",
    placeholder: str = "%s",
) -> str:
    """The Postgres ``INSERT … ON CONFLICT … DO UPDATE`` statement a
    Postgres deployment executes after :func:`jdbc_stage` — the exact
    dialect text of the reference's row loop (``dags/etl.py:66-121``:
    ``upsert_city`` = single-key, ``upsert_current_weather`` =
    composite ``(city_id, dt)`` with ``to_timestamp(%s)`` on the epoch
    columns), generated from the column list instead of hand-written
    per table.

    ``placeholder`` defaults to psycopg2's ``%s``; pass ``"?"`` to
    replay the same text through a DuckDB/JDBC-style paramstyle (how
    tests/test_jdbc.py executes it for real, since no Postgres exists
    in the sandbox — DuckDB's ON CONFLICT grammar is the Postgres
    one).  Every non-key column takes ``col = EXCLUDED.col``; epoch
    seconds are converted server-side via ``to_timestamp``."""
    if not set(conflict_keys) <= set(columns):
        raise ValueError("conflict keys must be a subset of columns")
    updates = [c for c in columns if c not in conflict_keys]
    if not updates:
        raise ValueError("need at least one non-key column to update")
    values = ", ".join(
        f"to_timestamp({placeholder})" if c in epoch_ts_cols else placeholder
        for c in columns
    )
    set_clauses = ",\n        ".join(f"{c} = EXCLUDED.{c}" for c in updates)
    return (
        f"INSERT INTO {schema}.{table} (\n"
        f"        {', '.join(columns)}\n"
        f"    ) VALUES ({values})\n"
        f"    ON CONFLICT ({', '.join(conflict_keys)}) DO UPDATE SET\n"
        f"        {set_clauses}"
    )


class UpsertTable:
    """A keyed upsert table persisted as append-only parquet.

    Layout: generation directories under ``path/`` —

    * ``path/gen=<N>/``       parquet appends of generation N, each
      write stamped with the next ``ingest_seq``;
    * ``path/_committed_<N>`` empty marker; the LIVE generation is the
      highest committed N.

    ``read_latest()`` returns the canonical last-write-wins view of the
    live generation; ``compact()`` materializes that view into
    generation N+1 and commits it by CREATING ``_committed_<N+1>`` —
    a single atomic file creation, so a crash at ANY point of a
    compaction leaves readers on the old, complete generation (the
    partially-written ``gen=N+1`` directory has no marker and is
    clobbered by the next compact).  No reader ever observes a partial
    canonical view; the double-overwrite swap this replaces had a
    window where the main path held half a snapshot.

    ``keep_generations`` > 1 retains that many committed generations
    after each compaction; ``read_raw(generation=...)`` /
    ``read_latest(generation=...)`` are snapshot (time-travel) reads
    of a retained generation — ``VERSION AS OF`` with storage bounded
    by the retention window.

    Single-writer, like the Postgres connection it models: appends
    during a compaction belong to the generation being retired.  The
    writer remembers the live generation and the next ``ingest_seq``
    after each of its own appends and compactions, so an append does
    not re-scan the store for ``max(ingest_seq)``; a freshly opened
    instance, or one whose remembered generation another instance has
    since compacted away, scans once.  A second instance appending to
    the same generation breaks that memory, as it would break the
    single-writer contract anyway.  At
    scale the store would additionally be partitioned by a date derived
    from the event time (``partition_cols``) so readers prune; the
    dedup shuffle only touches partitions a batch actually wrote.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        partition_cols: Sequence[str] = (),
        keep_generations: int = 1,
    ) -> None:
        if keep_generations < 1:
            raise ValueError("keep_generations must be >= 1")
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.partition_cols = list(partition_cols)
        self.keep_generations = keep_generations
        #: ``(live generation, next ingest_seq)`` as this writer left
        #: it; None until an append or compaction has established it.
        self._seq_memo: tuple[int, int] | None = None
        #: Retired paths a compaction failed to delete.
        self.cleanup_failures: list[str] = []

    # -- generation bookkeeping (Hadoop FS: works for any scheme) ----

    def _fs(self):
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        base = jvm.org.apache.hadoop.fs.Path(self.path)
        return base.getFileSystem(conf), jvm

    def generations(self) -> list[int]:
        """Committed generations still on disk, oldest first — the
        readable snapshot history (length bounded by
        ``keep_generations`` + the live one mid-compact)."""
        fs, jvm = self._fs()
        base = jvm.org.apache.hadoop.fs.Path(self.path)
        if not fs.exists(base):
            return []
        gens = []
        for st in fs.listStatus(base):
            name = st.getPath().getName()
            if name.startswith("_committed_"):
                gens.append(int(name[len("_committed_"):]))
        return sorted(gens)

    def _generation(self) -> int | None:
        """Highest committed generation, or None before the first
        append's commit marker lands."""
        gens = self.generations()
        return gens[-1] if gens else None

    def _commit_generation(self, n: int) -> None:
        """THE atomic commit point: an empty marker file either exists
        or it doesn't."""
        fs, jvm = self._fs()
        marker = jvm.org.apache.hadoop.fs.Path(f"{self.path}/_committed_{n}")
        fs.create(marker, True).close()

    def _gen_dir(self, n: int) -> str:
        return f"{self.path}/gen={n}"

    def _remembered_seq(self, gen: int | None) -> int | None:
        """The next ``ingest_seq`` of live generation ``gen`` if this
        writer knows it without a scan, else None."""
        if gen is None:
            return 0
        if self._seq_memo is not None and self._seq_memo[0] == gen:
            return self._seq_memo[1]
        return None

    def _scan_next_seq(self, gen: int) -> int:
        row = (
            self.spark.read.parquet(self._gen_dir(gen))
            .agg(F.max(INGEST_SEQ))
            .first()
        )
        return 0 if row[0] is None else int(row[0]) + 1

    def append_batch(self, batch: DataFrame, seq: int | None = None) -> int:
        """Append one upsert batch; returns the sequence it was given.

        Without ``seq`` the batch gets the next sequence of the live
        generation — remembered from this writer's last append or
        compaction, scanned only when the live generation has changed
        under it.  An explicit ``seq`` raises the remembered next
        sequence to at least ``seq + 1``.

        Rows written are observed in-flight (K5 audit — see
        operators/observe.py) and exposed as ``self.last_metrics``."""
        from data_engineer_project_weather_analytics_spark.operators.observe import with_write_metrics

        gen = self._generation()  # the one directory listing per append
        known = self._remembered_seq(gen)
        if seq is None:
            seq = known if known is not None else self._scan_next_seq(gen)
            known = seq
        stamped, obs = with_write_metrics(stamp_batch(batch, seq))
        writer = stamped.write.mode("append")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(self._gen_dir(gen if gen is not None else 0))
        if gen is None:
            gen = 0
            self._commit_generation(gen)
        self._seq_memo = None if known is None else (gen, max(known, seq + 1))
        self.last_metrics = obs.get
        return seq

    def read_raw(self, generation: int | None = None) -> DataFrame:
        """Raw appended rows of one generation (default: the live
        one).  Passing a retained older generation is a SNAPSHOT read:
        a generation freezes when a compaction retires it, so the
        result is the table AS OF that compaction — Delta/Iceberg
        ``VERSION AS OF`` at compaction granularity, with storage
        bounded by ``keep_generations``."""
        live = self._generation()
        if live is None:
            raise FileNotFoundError(
                f"upsert table has no committed generation: {self.path}"
            )
        if generation is None:
            generation = live
        elif generation not in self.generations():
            raise FileNotFoundError(
                f"generation {generation} is not committed/retained "
                f"(have {self.generations()}): {self.path}"
            )
        return self.spark.read.parquet(self._gen_dir(generation))

    def read_latest(self, generation: int | None = None) -> DataFrame:
        """The canonical view — what Postgres would contain after the
        same sequence of upserts.  With ``generation``, the canonical
        view AS OF that retained snapshot."""
        return latest_write_wins(self.read_raw(generation), self.keys)

    def compact(self) -> None:
        """Materialize the canonical view into the next generation
        (bounded read amp), with a crash-atomic commit.

        The rewrite restarts sequences at 0; correctness is unaffected
        because the surviving rows are exactly the canonical set.
        """
        cur = self._generation()
        if cur is None:
            return
        # sort by key within partitions so parquet row-group min/max
        # stats become selective — point lookups and key-range scans
        # prune row groups after compaction
        snapshot = stamp_batch(
            self.read_latest().sortWithinPartitions(*self.keys), 0
        )
        new = cur + 1
        writer = snapshot.write.mode("overwrite")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(self._gen_dir(new))
        self._commit_generation(new)  # readers switch here, atomically
        self._seq_memo = (new, 1)  # the snapshot is stamped seq 0
        # retire generations beyond the retention window: readers never
        # see a failed cleanup (marker-max readers never look at retired
        # generations; snapshot readers see only retained ones), so it
        # is recorded in cleanup_failures and warned about, not raised
        for old in self.generations():
            if old <= new - self.keep_generations:
                self._delete_path(f"{self.path}/_committed_{old}")
                self._delete_path(self._gen_dir(old))

    def _delete_path(self, path: str) -> None:
        """Remove a retired directory via Hadoop FS (any scheme); a
        failure is recorded in ``cleanup_failures`` and warned about."""
        try:
            fs, jvm = self._fs()
            target = jvm.org.apache.hadoop.fs.Path(path)
            if fs.delete(target, True) or not fs.exists(target):
                return
            reason = "delete returned false"
        except Py4JJavaError as e:
            reason = e.java_exception.toString()
        self.cleanup_failures.append(path)
        warnings.warn(
            f"upsert table cleanup left {path} behind: {reason}",
            RuntimeWarning,
            stacklevel=3,
        )
