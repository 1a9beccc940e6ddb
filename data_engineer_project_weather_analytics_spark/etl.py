"""The reference's end-to-end ETL lifecycle, composed from the engine's
operators (``dags/etl.py:123-140``):

    for each fetch round:  fetch → flatten → upsert cities
                           → upsert current_weather   (one transaction)

Spark-first shape: a *round* is one DataFrame of raw JSON payloads (the
injectable fetch — a REST ``mapInPandas`` source in production, literal
docs in tests), flattened once, then split into the cities dimension
and the current_weather fact, each appended to its keyed
:class:`~data_engineer_project_weather_analytics_spark.operators.upsert.UpsertTable`.
One fetch per round feeds both tables, as in the reference, which
upserts both from the same response dict (``dags/etl.py:127-136``): the
flattened round is persisted for the two appends, so the lazy fetch
runs once per city per round and both tables see the same answer.
The reference's row-at-a-time ``ON CONFLICT DO UPDATE`` loop becomes
one batch append + last-write-wins view per table — same final state,
one shuffle per read instead of |rows| round-trips.

Cities semantics differ between the two reference frontends:
``dags/etl.py:66-81`` upserts (``DO UPDATE`` — a rename propagates),
while ``notebook/WeatherProject.ipynb:682-687`` inserts-if-absent
(``DO NOTHING``).  ``cities_mode`` selects which to replay.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from data_engineer_project_weather_analytics_spark.operators.upsert import (
    INGEST_SEQ,
    UpsertTable,
    latest_write_wins,
    stamp_batch,
    upsert,
)
from data_engineer_project_weather_analytics_spark.sources.json_ingest import (
    parse_current,
    to_cities_dim,
    to_current_weather_fact,
)

#: Deterministic survivor choice when one fetch round carries two
#: different rows for the same key (duplicate city reading in a batch):
#: without a tiebreak both Spark's row_number and the DuckDB replay pick
#: an arbitrary row and can diverge.  Columns are typed payload fields
#: extracted identically by both engines; the oracle mirrors them in its
#: window ORDER BY (desc = NULLS LAST in both engines' defaults).
CITIES_TIEBREAK = ("city_name", "country", "coord_lat", "coord_lon")
CURRENT_FACT_TIEBREAK = ("temp", "pressure", "humidity", "weather_id")


def first_write_wins(
    appended: DataFrame, keys: list[str], tiebreak: tuple[str, ...] = ()
) -> DataFrame:
    """Insert-if-absent view over an append+sequence store: per key,
    the row of the OLDEST batch (``ON CONFLICT DO NOTHING`` semantics
    — notebook cell 19).  ``tiebreak`` columns make the survivor
    deterministic if one batch ever carries two rows for a key."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(INGEST_SEQ).asc(), *[F.col(c).desc() for c in tiebreak]
    )
    return (
        appended.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", INGEST_SEQ)
    )


def _views(cities_mode: str):
    """Validate ``cities_mode`` and return the view policy shared by
    :func:`run_etl` and :func:`etl_final_state`:
    ``views(cities_raw, cities_keys, fact_raw, fact_keys)`` folds the
    stamped rows into the canonical ``(cities, current_weather)`` pair —
    cities by ``cities_mode`` (``"upsert"``: last write wins;
    ``"insert_if_absent"``: first write wins), the fact always last
    write wins, each with its deterministic tiebreak."""
    folds = {"upsert": latest_write_wins, "insert_if_absent": first_write_wins}
    if cities_mode not in folds:
        raise ValueError(f"unknown cities_mode: {cities_mode!r}")
    cities_fold = folds[cities_mode]

    def views(cities_raw, cities_keys, fact_raw, fact_keys):
        return (
            cities_fold(cities_raw, cities_keys, tiebreak=CITIES_TIEBREAK),
            latest_write_wins(fact_raw, fact_keys, tiebreak=CURRENT_FACT_TIEBREAK),
        )

    return views


def run_etl(
    spark: SparkSession,
    fetch_rounds: Iterable[DataFrame],
    cities_table: UpsertTable,
    current_table: UpsertTable,
    cities_mode: str = "upsert",
) -> tuple[DataFrame, DataFrame]:
    """Replay the reference lifecycle over ``fetch_rounds`` (each a
    DataFrame with a ``payload`` string column) into two persistent
    upsert tables.  Returns the canonical ``(cities, current_weather)``
    views — what Postgres would contain after the same sequence.

    Each round is one append per table (the reference's per-round
    transaction); re-running a round re-appends it, and last-write-wins
    makes that idempotent — the exactly-once story the reference gets
    from Postgres PKs.

    One fetch per round feeds both tables (``dags/etl.py:127-136``):
    the round's flattened rows are persisted (memory, spilling to disk)
    for the two appends and unpersisted after them, so the cities
    append runs the fetch and the fact append reads the cached rows.
    """
    views = _views(cities_mode)
    for raw in fetch_rounds:
        flat = parse_current(raw).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            cities_table.append_batch(to_cities_dim(flat))
            current_table.append_batch(to_current_weather_fact(flat))
        finally:
            flat.unpersist()
    return views(
        cities_table.read_raw(), cities_table.keys,
        current_table.read_raw(), current_table.keys,
    )


def etl_final_state(
    spark: SparkSession,
    rounds: Iterable[DataFrame],
    cities_mode: str = "upsert",
) -> DataFrame:
    """Pure-logical (storage-free) replay of :func:`run_etl`: the final
    ``current_weather ⋈ cities`` state after applying every round in
    order — the oracle-checkable form of the lifecycle.

    The dimension view is broadcast onto the fact (J1 shape); both
    views are last-write-wins folds over the stamped round union, so
    the plan is two keyed window shuffles + one broadcast join
    regardless of round count.  An unknown ``cities_mode`` raises
    ``ValueError``, as in :func:`run_etl`."""
    views = _views(cities_mode)
    flats = [parse_current(raw) for raw in rounds]

    def stamped(table: Callable[[DataFrame], DataFrame]) -> DataFrame:
        return reduce(
            DataFrame.unionByName,
            (stamp_batch(table(flat), seq) for seq, flat in enumerate(flats)),
        )

    cities, fact = views(
        stamped(to_cities_dim), ["city_id"],
        stamped(to_current_weather_fact), ["city_id", "dt"],
    )
    return fact.join(F.broadcast(cities), "city_id")


__all__ = [
    "run_etl",
    "etl_final_state",
    "first_write_wins",
    "upsert",
]
