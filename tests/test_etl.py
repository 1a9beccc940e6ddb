"""End-to-end ETL lifecycle vs a Postgres-semantics replay.

The reference's ``main()`` (``dags/etl.py:123-140``) loops fetch →
``INSERT … ON CONFLICT DO UPDATE`` into cities + current_weather.
Here the same two fetch rounds run through :func:`run_etl` (append +
last-write-wins UpsertTables) AND through a literal row-at-a-time
``ON CONFLICT`` replay in DuckDB; the stored canonical views must
match the replayed tables exactly (SURVEY.md §5.2 item 3).
"""

from __future__ import annotations

import duckdb
import pytest

from data_engineer_project_weather_analytics_spark.etl import run_etl
from data_engineer_project_weather_analytics_spark.operators.upsert import UpsertTable
from data_engineer_project_weather_analytics_spark.plans.weather import (
    CURRENT_DOCS,
    CURRENT_DOCS_R2,
    FORECAST_DOCS,
    FORECAST_DOCS_R2,
    _current_full_sql,
    _forecast_fact_sql,
    _raw,
)
from data_engineer_project_weather_analytics_spark.sources.json_ingest import (
    parse_forecast,
    to_forecast_weather_fact,
)

from .conftest import assert_parity

_CITIES_DDL = """
    CREATE TABLE cities (
        city_id BIGINT PRIMARY KEY, city_name VARCHAR, country VARCHAR,
        coord_lat DOUBLE, coord_lon DOUBLE, timezone INTEGER)
"""
_CURRENT_DDL = """
    CREATE TABLE current_weather (
        city_id BIGINT, dt TIMESTAMP, weather_id INTEGER,
        weather_main VARCHAR, description VARCHAR, base VARCHAR,
        temp DOUBLE, feels_like DOUBLE, temp_min DOUBLE, temp_max DOUBLE,
        pressure INTEGER, humidity INTEGER, visibility INTEGER,
        wind_speed DOUBLE, wind_deg INTEGER, wind_gust DOUBLE,
        clouds_all INTEGER, sunrise TIMESTAMP, sunset TIMESTAMP,
        PRIMARY KEY (city_id, dt))
"""
_UPSERT_CITY = """
    INSERT INTO cities VALUES (?, ?, ?, ?, ?, ?)
    ON CONFLICT (city_id) DO UPDATE SET
        city_name = EXCLUDED.city_name, country = EXCLUDED.country,
        coord_lat = EXCLUDED.coord_lat, coord_lon = EXCLUDED.coord_lon,
        timezone = EXCLUDED.timezone
"""
_UPSERT_CURRENT = """
    INSERT INTO current_weather
    VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)
    ON CONFLICT (city_id, dt) DO UPDATE SET
        weather_id = EXCLUDED.weather_id, weather_main = EXCLUDED.weather_main,
        description = EXCLUDED.description, base = EXCLUDED.base,
        temp = EXCLUDED.temp, feels_like = EXCLUDED.feels_like,
        temp_min = EXCLUDED.temp_min, temp_max = EXCLUDED.temp_max,
        pressure = EXCLUDED.pressure, humidity = EXCLUDED.humidity,
        visibility = EXCLUDED.visibility, wind_speed = EXCLUDED.wind_speed,
        wind_deg = EXCLUDED.wind_deg, wind_gust = EXCLUDED.wind_gust,
        clouds_all = EXCLUDED.clouds_all, sunrise = EXCLUDED.sunrise,
        sunset = EXCLUDED.sunset
"""


@pytest.fixture()
def replay_con():
    con = duckdb.connect()
    con.execute(_CITIES_DDL)
    con.execute(_CURRENT_DDL)
    # the reference's row-at-a-time transaction loop, verbatim semantics
    for seq, docs in enumerate([CURRENT_DOCS, CURRENT_DOCS_R2]):
        # _current_full_sql row layout:
        # 0 seq | 1-6 dim (city_id..timezone) | 7 dt | 8-23 fact tail
        for r in con.execute(_current_full_sql(docs, seq)).fetchall():
            con.execute(_UPSERT_CITY, list(r[1:7]))
            con.execute(_UPSERT_CURRENT, [r[1], r[7], *r[8:25]])
    yield con
    con.close()


def _tables(spark, tmp_path):
    cities = UpsertTable(spark, str(tmp_path / "cities"), keys=["city_id"])
    current = UpsertTable(spark, str(tmp_path / "current"), keys=["city_id", "dt"])
    return cities, current


def test_run_etl_matches_on_conflict_replay(spark, tmp_path, replay_con):
    rounds = [_raw(spark, CURRENT_DOCS), _raw(spark, CURRENT_DOCS_R2)]
    cities_t, current_t = _tables(spark, tmp_path)
    cities, current = run_etl(spark, rounds, cities_t, current_t)
    assert_parity(cities, replay_con, "SELECT * FROM cities", "etl cities")
    assert_parity(
        current, replay_con, "SELECT * FROM current_weather", "etl current_weather"
    )


def test_run_etl_redelivery_idempotent(spark, tmp_path, replay_con):
    """Re-delivering round 2 (the at-least-once failure mode) must not
    change the canonical state — the exactly-once property the
    reference gets from Postgres PKs."""
    rounds = [_raw(spark, CURRENT_DOCS), _raw(spark, CURRENT_DOCS_R2)]
    cities_t, current_t = _tables(spark, tmp_path)
    run_etl(spark, rounds, cities_t, current_t)
    cities, current = run_etl(
        spark, [_raw(spark, CURRENT_DOCS_R2)], cities_t, current_t
    )
    assert_parity(cities, replay_con, "SELECT * FROM cities", "redelivered cities")
    assert_parity(
        current,
        replay_con,
        "SELECT * FROM current_weather",
        "redelivered current_weather",
    )


def test_run_etl_fetches_each_city_once(spark, tmp_path):
    """The reference makes one GET per city per round and upserts both
    tables from that one answer (``dags/etl.py:127-136``).  Every call
    of this fetch answers differently — call k reports ``temp = k`` and
    a name ending in ``k`` — so a second fetch of a city shows up in
    the call log and splits its cities row from its current_weather
    row."""
    import fcntl

    from pyspark.sql import Row

    from data_engineer_project_weather_analytics_spark.plans.weather import (
        _current_doc,
    )
    from data_engineer_project_weather_analytics_spark.sources.rest import (
        fetch_payloads,
    )

    ids = {"Hanoi": 1581130, "Da Nang": 1583992, "Hue": 1580578, "Can Tho": 1905468}
    log = str(tmp_path / "fetches.log")

    def fetch_fn_for(round_no):
        def fetch(city):
            with open(log, "a+") as f:  # append + count under one lock
                fcntl.flock(f, fcntl.LOCK_EX)
                f.write(f"{round_no}\t{city}\n")
                f.flush()
                f.seek(0)
                k = len(f.readlines())
            return _current_doc(
                ids[city], f"{city} {k}", "VN", float(k), 70, 1764576000
            )

        return fetch

    cities_df = spark.createDataFrame([Row(city=c) for c in ids], schema="city string")
    rounds = [
        fetch_payloads(cities_df, fetch_fn=fetch_fn_for(r), delay_s=0.0)
        for r in range(2)
    ]
    cities_t, current_t = _tables(spark, tmp_path)
    cities, current = run_etl(spark, rounds, cities_t, current_t)

    with open(log) as f:
        calls = [tuple(line.rstrip("\n").split("\t")) for line in f]
    assert sorted(calls) == sorted((str(r), c) for r in range(2) for c in ids)

    names = {r.city_id: r.city_name for r in cities.collect()}
    temps = {r.city_id: r.temp for r in current.collect()}
    assert names.keys() == temps.keys() == set(ids.values())
    for city_id, name in names.items():
        assert name.endswith(f" {int(temps[city_id])}"), (name, temps[city_id])


def test_run_etl_cities_insert_if_absent_mode(spark, tmp_path):
    """notebook-cell-19 semantics (ON CONFLICT DO NOTHING): the round-2
    rename of Hồ Chí Minh must NOT propagate."""
    rounds = [_raw(spark, CURRENT_DOCS), _raw(spark, CURRENT_DOCS_R2)]
    cities_t, current_t = _tables(spark, tmp_path)
    cities, _ = run_etl(
        spark, rounds, cities_t, current_t, cities_mode="insert_if_absent"
    )
    names = {r["city_id"]: r["city_name"] for r in cities.collect()}
    assert names[1566083] == "Ho Chi Minh"  # round-1 spelling kept
    assert names[1580578] == "Huế"  # round-2 new city still inserted


def test_forecast_fact_upsert_matches_replay(spark, tmp_path):
    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE forecast_weather (
            dt TIMESTAMP, dt_txt VARCHAR, temp DOUBLE, feels_like DOUBLE,
            temp_min DOUBLE, temp_max DOUBLE, pressure INTEGER,
            humidity INTEGER, weather_id INTEGER, weather_main VARCHAR,
            description VARCHAR, wind_speed DOUBLE, wind_deg INTEGER,
            wind_gust DOUBLE, visibility INTEGER, city_id BIGINT,
            sunrise TIMESTAMP, sunset TIMESTAMP,
            PRIMARY KEY (city_id, dt))
        """
    )
    upsert_sql = """
        INSERT INTO forecast_weather
        VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)
        ON CONFLICT (city_id, dt) DO UPDATE SET
            dt_txt = EXCLUDED.dt_txt, temp = EXCLUDED.temp,
            feels_like = EXCLUDED.feels_like, temp_min = EXCLUDED.temp_min,
            temp_max = EXCLUDED.temp_max, pressure = EXCLUDED.pressure,
            humidity = EXCLUDED.humidity, weather_id = EXCLUDED.weather_id,
            weather_main = EXCLUDED.weather_main,
            description = EXCLUDED.description,
            wind_speed = EXCLUDED.wind_speed, wind_deg = EXCLUDED.wind_deg,
            wind_gust = EXCLUDED.wind_gust, visibility = EXCLUDED.visibility,
            sunrise = EXCLUDED.sunrise, sunset = EXCLUDED.sunset
    """
    for seq, docs in enumerate([FORECAST_DOCS, FORECAST_DOCS_R2]):
        for r in con.execute(_forecast_fact_sql(docs, seq)).fetchall():
            con.execute(upsert_sql, list(r[1:]))

    table = UpsertTable(
        spark, str(tmp_path / "forecast"), keys=["city_id", "dt"]
    )
    for docs in (FORECAST_DOCS, FORECAST_DOCS_R2):
        table.append_batch(
            to_forecast_weather_fact(parse_forecast(_raw(spark, docs)))
        )
    # 2 cities × 4 steps + 1 genuinely new step from the refresh
    latest = table.read_latest()
    assert latest.count() == 9
    assert_parity(
        latest, con, "SELECT * FROM forecast_weather", "forecast_weather"
    )
    con.close()


def test_duplicate_key_in_one_batch_survivor_is_deterministic(spark):
    """If a single fetch round carries TWO different rows for the same
    key (duplicate city reading in a batch), the surviving row must be
    chosen deterministically — same seq on both rows means the window
    would otherwise pick whichever row the shuffle happened to order
    first, and could diverge from the DuckDB replay run-to-run."""
    import json

    from data_engineer_project_weather_analytics_spark.etl import etl_final_state

    base = json.loads(CURRENT_DOCS[0])
    hot = json.loads(CURRENT_DOCS[0])
    hot["main"]["temp"] = base["main"]["temp"] + 5.0  # same id, same dt
    dup_round = _raw(spark, (json.dumps(base), json.dumps(hot)))

    results = [
        {
            (r["city_id"], r["dt"]): r["temp"]
            for r in etl_final_state(spark, [dup_round]).collect()
        }
        for _ in range(2)
    ]
    assert results[0] == results[1]
    # the tiebreak (temp DESC first) must keep the hotter reading
    assert list(results[0].values()) == [hot["main"]["temp"]]


def test_unknown_cities_mode_raises_in_both_replays(spark, tmp_path):
    """``run_etl`` and its storage-free twin ``etl_final_state`` share
    one view policy: a misspelled ``cities_mode`` is an error in both,
    never a silent fall-through to insert-if-absent semantics."""
    from data_engineer_project_weather_analytics_spark.etl import etl_final_state

    rounds = [_raw(spark, CURRENT_DOCS)]
    with pytest.raises(ValueError, match="bogus"):
        etl_final_state(spark, rounds, cities_mode="bogus")
    cities_t, current_t = _tables(spark, tmp_path)
    with pytest.raises(ValueError, match="bogus"):
        run_etl(spark, rounds, cities_t, current_t, cities_mode="bogus")
