"""Weather-ingestion parity queries — oracle-checked.

The reference's actual ETL surface (JSON flatten P1/P2/P7/P8/P9,
forecast explode P3/P4, dimension/fact split + dashboard join) run on
**literal API-shaped documents** shared verbatim between the Spark
side (``catalog.local_frame`` → ``from_json``) and the DuckDB oracle
(``VALUES`` → JSON operators), so the whole ingestion path is value-
hash-checked by the driver, independent of the sf tables.

Doc shapes follow the captured payloads at
``notebook/WeatherProject.ipynb:154`` (current, incl. ragged
``rain{1h}``) and ``:361`` (forecast, string ``cod``); the error and
corrupt docs exercise ``dags/etl.py:34-35`` and ``:63-64``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineer_project_weather_analytics_spark.etl import etl_final_state
from data_engineer_project_weather_analytics_spark.operators.upsert import stamp_batch, upsert
from data_engineer_project_weather_analytics_spark.sources.catalog import local_frame
from data_engineer_project_weather_analytics_spark.sources.json_ingest import (
    parse_current,
    parse_forecast,
    to_cities_dim,
    to_current_weather_fact,
    to_forecast_weather_fact,
)


def _current_doc(
    city_id: int,
    name: str,
    country: str,
    temp: float,
    humidity: int,
    dt: int,
    rain: float | None = None,
    gust: float | None = None,
    visibility: int | None = 10000,
    cod: object = 200,
) -> str:
    doc: dict = {
        "coord": {"lon": 105.8412, "lat": 21.0245},
        "weather": [
            {"id": 803, "main": "Clouds", "description": "mây rải rác", "icon": "04d"}
        ],
        "base": "stations",
        "main": {
            "temp": temp,
            "feels_like": temp + 0.5,
            "temp_min": temp - 1.0,
            "temp_max": temp + 1.0,
            "pressure": 1013,
            "humidity": humidity,
        },
        "wind": {"speed": 2.5, "deg": 140},
        "clouds": {"all": 75},
        "dt": dt,
        "sys": {"country": country, "sunrise": dt - 21600, "sunset": dt + 21600},
        "timezone": 25200,
        "id": city_id,
        "name": name,
        "cod": cod,
    }
    if visibility is not None:
        doc["visibility"] = visibility
    if rain is not None:
        doc["rain"] = {"1h": rain}
    if gust is not None:
        doc["wind"]["gust"] = gust
    return json.dumps(doc, ensure_ascii=False)


#: the shared current-weather corpus: 3 valid, 1 API error, 1 corrupt,
#: 1 string-cod (forecast-style inconsistency)
CURRENT_DOCS: tuple[str, ...] = (
    _current_doc(1581130, "Hà Nội", "VN", 22.82, 74, 1764576000, rain=0.11, gust=4.63),
    _current_doc(1583992, "Đà Nẵng", "VN", 27.15, 81, 1764576060, visibility=None),
    _current_doc(1566083, "Ho Chi Minh", "VN", 31.44, 65, 1764576120, gust=6.01),
    json.dumps({"cod": "404", "message": "city not found"}),
    '{"truncated": ',
    _current_doc(1905468, "Cần Thơ", "VN", 29.33, 78, 1764576180, cod="200"),
)


def _forecast_doc(city_id: int, name: str, base_dt: int, steps: int) -> str:
    return json.dumps(
        {
            "cod": "200",
            "message": "0",
            "cnt": steps,
            "list": [
                {
                    "dt": base_dt + i * 10800,
                    "main": {
                        "temp": 20.25 + i,
                        "feels_like": 20.75 + i,
                        "temp_min": 19.25 + i,
                        "temp_max": 21.25 + i,
                        "pressure": 1010 + i,
                        "humidity": 70 + i,
                        "temp_kf": 0.5,
                    },
                    "weather": [
                        {"id": 500, "main": "Rain", "description": "mưa nhẹ", "icon": "10d"}
                    ],
                    "clouds": {"all": 40 + i},
                    "wind": {"speed": 3.25, "deg": 90, "gust": 5.5},
                    "visibility": 10000,
                    "pop": 0.44,
                    "sys": {"pod": "d"},
                    "dt_txt": f"2025-12-01 {(i * 3) % 24:02d}:00:00",
                }
                for i in range(steps)
            ],
            "city": {
                "id": city_id,
                "name": name,
                "coord": {"lat": 21.0245, "lon": 105.8412},
                "country": "VN",
                "population": 1431270,
                "timezone": 25200,
                "sunrise": base_dt - 21600,
                "sunset": base_dt + 21600,
            },
        },
        ensure_ascii=False,
    )


FORECAST_DOCS: tuple[str, ...] = (
    _forecast_doc(1581130, "Hà Nội", 1764576000, 4),
    _forecast_doc(1583992, "Đà Nẵng", 1764576000, 4),
)

#: a refreshed forecast fetch 3 h later: overlaps 3 of Hà Nội's steps
#: (same (city_id, dt) → updated values) and adds one new step —
#: exercises the (city_id, dt)-keyed upsert the reference gets from
#: the forecast_weather PK.
FORECAST_DOCS_R2: tuple[str, ...] = (
    _forecast_doc(1581130, "Hà Nội", 1764576000 + 10800, 4),
)

#: round-2 current-weather fetch: one new reading (new dt), one
#: corrected reading (same (city_id, dt), changed values), one new
#: city, one city rename (cities LWW), one API error (dropped).
CURRENT_DOCS_R2: tuple[str, ...] = (
    _current_doc(1581130, "Hà Nội", "VN", 23.10, 71, 1764579600),
    _current_doc(1583992, "Đà Nẵng", "VN", 26.88, 83, 1764576060, gust=3.9),
    _current_doc(1580578, "Huế", "VN", 24.02, 88, 1764579660, rain=1.2),
    _current_doc(1566083, "Hồ Chí Minh", "VN", 30.91, 68, 1764579720),
    json.dumps({"cod": 429, "message": "rate limited"}),
)


def _raw(spark: SparkSession, docs: tuple[str, ...]) -> DataFrame:
    return local_frame(spark, [(d,) for d in docs], "payload string")


def w_ingest_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P7/P8/P9 + F1: flatten the current-weather corpus; the
    404 and corrupt docs must be dropped, ragged fields NULL."""
    flat = parse_current(_raw(spark, CURRENT_DOCS))
    return flat.select(
        "city_id",
        "city_name",
        "country",
        "dt",
        "weather_id",
        "weather_main",
        "description",
        "temp",
        "humidity",
        "visibility",
        "wind_gust",
        "rain_1h",
    )


def w_ingest_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 + F5: explode forecast steps, parent city fields
    replicated per row."""
    return parse_forecast(_raw(spark, FORECAST_DOCS)).select(
        "city_id",
        "city_name",
        "population",
        "dt",
        "dt_txt",
        "dt_parsed",
        "temp",
        "humidity",
        "pop",
    )


def w_dashboard_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference lifecycle in one plan: flatten → cities dim (A4
    distinct) + fact projection (P5/P6) → dimension join (J1) →
    scorecard rollup (A1) per country."""
    flat = parse_current(_raw(spark, CURRENT_DOCS))
    dim = to_cities_dim(flat)
    fact = to_current_weather_fact(flat)
    joined = fact.join(F.broadcast(dim), "city_id")
    return joined.groupBy("country").agg(
        F.count(F.lit(1)).alias("n_readings"),
        (
            F.sum(F.col("temp").cast("decimal(12,2)")).cast("double")
            / F.count("temp")
        ).alias("avg_temp"),
        F.max("humidity").alias("max_humidity"),
    )


def w_forecast_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecast_weather fact lifecycle: two fetch rounds projected
    onto the 18-column INSERT list (``ipynb:1223-1237``), upserted
    keyed ``(city_id, dt)`` — the refreshed round overwrites the
    overlapping 3-hour steps (K2 semantics on the third table)."""
    b0 = to_forecast_weather_fact(parse_forecast(_raw(spark, FORECAST_DOCS)))
    b1 = to_forecast_weather_fact(parse_forecast(_raw(spark, FORECAST_DOCS_R2)))
    return upsert(
        stamp_batch(b0, 0), stamp_batch(b1, 1), keys=["city_id", "dt"],
        tiebreak=("temp", "pressure", "humidity"),
    )


def etl_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed reference lifecycle (``dags/etl.py:123-140``): two
    fetch rounds, each flatten → cities upsert (K1) → current_weather
    upsert (K2); output is the final fact ⋈ cities state — what
    Postgres holds after the same sequence of transactions."""
    rounds = [_raw(spark, CURRENT_DOCS), _raw(spark, CURRENT_DOCS_R2)]
    return etl_final_state(spark, rounds, cities_mode="upsert")


def _sql_values(docs: tuple[str, ...]) -> str:
    return ", ".join("('" + d.replace("'", "''") + "')" for d in docs)


#: shared JSON-path extraction fragments (DuckDB side).
#: TRY_CAST(payload AS JSON) is the PERMISSIVE-parse analog (NULL on
#: malformed input); TRY_CAST is also used for every scalar extraction
#: because DuckDB's expression rewriter can fold a plain CAST in a
#: multi-predicate WHERE into casting the whole JSON value (observed:
#: "Failed to cast value to numerical: {entire doc}").
_CURRENT_SQL = f"""
        WITH raw(payload) AS (VALUES {_sql_values(CURRENT_DOCS)}),
        js AS (SELECT TRY_CAST(payload AS JSON) AS j FROM raw),
        valid AS (
            SELECT j FROM js
            WHERE j IS NOT NULL
              AND json_extract_string(j, '$.id') IS NOT NULL
              AND TRY_CAST(json_extract_string(j, '$.cod') AS INTEGER) = 200
        )
        SELECT
            TRY_CAST(json_extract_string(j, '$.id') AS BIGINT) AS city_id,
            json_extract_string(j, '$.name') AS city_name,
            json_extract_string(j, '$.sys.country') AS country,
            make_timestamp(TRY_CAST(json_extract_string(j, '$.dt') AS BIGINT) * 1000000) AS dt,
            TRY_CAST(json_extract_string(j, '$.weather[0].id') AS INTEGER) AS weather_id,
            json_extract_string(j, '$.weather[0].main') AS weather_main,
            json_extract_string(j, '$.weather[0].description') AS description,
            TRY_CAST(json_extract_string(j, '$.main.temp') AS DOUBLE) AS temp,
            TRY_CAST(json_extract_string(j, '$.main.humidity') AS INTEGER) AS humidity,
            TRY_CAST(json_extract_string(j, '$.visibility') AS INTEGER) AS visibility,
            TRY_CAST(json_extract_string(j, '$.wind.gust') AS DOUBLE) AS wind_gust,
            TRY_CAST(json_extract_string(j, '$."rain"."1h"') AS DOUBLE) AS rain_1h
        FROM valid
"""

def _current_full_sql(docs: tuple[str, ...], seq: int) -> str:
    """Full fact+dim flatten of a current-weather docs batch, stamped
    with its round sequence — the replay input for upsert oracles."""
    return f"""
        SELECT
            {seq} AS seq,
            TRY_CAST(json_extract_string(j, '$.id') AS BIGINT) AS city_id,
            json_extract_string(j, '$.name') AS city_name,
            json_extract_string(j, '$.sys.country') AS country,
            TRY_CAST(json_extract_string(j, '$.coord.lat') AS DOUBLE) AS coord_lat,
            TRY_CAST(json_extract_string(j, '$.coord.lon') AS DOUBLE) AS coord_lon,
            TRY_CAST(json_extract_string(j, '$.timezone') AS INTEGER) AS timezone,
            make_timestamp(TRY_CAST(json_extract_string(j, '$.dt') AS BIGINT) * 1000000) AS dt,
            TRY_CAST(json_extract_string(j, '$.weather[0].id') AS INTEGER) AS weather_id,
            json_extract_string(j, '$.weather[0].main') AS weather_main,
            json_extract_string(j, '$.weather[0].description') AS description,
            json_extract_string(j, '$.base') AS base,
            TRY_CAST(json_extract_string(j, '$.main.temp') AS DOUBLE) AS temp,
            TRY_CAST(json_extract_string(j, '$.main.feels_like') AS DOUBLE) AS feels_like,
            TRY_CAST(json_extract_string(j, '$.main.temp_min') AS DOUBLE) AS temp_min,
            TRY_CAST(json_extract_string(j, '$.main.temp_max') AS DOUBLE) AS temp_max,
            TRY_CAST(json_extract_string(j, '$.main.pressure') AS INTEGER) AS pressure,
            TRY_CAST(json_extract_string(j, '$.main.humidity') AS INTEGER) AS humidity,
            TRY_CAST(json_extract_string(j, '$.visibility') AS INTEGER) AS visibility,
            TRY_CAST(json_extract_string(j, '$.wind.speed') AS DOUBLE) AS wind_speed,
            TRY_CAST(json_extract_string(j, '$.wind.deg') AS INTEGER) AS wind_deg,
            TRY_CAST(json_extract_string(j, '$.wind.gust') AS DOUBLE) AS wind_gust,
            TRY_CAST(json_extract_string(j, '$.clouds.all') AS INTEGER) AS clouds_all,
            make_timestamp(TRY_CAST(json_extract_string(j, '$.sys.sunrise') AS BIGINT) * 1000000) AS sunrise,
            make_timestamp(TRY_CAST(json_extract_string(j, '$.sys.sunset') AS BIGINT) * 1000000) AS sunset
        FROM (
            SELECT TRY_CAST(payload AS JSON) AS j
            FROM (VALUES {_sql_values(docs)}) AS raw(payload)
        )
        WHERE j IS NOT NULL
          AND json_extract_string(j, '$.id') IS NOT NULL
          AND TRY_CAST(json_extract_string(j, '$.cod') AS INTEGER) = 200
    """


def _forecast_fact_sql(docs: tuple[str, ...], seq: int) -> str:
    """Forecast docs → 18-column forecast_weather rows + round seq.

    TRY_CAST(payload AS JSON) + json_extract_string + TRY_CAST for
    every scalar (the CLAUDE.md DuckDB rule): a plain CAST inside a
    multi-predicate WHERE can be folded onto a malformed doc and error
    the oracle instead of filtering the row."""
    step = "'$.list[' || i || ']"
    return f"""
        SELECT
            {seq} AS seq,
            make_timestamp(TRY_CAST(json_extract_string(j, {step}.dt') AS BIGINT) * 1000000) AS dt,
            json_extract_string(j, {step}.dt_txt') AS dt_txt,
            TRY_CAST(json_extract_string(j, {step}.main.temp') AS DOUBLE) AS temp,
            TRY_CAST(json_extract_string(j, {step}.main.feels_like') AS DOUBLE) AS feels_like,
            TRY_CAST(json_extract_string(j, {step}.main.temp_min') AS DOUBLE) AS temp_min,
            TRY_CAST(json_extract_string(j, {step}.main.temp_max') AS DOUBLE) AS temp_max,
            TRY_CAST(json_extract_string(j, {step}.main.pressure') AS INTEGER) AS pressure,
            TRY_CAST(json_extract_string(j, {step}.main.humidity') AS INTEGER) AS humidity,
            TRY_CAST(json_extract_string(j, {step}.weather[0].id') AS INTEGER) AS weather_id,
            json_extract_string(j, {step}.weather[0].main') AS weather_main,
            json_extract_string(j, {step}.weather[0].description') AS description,
            TRY_CAST(json_extract_string(j, {step}.wind.speed') AS DOUBLE) AS wind_speed,
            TRY_CAST(json_extract_string(j, {step}.wind.deg') AS INTEGER) AS wind_deg,
            TRY_CAST(json_extract_string(j, {step}.wind.gust') AS DOUBLE) AS wind_gust,
            TRY_CAST(json_extract_string(j, {step}.visibility') AS INTEGER) AS visibility,
            TRY_CAST(json_extract_string(j, '$.city.id') AS BIGINT) AS city_id,
            make_timestamp(TRY_CAST(json_extract_string(j, '$.city.sunrise') AS BIGINT) * 1000000) AS sunrise,
            make_timestamp(TRY_CAST(json_extract_string(j, '$.city.sunset') AS BIGINT) * 1000000) AS sunset
        FROM (
            SELECT j,
                   unnest(generate_series(
                       0, TRY_CAST(json_extract_string(j, '$.cnt') AS INTEGER) - 1)) AS i
            FROM (
                SELECT TRY_CAST(payload AS JSON) AS j
                FROM (VALUES {_sql_values(docs)}) AS raw(payload)
            )
            WHERE j IS NOT NULL
              AND TRY_CAST(json_extract_string(j, '$.cod') AS INTEGER) = 200
        )
    """


ORACLES_WEATHER: dict[str, str] = {
    "w_ingest_current": _CURRENT_SQL,
    "w_ingest_forecast": f"""
        WITH raw(payload) AS (VALUES {_sql_values(FORECAST_DOCS)}),
        idx AS (
            SELECT payload,
                   unnest(generate_series(0, CAST(payload->>'$.cnt' AS INTEGER) - 1)) AS i
            FROM raw
            WHERE json_valid(payload) AND CAST(payload->>'$.cod' AS INTEGER) = 200
        )
        SELECT
            CAST(payload->>'$.city.id' AS BIGINT) AS city_id,
            payload->>'$.city.name' AS city_name,
            CAST(payload->>'$.city.population' AS INTEGER) AS population,
            make_timestamp(CAST(payload->>('$.list[' || i || '].dt') AS BIGINT) * 1000000) AS dt,
            payload->>('$.list[' || i || '].dt_txt') AS dt_txt,
            CAST(payload->>('$.list[' || i || '].dt_txt') AS TIMESTAMP) AS dt_parsed,
            CAST(payload->>('$.list[' || i || '].main.temp') AS DOUBLE) AS temp,
            CAST(payload->>('$.list[' || i || '].main.humidity') AS INTEGER) AS humidity,
            CAST(payload->>('$.list[' || i || '].pop') AS DOUBLE) AS pop
        FROM idx
    """,
    "w_dashboard_pipeline": f"""
        WITH flat AS ({_CURRENT_SQL})
        SELECT
            country,
            count(*) AS n_readings,
            CAST(sum(CAST(temp AS DECIMAL(12,2))) AS DOUBLE) / count(temp) AS avg_temp,
            max(humidity) AS max_humidity
        FROM flat
        GROUP BY country
    """,
    "w_forecast_fact": f"""
        WITH all_rows AS (
            {_forecast_fact_sql(FORECAST_DOCS, 0)}
            UNION ALL
            {_forecast_fact_sql(FORECAST_DOCS_R2, 1)}
        )
        SELECT dt, dt_txt, temp, feels_like, temp_min, temp_max,
               pressure, humidity, weather_id, weather_main, description,
               wind_speed, wind_deg, wind_gust, visibility, city_id,
               sunrise, sunset
        FROM all_rows
        QUALIFY row_number() OVER (
            PARTITION BY city_id, dt
            ORDER BY seq DESC, temp DESC, pressure DESC, humidity DESC) = 1
    """,
    "etl_run": f"""
        WITH all_rows AS (
            {_current_full_sql(CURRENT_DOCS, 0)}
            UNION ALL
            {_current_full_sql(CURRENT_DOCS_R2, 1)}
        ),
        fact AS (
            SELECT city_id, dt, weather_id, weather_main, description, base,
                   temp, feels_like, temp_min, temp_max, pressure, humidity,
                   visibility, wind_speed, wind_deg, wind_gust, clouds_all,
                   sunrise, sunset
            FROM all_rows
            QUALIFY row_number() OVER (
                PARTITION BY city_id, dt
                ORDER BY seq DESC, temp DESC, pressure DESC, humidity DESC,
                         weather_id DESC) = 1
        ),
        cities AS (
            SELECT city_id, city_name, country, coord_lat, coord_lon, timezone
            FROM all_rows
            QUALIFY row_number() OVER (
                PARTITION BY city_id
                ORDER BY seq DESC, city_name DESC, country DESC,
                         coord_lat DESC, coord_lon DESC) = 1
        )
        SELECT f.*, c.city_name, c.country, c.coord_lat, c.coord_lon, c.timezone
        FROM fact f JOIN cities c USING (city_id)
    """,
}
