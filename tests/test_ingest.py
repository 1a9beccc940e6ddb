"""Ingestion tests: from_json flatten (P1-P9) and forecast explode
(P3/P4) against API-shaped fixture documents (FIXTURES.md table 4;
shapes from notebook/WeatherProject.ipynb:154,361)."""

from __future__ import annotations

import json

from pyspark.sql import Row

from data_engineer_project_weather_analytics_spark.sources.json_ingest import (
    parse_current,
    parse_forecast,
    to_cities_dim,
    to_current_weather_fact,
)
from data_engineer_project_weather_analytics_spark.sources.rest import fetch_payloads


def _current_doc(city_id=1581130, name="Hà Nội", rain=None, gust=4.63, cod=200):
    doc = {
        "coord": {"lon": 105.8412, "lat": 21.0245},
        "weather": [{"id": 803, "main": "Clouds", "description": "mây rải rác", "icon": "04d"}],
        "base": "stations",
        "main": {
            "temp": 22.82,
            "feels_like": 23.1,
            "temp_min": 21.9,
            "temp_max": 23.8,
            "pressure": 1013,
            "humidity": 74,
        },
        "visibility": 10000,
        "wind": {"speed": 2.5, "deg": 140},
        "clouds": {"all": 75},
        "dt": 1764576000,
        "sys": {"country": "VN", "sunrise": 1764541200, "sunset": 1764580800},
        "timezone": 25200,
        "id": city_id,
        "name": name,
        "cod": cod,
    }
    if rain is not None:
        doc["rain"] = {"1h": rain}
    if gust is not None:
        doc["wind"]["gust"] = gust
    return json.dumps(doc, ensure_ascii=False)


def _forecast_doc(city_id=1581130, steps=5):
    return json.dumps(
        {
            "cod": "200",  # string on the forecast endpoint (ipynb:361)
            "message": "0",
            "cnt": steps,
            "list": [
                {
                    "dt": 1764576000 + i * 10800,
                    "main": {
                        "temp": 20.0 + i,
                        "feels_like": 20.5 + i,
                        "temp_min": 19.0 + i,
                        "temp_max": 21.0 + i,
                        "pressure": 1010 + i,
                        "humidity": 70 + i,
                        "temp_kf": 0.5,
                    },
                    "weather": [
                        {"id": 500, "main": "Rain", "description": "mưa nhẹ", "icon": "10d"}
                    ],
                    "clouds": {"all": 40 + i},
                    "wind": {"speed": 3.0, "deg": 90, "gust": 5.0},
                    "visibility": 10000,
                    "pop": 0.4,
                    "sys": {"pod": "d"},
                    "dt_txt": f"2025-12-01 {i*3:02d}:00:00",
                }
                for i in range(steps)
            ],
            "city": {
                "id": city_id,
                "name": "Hà Nội",
                "coord": {"lat": 21.0245, "lon": 105.8412},
                "country": "VN",
                "population": 1431270,
                "timezone": 25200,
                "sunrise": 1764541200,
                "sunset": 1764580800,
            },
        },
        ensure_ascii=False,
    )


def _raw_df(spark, payloads):
    return spark.createDataFrame([Row(payload=p) for p in payloads])


def test_parse_current_happy_path(spark):
    raw = _raw_df(spark, [_current_doc(rain=0.11)])
    rows = parse_current(raw).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.city_id == 1581130
    assert r.city_name == "Hà Nội"
    assert r.description == "mây rải rác"  # non-ASCII survives
    assert r.temp == 22.82
    assert r.rain_1h == 0.11
    assert r.wind_gust == 4.63
    assert str(r.dt) == "2025-12-01 08:00:00"  # epoch 1764576000 UTC


def test_parse_current_drops_errors_and_corrupt(spark):
    raw = _raw_df(
        spark,
        [
            _current_doc(),
            json.dumps({"cod": "404", "message": "city not found"}),  # P7
            '{"truncated": ',  # P8: corrupt JSON
            _current_doc(city_id=1583992, name="Đà Nẵng", cod=200),
        ],
    )
    rows = parse_current(raw).collect()
    assert sorted(r.city_id for r in rows) == [1581130, 1583992]


def test_parse_current_ragged_nulls(spark):
    # no rain, no gust → NULLs (P9), row still parses
    raw = _raw_df(spark, [_current_doc(rain=None, gust=None)])
    r = parse_current(raw).collect()[0]
    assert r.rain_1h is None
    assert r.wind_gust is None


def test_parse_forecast_explodes_steps(spark):
    raw = _raw_df(spark, [_forecast_doc(steps=5), _forecast_doc(city_id=2, steps=5)])
    df = parse_forecast(raw)
    rows = df.collect()
    assert len(rows) == 10  # P3: 5 steps × 2 cities
    assert {r.city_id for r in rows} == {1581130, 2}  # P4: parent replicated
    one = [r for r in rows if r.city_id == 1581130 and r.dt_txt == "2025-12-01 00:00:00"][0]
    assert one.temp == 20.0
    assert one.population == 1431270
    assert str(one.dt_parsed) == "2025-12-01 00:00:00"  # F5


def test_fact_and_dim_projection(spark):
    raw = _raw_df(spark, [_current_doc(), _current_doc()])  # duplicate city
    flat = parse_current(raw)
    fact = to_current_weather_fact(flat)
    assert fact.columns[:2] == ["city_id", "dt"]
    assert "city_name" not in fact.columns  # P5: dimension cols dropped
    dim = to_cities_dim(flat)
    assert dim.count() == 1  # A4: distinct
    assert dim.columns == ["city_id", "city_name", "country", "coord_lat", "coord_lon", "timezone"]


def test_rest_fetch_injectable_and_error_drop(spark):
    cities = spark.createDataFrame([Row(city=c) for c in ["Hanoi", "Boom", "Hue"]])

    def fake_fetch(city):
        if city == "Boom":
            raise RuntimeError("HTTP 500")
        return _current_doc(name=city)

    out = fetch_payloads(cities, fetch_fn=fake_fetch, delay_s=0.0).collect()
    by_city = {r.city: r.payload for r in out}
    assert by_city["Boom"] is None  # P8: error → NULL, not failure
    assert by_city["Hanoi"] is not None
    # end-to-end: payloads → flatten drops the failed row
    parsed = parse_current(fetch_payloads(cities, fetch_fn=fake_fetch, delay_s=0.0))
    assert parsed.count() == 2


def test_engine_config_from_env_and_redaction(spark):
    from data_engineer_project_weather_analytics_spark.sources.config import EngineConfig, _assert_no_secret_in_repr

    env = {
        "WEATHER_API_KEY": "sk-supersecret-123",
        "DB_HOST": "db.example.com",
        "DB_NAME": "weather",
        "DB_USER": "etl",
        "DB_PASSWORD": "hunter2-secret",
        "WEATHER_FETCH_DELAY_S": "0.1",
    }
    cfg = EngineConfig.from_env(env)
    assert cfg.db.host == "db.example.com"
    assert cfg.fetch_delay_s == 0.1
    assert cfg.db.jdbc_url() == (
        "jdbc:postgresql://db.example.com/weather?sslmode=require"
    )
    # secrets are present on the object but NEVER in any repr/str
    assert cfg.api_key == "sk-supersecret-123"
    assert cfg.db.password == "hunter2-secret"
    _assert_no_secret_in_repr(cfg)
    assert "hunter2" not in repr(cfg) + str(cfg) + repr(cfg.db)
    # apply() plants only non-secret knobs on the session
    cfg.apply(spark)
    assert spark.conf.get("spark.data_engineer_project_weather_analytics_spark.fetch_delay_s") == "0.1"
    # no engine conf value may carry a secret (regression gate for a
    # future apply() accidentally planting credentials)
    for key in (
        "fetch_delay_s", "api_units", "api_lang", "api_timeout_s",
        "api_key", "password",
    ):
        val = spark.conf.get(f"spark.data_engineer_project_weather_analytics_spark.{key}", "") or ""
        assert cfg.api_key not in val and cfg.db.password not in val


def test_gopher_signals_values(spark):
    from data_engineer_project_weather_analytics_spark.operators.text import gopher_signals

    df = spark.createDataFrame(
        [(1, "aa bb aa aa"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_signals(df, "doc_id", "text").collect()}
    # doc 1: 4 tokens, 2 distinct, top token 'aa' ×3
    assert rows[1].distinct_token_ratio == 0.5
    assert rows[1].top_token_ratio == 0.75
    assert not rows[1].gopher_pass  # dominated by one token
    # doc 2: all distinct
    assert rows[2].distinct_token_ratio == 1.0
    assert rows[2].top_token_ratio == 0.2


def test_gopher_top_token_ratio_matches_counter_on_random_docs(spark):
    import collections
    import random

    from data_engineer_project_weather_analytics_spark.operators.text import gopher_signals

    rng = random.Random(7)
    docs = [
        (i, " ".join(rng.choice(["a", "bb", "ccc", "d", "e"]) for _ in range(rng.randint(1, 40))))
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in gopher_signals(df, "doc_id", "text").collect()}
    for i, text in docs:
        toks = text.split(" ")
        expected = max(collections.Counter(toks).values()) / len(toks)
        assert rows[i].top_token_ratio == expected, (i, text)


def test_gopher_signals_bounded_on_pathological_long_doc(spark):
    """100k tokens, ~50k distinct: the naive distinct×filter scan is
    ~5e9 comparisons per row; the sorted-run form must finish in
    seconds."""
    import time

    from data_engineer_project_weather_analytics_spark.operators.text import gopher_signals

    n_unique, n_common = 100_000, 50
    text = " ".join(
        ["common"] * n_common + [f"w{i}" for i in range(n_unique)]
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    t0 = time.time()
    row = gopher_signals(df, "doc_id", "text").collect()[0]
    assert time.time() - t0 < 30
    assert row.top_token_ratio == n_common / (n_common + n_unique)


def test_redact_pii_order_and_counts(spark):
    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.operators.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [(1, "mail a@b.io ip 1.2.3.4 ssn 111-22-3333 tel +12345678901")],
        "id long, text string",
    )
    row = df.select(
        redact_pii("text").alias("red"), *pii_counts("text")
    ).collect()[0]
    assert row.red == "mail <EMAIL> ip <IP> ssn <SSN> tel <PHONE>"
    assert (row.n_email, row.n_ssn, row.n_ipv4, row.n_phone) == (1, 1, 1, 1)


def test_sequence_packing_invariants(spark):
    from data_engineer_project_weather_analytics_spark.plans.registry import REGISTRY

    from .conftest import SF_DIR

    out = REGISTRY["x10_sequence_packing"].fn(spark, SF_DIR)
    rows = out.collect()
    assert rows
    by_shard: dict = {}
    for r in rows:
        assert 0 <= r.offset_in_seq < 2048
        assert r.start_seq <= r.end_seq
        by_shard.setdefault(r.lang, []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        # contiguity: next doc starts exactly where the previous ended
        pos = 0
        for r in shard_rows:
            assert r.start_seq * 2048 + r.offset_in_seq == pos
            pos += r.n_tokens


def test_rest_fetch_real_http_loopback(spark):
    """The NON-injected fetch path end-to-end against an in-process
    HTTP server (loopback only): a valid doc, an HTTP 404, malformed
    JSON, an in-band cod error, and a read timeout must flow through
    fetch_payloads with the reference's semantics (dags/etl.py:26-64):
    good → raw payload, every failure → NULL → dropped by PERMISSIVE
    parse downstream."""
    import threading
    import time as _time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    from data_engineer_project_weather_analytics_spark.sources.rest import http_fetch_fn

    good = _current_doc().encode()
    seen_queries = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            seen_queries.append(q)
            city = q.get("q", [""])[0]
            try:
                if city == "Hanoi":
                    self.send_response(200)
                    self.end_headers()
                    self.wfile.write(good)
                elif city == "Nowhere":
                    self.send_response(404)
                    self.end_headers()
                    self.wfile.write(b'{"cod":"404","message":"city not found"}')
                elif city == "Mangled":
                    self.send_response(200)
                    self.end_headers()
                    self.wfile.write(b'{"truncated": ')
                elif city == "Inband":  # HTTP 200 but cod says unauthorized
                    self.send_response(200)
                    self.end_headers()
                    self.wfile.write(b'{"cod": 401, "message": "bad key"}')
                elif city == "Slow":
                    _time.sleep(1.5)  # > client timeout
                    self.send_response(200)
                    self.end_headers()
                    self.wfile.write(good)
            except (BrokenPipeError, ConnectionResetError):
                pass  # client gave up (the timeout case)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/data/2.5/weather"
        fetch = http_fetch_fn(url, api_key="test-key", timeout_s=0.5)
        names = ["Hanoi", "Nowhere", "Mangled", "Inband", "Slow"]
        cities = spark.createDataFrame([Row(city=c) for c in names])
        out = {
            r.city: r.payload
            for r in fetch_payloads(cities, fetch_fn=fetch, delay_s=0.0).collect()
        }
        assert out["Nowhere"] is None
        assert out["Mangled"] is None
        assert out["Inband"] is None
        assert out["Slow"] is None
        assert json.loads(out["Hanoi"])["id"] == 1581130
        # the wire call shape matches the reference exactly
        shaped = [q for q in seen_queries if q.get("q") == ["Hanoi"]][0]
        assert shaped["units"] == ["metric"]
        assert shaped["lang"] == ["vi"]
        assert shaped["appid"] == ["test-key"]
        # end-to-end: only the good payload survives the P8 drop
        parsed = parse_current(
            fetch_payloads(cities, fetch_fn=fetch, delay_s=0.0)
        ).collect()
        assert [r.city_id for r in parsed] == [1581130]
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_fetcher_reuses_one_session_and_never_pickles_it():
    """The fetcher builds its ``requests.Session`` on the first call and
    reuses it; pickling (mapInPandas shipping it to a worker) carries
    the config only, so every worker opens its own session."""
    import pickle

    from pyspark import cloudpickle

    from data_engineer_project_weather_analytics_spark.sources.rest import http_fetch_fn

    # nothing listens on the discard port: the failure returns None
    fetch = http_fetch_fn("http://127.0.0.1:9/data/2.5/weather", timeout_s=0.5)
    assert fetch("Hanoi") is None
    session = fetch._session
    assert session is not None and not session.trust_env
    assert fetch("Hue") is None and fetch._session is session
    clone = pickle.loads(cloudpickle.dumps(fetch))
    assert clone._session is None
    assert (clone.base_url, clone.timeout_s, clone.fixed) == (
        fetch.base_url, fetch.timeout_s, fetch.fixed,
    )
