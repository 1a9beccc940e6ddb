"""Distributed, rate-limited REST ingestion (SURVEY.md S1/S2/T3).

The reference fetches 14 cities sequentially on one thread with a
0.4 s sleep between calls (``dags/etl.py:127-136``).  The Spark-first
shape: the city list is a DataFrame, partition-parallel ``mapInPandas``
workers fetch their partition's cities with a per-partition token
delay, and the JSON payloads land as a ``payload`` string column that
flows straight into sources/json_ingest.py.

Network access is not available (and not desirable) in tests, so the
fetcher is **injectable**: pass ``fetch_fn(city) -> str | None``.  The
default raises ``NotImplementedError`` — a real deployment supplies a
``requests``-backed callable with the reference's params
(``units=metric, lang=vi, timeout=15`` — ``dags/etl.py:27-31``).

Scale: per-partition throttling means aggregate rate =
``partitions / delay`` — the knob the driver tunes against the API
quota; failures return None and are dropped (P8), never failing the
job.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

PAYLOAD_SCHEMA = StructType(
    [
        StructField("city", StringType(), False),
        StructField("payload", StringType(), True),
    ]
)


def default_fetch(city: str) -> str | None:
    raise NotImplementedError(
        "no network in this environment — inject fetch_fn (a requests-backed "
        "callable hitting api.openweathermap.org/data/2.5/weather with "
        "units=metric, lang=vi, timeout=15)"
    )


class _HttpFetcher:
    """The callable :func:`http_fetch_fn` returns.  Pickles as its
    config only: the ``requests.Session`` is built lazily on the first
    call in whichever process runs it (a Spark worker), so one
    partition's cities share one session and its connection pool."""

    def __init__(self, base_url: str, timeout_s: float, fixed: dict[str, str]):
        self.base_url = base_url
        self.timeout_s = timeout_s
        self.fixed = fixed
        self._session = None

    def __getstate__(self) -> dict:
        return {**self.__dict__, "_session": None}

    def _open(self):
        """A session with the environment resolved once for the fixed
        host — the proxies, CA bundle and netrc auth ``requests.get``
        would otherwise re-read from the environment on every call —
        and ``trust_env`` off so no request re-reads them."""
        import requests
        from requests.utils import get_netrc_auth

        s = requests.Session()
        env = s.merge_environment_settings(self.base_url, {}, None, None, None)
        s.proxies.update(env["proxies"])
        s.verify = env["verify"]
        s.cert = env["cert"]
        s.auth = get_netrc_auth(self.base_url)
        s.trust_env = False
        return s

    def __call__(self, city: str) -> str | None:
        try:
            if self._session is None:
                self._session = self._open()
            r = self._session.get(
                self.base_url, params={"q": city, **self.fixed}, timeout=self.timeout_s
            )
            r.raise_for_status()
            data = r.json()
            if int(data.get("cod", 0)) != 200:
                return None
            return r.text
        except Exception:
            return None


def http_fetch_fn(
    base_url: str,
    api_key: str | None = None,
    timeout_s: float = 15.0,
    params: dict[str, str] | None = None,
) -> Callable[[str], str | None]:
    """A ``requests``-backed fetcher with the reference's exact call
    shape (``dags/etl.py:26-64``): GET ``base_url`` with
    ``q=<city>, units=metric, lang=vi[, appid]``, ``timeout=15``,
    ``raise_for_status()``, then validate the in-band ``cod`` field.
    Any failure — connection refused, timeout, HTTP error, malformed
    JSON, ``cod != 200`` — returns ``None`` (the reference's bare
    ``except: return None``), which the P8 error-drop path discards.

    Returns the RAW payload text (not a parsed dict): parsing belongs
    to sources/json_ingest.py where Spark's PERMISSIVE from_json does
    it engine-side, once, with a declared schema.

    The callable pickles as picklable config only, so mapInPandas
    ships it to executors; each partition then fetches its slice of
    the city list under the T3 throttle over one HTTP session."""
    import requests  # noqa: F401 — a missing client fails here, not per city

    fixed = {"units": "metric", "lang": "vi", **(params or {})}
    if api_key is not None:
        fixed["appid"] = api_key
    return _HttpFetcher(base_url, timeout_s, fixed)


def fetch_payloads(
    cities: DataFrame,
    fetch_fn: Callable[[str], str | None] = default_fetch,
    delay_s: float = 0.4,
    city_col: str = "city",
) -> DataFrame:
    """cities(city) → (city, payload) with per-partition throttling.

    Fetch errors yield payload=NULL (dropped downstream by the
    PERMISSIVE parse filter — the reference's bare-except path,
    ``dags/etl.py:63-64``)."""

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        first = True
        for batch in batches:
            payloads = []
            for city in batch[city_col]:
                if not first and delay_s > 0:
                    time.sleep(delay_s)  # T3: reference's inter-call throttle
                first = False
                try:
                    payloads.append(fetch_fn(city))
                except Exception:
                    payloads.append(None)  # P8: error-drop, keep pipeline alive
            yield pd.DataFrame({"city": batch[city_col], "payload": payloads})

    return cities.mapInPandas(_fetch, schema=PAYLOAD_SCHEMA)
