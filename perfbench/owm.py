"""A seeded stand-in for the OpenWeatherMap current-weather API.

:class:`World` decides, for every city and hourly round, what the API
answers: a fresh reading, a corrected re-delivery of the previous
hour's reading, or an error.  Cities are renamed now and then.  The
server process and the benchmark's correctness check share this one
model, so the check knows the last-write-wins state the ETL must end
in without asking the program.

Run as a script it serves the model over loopback HTTP with a bounded
pool of handler threads, and prints ``port <n>`` once it listens::

    python3 perfbench/owm.py --seed 1 --cities 2000 --threads 4

``GET /data/2.5/weather?q=<city>&hour=<h>`` answers like the real
endpoint; ``GET /_stats`` returns the number of weather requests served
per hour as JSON.
"""

from __future__ import annotations

import json

import numpy as np

#: first round's reading time: 2025-12-01T00:00:00Z
T0 = 1_764_547_200
ERROR_RATE = 0.01
REDELIVERY_RATE = 0.10
RENAME_RATE = 0.002
_MAINS = [(500, "Rain", "mưa nhẹ", "10d"), (800, "Clear", "bầu trời quang đãng", "01d"),
          (802, "Clouds", "mây rải rác", "03d"), (803, "Clouds", "mây cụm", "04d")]


class World:
    """Deterministic API answers for ``n_cities`` cities."""

    def __init__(self, seed: int, n_cities: int) -> None:
        self.seed = seed
        self.n = n_cities
        rng = np.random.default_rng([seed, 0])
        self.lat = np.round(rng.uniform(8.0, 23.5, n_cities), 4)
        self.lon = np.round(rng.uniform(102.0, 110.0, n_cities), 4)
        self.country = np.where(rng.random(n_cities) < 0.05, "PH", "VN")
        self.tz = np.where(self.country == "PH", 28800, 25200)
        self._rounds: dict[int, dict] = {}
        self._renames: list[np.ndarray] = []

    @staticmethod
    def query(i: int) -> str:
        return f"city-{i:05d}"

    @staticmethod
    def city_id(i: int) -> int:
        return 1_580_000 + i

    def _round(self, hour: int) -> dict:
        r = self._rounds.get(hour)
        if r is None:
            rng = np.random.default_rng([self.seed, 1, hour])
            n = self.n
            r = {
                "u": rng.random(n),
                "rename": rng.random(n) < RENAME_RATE,
                "temp": np.round(rng.uniform(15.0, 35.0, n), 2),
                "pressure": rng.integers(990, 1031, n),
                "humidity": rng.integers(30, 101, n),
                "main": rng.integers(0, len(_MAINS), n),
                "wind": np.round(rng.uniform(0.0, 10.0, n), 2),
                "deg": rng.integers(0, 360, n),
                "gust": np.round(rng.uniform(0.0, 3.0, n), 2),
                "gust_on": rng.random(n) < 0.7,
                "vis_on": rng.random(n) < 0.8,
                "clouds": rng.integers(0, 101, n),
            }
            self._rounds[hour] = r
        return r

    def kind(self, i: int, hour: int) -> str:
        """``error``, ``redelivery`` (hour-1's reading, corrected) or ``fresh``."""
        u = self._round(hour)["u"][i]
        if u < ERROR_RATE:
            return "error"
        if hour > 0 and u < ERROR_RATE + REDELIVERY_RATE:
            return "redelivery"
        return "fresh"

    def name(self, i: int, hour: int) -> str:
        while len(self._renames) <= hour:
            prev = self._renames[-1] if self._renames else np.zeros(self.n, np.int64)
            self._renames.append(prev + self._round(len(self._renames))["rename"])
        g = int(self._renames[hour][i])
        return f"Thành phố {i}" + (f" ({g})" if g else "")

    def reading(self, i: int, hour: int) -> tuple[int, float, int, int]:
        """``(dt, temp, pressure, humidity)`` the API reports for city
        ``i`` in round ``hour`` — the key and the checked measures."""
        if self.kind(i, hour) == "redelivery":
            r = self._round(hour - 1)
            return (T0 + (hour - 1) * 3600, round(float(r["temp"][i]) + 0.5, 2),
                    int(r["pressure"][i]), int(r["humidity"][i]))
        r = self._round(hour)
        return (T0 + hour * 3600, float(r["temp"][i]),
                int(r["pressure"][i]), int(r["humidity"][i]))

    def payload(self, i: int, hour: int) -> dict:
        """The API document for city ``i`` in round ``hour``; an error
        document (``cod`` 404) when the round errs for that city."""
        if self.kind(i, hour) == "error":
            return {"cod": "404", "message": "city not found"}
        dt, temp, pressure, humidity = self.reading(i, hour)
        r = self._round(hour)
        wid, main, desc, icon = _MAINS[int(r["main"][i])]
        day = dt - dt % 86400
        doc = {
            "coord": {"lon": float(self.lon[i]), "lat": float(self.lat[i])},
            "weather": [{"id": wid, "main": main, "description": desc, "icon": icon}],
            "base": "stations",
            "main": {"temp": temp, "feels_like": round(temp + 1.5, 2),
                     "temp_min": round(temp - 2, 2), "temp_max": round(temp + 2, 2),
                     "pressure": pressure, "humidity": humidity},
            "wind": {"speed": float(r["wind"][i]), "deg": int(r["deg"][i])},
            "clouds": {"all": int(r["clouds"][i])},
            "dt": dt,
            "sys": {"country": str(self.country[i]), "sunrise": day - 3600,
                    "sunset": day + 36000},
            "timezone": int(self.tz[i]),
            "id": self.city_id(i),
            "name": self.name(i, hour),
            "cod": 200,
        }
        if r["gust_on"][i]:
            doc["wind"]["gust"] = round(float(r["wind"][i] + r["gust"][i]), 2)
        if r["vis_on"][i]:
            doc["visibility"] = 10000
        return doc

    def expected_state(self, hours) -> tuple[set, set]:
        """Last-write-wins state after applying ``hours`` in order:
        ``(cities, readings)`` as sets of
        ``(city_id, city_name, country, coord_lat, coord_lon, timezone)``
        and ``(city_id, dt, temp, pressure, humidity)``."""
        cities: dict[int, tuple] = {}
        readings: dict[tuple, tuple] = {}
        for h in hours:
            for i in range(self.n):
                if self.kind(i, h) == "error":
                    continue
                cid = self.city_id(i)
                cities[cid] = (cid, self.name(i, h), str(self.country[i]),
                               float(self.lat[i]), float(self.lon[i]), int(self.tz[i]))
                dt, temp, pressure, humidity = self.reading(i, h)
                readings[(cid, dt)] = (cid, dt, temp, pressure, humidity)
        return set(cities.values()), set(readings.values())


def serve(seed: int, n_cities: int, threads: int) -> None:
    """Serve :class:`World` until stdin closes."""
    import sys
    import threading
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qs, urlparse

    world = World(seed, n_cities)
    lock = threading.Lock()
    served: Counter = Counter()
    bodies: dict[int, list[bytes]] = {}  # rendered once per hour

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            url = urlparse(self.path)
            q = parse_qs(url.query)
            if url.path == "/_stats":
                with lock:
                    body = json.dumps({str(h): n for h, n in served.items()})
                self._reply(200, body.encode())
                return
            hour = int(q.get("hour", ["0"])[0])
            i = int(q.get("q", ["-0"])[0].rsplit("-", 1)[1])
            with lock:
                served[hour] += 1
                if hour not in bodies:
                    bodies[hour] = [json.dumps(world.payload(c, hour)).encode()
                                    for c in range(n_cities)]
                body = bodies[hour][i]
            if world.kind(i, hour) == "error" and i % 2:
                self._reply(500, b"upstream error")
            else:
                self._reply(200, body)

        def _reply(self, status: int, body: bytes) -> None:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    class PooledServer(HTTPServer):
        """One connection per request, handled on a fixed thread pool."""

        pool = ThreadPoolExecutor(max_workers=threads)
        request_queue_size = 256

        def process_request(self, request, client_address):
            self.pool.submit(self._handle, request, client_address)

        def _handle(self, request, client_address):
            try:
                self.finish_request(request, client_address)
            except OSError:
                self.handle_error(request, client_address)
            finally:
                self.shutdown_request(request)

    srv = PooledServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    print(f"port {srv.server_port}", flush=True)
    sys.stdin.read()  # parent closes our stdin to stop us
    srv.shutdown()
    srv.server_close()
    PooledServer.pool.shutdown(wait=True)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cities", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    a = ap.parse_args()
    serve(a.seed, a.cities, a.threads)
