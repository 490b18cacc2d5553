"""DuckDB reference answers for the ``plans.adsb`` calls, computed over
the same parquet the ETL wrote."""

from __future__ import annotations

import datetime as _dt
import json
import os

import duckdb

TZ = "Europe/Paris"


def _local_date(col: str) -> str:
    return f"CAST(timezone('{TZ}', timezone('UTC', {col})) AS DATE)"


def norm(v):
    """Engine-neutral value: instants as epoch µs, floats to 6 places."""
    if isinstance(v, _dt.datetime):
        return int(v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def _wkt_points(wkt: str) -> tuple:
    body = wkt[wkt.index("(") + 1: wkt.rindex(")")]
    return tuple(tuple(round(float(x), 6) for x in p.split()) for p in body.split(", "))


def _geojson_points(text: str) -> tuple:
    return tuple(tuple(round(float(x), 6) for x in p)
                 for p in json.loads(text)["coordinates"])


def _sql(fn: str, p: dict) -> str:
    if fn == "landings_on":
        return (f"SELECT id, flight_id, time, runway, _dt FROM landings "
                f"WHERE time >= DATE '{p['day']}' AND time < DATE '{p['day']}' + INTERVAL 1 DAY")
    if fn == "takeoffs_fromto":
        return (f"SELECT id, flight_id, time, runway, _dt FROM takeoffs "
                f"WHERE {_local_date('time')} >= DATE '{p['from_']}' "
                f"AND {_local_date('time')} < DATE '{p['to_']}'")
    if fn == "events_histogram_all":
        s, e = p["starts"], p["ends"]
        return f"""
            WITH u AS (SELECT * FROM landings UNION SELECT * FROM takeoffs),
            b AS (SELECT date_trunc('hour', time) AS interval, count(flight_id) AS events,
                         list_sort(list(flight_id)) AS ids
                  FROM u WHERE time >= date_trunc('hour', TIMESTAMP '{s}')
                           AND time < date_trunc('hour', TIMESTAMP '{e}') + INTERVAL 1 HOUR
                  GROUP BY 1),
            axis AS (SELECT unnest(range(date_trunc('hour', TIMESTAMP '{s}'),
                                         date_trunc('hour', TIMESTAMP '{e}') + INTERVAL 1 HOUR,
                                         INTERVAL 1 HOUR)) AS interval)
            SELECT axis.interval, coalesce(b.events, 0), coalesce(b.ids, [])
            FROM axis LEFT JOIN b USING (interval)"""
    if fn == "peak_hour_all":
        return f"""
            WITH u AS (SELECT * FROM landings UNION SELECT * FROM takeoffs),
            c AS (SELECT date_trunc('minute', time - INTERVAL 30 MINUTE) AS peak_hour,
                         count(*) OVER (ORDER BY time RANGE BETWEEN INTERVAL 1 HOUR
                                        PRECEDING AND CURRENT ROW) AS events FROM u),
            d AS (SELECT {_local_date('peak_hour')} AS day, peak_hour, events FROM c),
            r AS (SELECT *, row_number() OVER (PARTITION BY day
                                               ORDER BY events DESC, peak_hour DESC) AS rn
                  FROM d)
            SELECT day, peak_hour, events FROM r WHERE rn = 1"""
    if fn == "flight_path_geojson":
        ids = ", ".join(str(i) for i in p["ids"])
        return (f"SELECT flight_id, list([longitude, latitude] ORDER BY time) FROM positions "
                f"WHERE flight_id IN ({ids}) GROUP BY flight_id")
    if fn == "landings_on_details":
        return f"""
            SELECT e.id, e.time, e.runway, f.id, f.hexident, f.callsign, a.name, c.name,
                   c.continent
            FROM landings e JOIN flights f ON e.flight_id = f.id
            LEFT JOIN airlines a ON a.icao = substring(f.callsign, 1, 3)
            LEFT JOIN countries c ON a.country = c.name
            WHERE e.time >= DATE '{p['day']}' AND e.time < DATE '{p['day']}' + INTERVAL 1 DAY"""
    if fn == "takeoff_paths_period":
        return f"""
            WITH sel AS (SELECT flight_id, time, runway FROM takeoffs
                         WHERE {_local_date('time')} >= DATE '{p['from_']}'
                           AND {_local_date('time')} < DATE '{p['to_']}'),
            paths AS (SELECT flight_id, list([longitude, latitude] ORDER BY time) AS pts
                      FROM positions GROUP BY flight_id)
            SELECT DISTINCT sel.flight_id, sel.time, sel.runway, paths.pts
            FROM sel JOIN paths USING (flight_id)"""
    raise ValueError(fn)


def _spark_rows(fn: str, rows) -> list:
    out = []
    for r in rows:
        t = list(r)
        if fn == "flight_path_geojson":
            t[1] = _geojson_points(t[1])
        elif fn == "takeoff_paths_period":
            t[3] = _wkt_points(t[3])
        out.append(norm(t))
    return sorted(out, key=repr)


def _duck_rows(fn: str, rows) -> list:
    out = []
    for r in rows:
        t = list(r)
        if fn in ("flight_path_geojson", "takeoff_paths_period"):
            t[-1] = tuple(tuple(round(x, 6) for x in pt) for pt in t[-1])
        out.append(norm(t))
    return sorted(out, key=repr)


def check(out_dir: str, airlines: list, countries: list, results: list) -> list:
    """[(fn, reason)] for every collected result that differs from DuckDB."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in ("landings", "takeoffs", "positions"):
            path = os.path.join(out_dir, t, "*", "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}', "
                        "hive_partitioning = true)")
        path = os.path.join(out_dir, "flights", "*.parquet")
        con.execute(f"CREATE VIEW flights AS SELECT * FROM read_parquet('{path}')")
        con.execute("CREATE TABLE airlines (id INT, name VARCHAR, alias VARCHAR, iata VARCHAR,"
                    " icao VARCHAR, callsign VARCHAR, country VARCHAR, active VARCHAR)")
        con.executemany("INSERT INTO airlines VALUES (?, ?, ?, ?, ?, ?, ?, ?)", airlines)
        con.execute("CREATE TABLE countries (id INT, code VARCHAR, name VARCHAR,"
                    " continent VARCHAR, wikipedia_link VARCHAR, keywords VARCHAR)")
        con.executemany("INSERT INTO countries VALUES (?, ?, ?, ?, ?, ?)", countries)
        bad = []
        for fn, p, rows in results:
            want = _duck_rows(fn, con.execute(_sql(fn, p)).fetchall())
            got = _spark_rows(fn, rows)
            if got != want:
                bad.append((fn, f"{len(got)} rows vs {len(want)}; first differing: "
                                f"{next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)}"))
        return bad
    finally:
        con.close()
