"""Seeded inputs for the serve workloads: OTel span rows for
``otel_logs_and_spans`` and the dashboard statement mix.

Everything here is a pure function of the seed. Rows span up to three
days from DAY0 over up to 8 Zipf-skewed tenants; ids are unique, so
every (timestamp, id) key is written once unless DML rewrites it.
"""

from __future__ import annotations

import datetime as dt
import random

DAY0 = dt.datetime(2026, 1, 5, tzinfo=dt.timezone.utc)
DAY_S = 86400
TENANTS = [f"proj{i}" for i in range(8)]
# Zipf(1.1) weights: proj0 carries ~1/3 of the rows, proj7 ~1/20
WEIGHTS = [1 / (i + 1) ** 1.1 for i in range(len(TENANTS))]
SERVICES = ["api", "web", "worker", "auth", "billing", "search"]
NAMES = ["GET /v1/items", "POST /v1/items", "GET /v1/users", "db.query", "cache.get",
         "queue.publish", "render", "auth.check", "search.run", "billing.charge"]


def otel_schema():
    import pyarrow as pa

    return pa.schema([
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("id", pa.string()),
        ("name", pa.string()),
        ("kind", pa.string()),
        ("project_id", pa.string()),
        ("duration", pa.int64()),
        ("status_code", pa.string()),
        ("level", pa.string()),
        ("resource___service___name", pa.string()),
        ("attributes___http___response___status_code", pa.int32()),
    ])


def otel_batches(seed: int, n_rows: int, batch_rows: int, lo_s: float, hi_s: float,
                 n_tenants: int, id_prefix: str):
    """``n_rows`` span rows of the first ``n_tenants`` tenants as Arrow
    record batches of ``batch_rows``, timestamps uniform in
    [DAY0+lo_s, DAY0+hi_s) and microsecond-distinct."""
    import pyarrow as pa

    rng = random.Random(f"{seed}/{id_prefix}")
    span_us = int((hi_s - lo_s) * 1e6)
    offs = rng.sample(range(span_us), n_rows)  # distinct: no shared timestamps
    base_us = int((DAY0.timestamp() + lo_s) * 1e6)
    tenants, weights = TENANTS[:n_tenants], WEIGHTS[:n_tenants]
    out = []
    for lo in range(0, n_rows, batch_rows):
        chunk = offs[lo : lo + batch_rows]
        k = len(chunk)
        errors = [rng.random() < 0.07 for _ in range(k)]
        cols = {
            "timestamp": pa.array([base_us + o for o in chunk], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "id": [f"{id_prefix}{lo + i}" for i in range(k)],
            "name": [rng.choice(NAMES) for _ in range(k)],
            "kind": [rng.choice(("SERVER", "CLIENT", "INTERNAL")) for _ in range(k)],
            "project_id": rng.choices(tenants, weights, k=k),
            "duration": [int(rng.lognormvariate(15, 1.2)) for _ in range(k)],
            "status_code": ["ERROR" if e else "OK" for e in errors],
            "level": ["ERROR" if e else rng.choice(("INFO", "DEBUG")) for e in errors],
            "resource___service___name": [rng.choice(SERVICES) for _ in range(k)],
            "attributes___http___response___status_code": [500 if e else rng.choice((200, 200, 201, 404)) for e in errors],
        }
        out.append(pa.RecordBatch.from_pydict(cols, schema=otel_schema()))
    return out


def ts(sec: float) -> str:
    return (DAY0 + dt.timedelta(seconds=sec)).strftime("%Y-%m-%d %H:%M:%S")


def dashboard_stmt(rng: random.Random, kind: str, n_tenants: int, span_s: int) -> str:
    """One dashboard statement of ``kind`` over a seeded tenant and time
    window inside the first ``n_tenants`` tenants and [DAY0, DAY0+span_s)."""
    tenant = rng.choices(TENANTS[:n_tenants], WEIGHTS[:n_tenants])[0]
    t = f"project_id = '{tenant}'"
    if kind == "count_5m":
        s = rng.randrange(0, span_s - 300, 60)
        return (f"SELECT name, count(*) AS n FROM otel_logs_and_spans WHERE {t} "
                f"AND timestamp >= '{ts(s)}' AND timestamp < '{ts(s + 300)}' "
                "GROUP BY name ORDER BY n DESC, name LIMIT 5")
    if kind == "count_1h":
        s = rng.randrange(0, span_s - 3600, 3600)
        return (f"SELECT date_trunc('minute', timestamp) AS t, count(*) AS n FROM otel_logs_and_spans "
                f"WHERE {t} AND timestamp >= '{ts(s)}' AND timestamp < '{ts(s + 3600)}' "
                "GROUP BY 1 ORDER BY 1")
    if kind == "error_rate":
        s = rng.randrange(0, span_s // DAY_S) * DAY_S
        return (f"SELECT date_trunc('hour', timestamp) AS h, count(*) FILTER (WHERE status_code = 'ERROR') AS errs, "
                f"count(*) AS n FROM otel_logs_and_spans WHERE {t} "
                f"AND timestamp >= '{ts(s)}' AND timestamp < '{ts(s + DAY_S)}' GROUP BY 1 ORDER BY 1")
    if kind == "p95":
        s = rng.randrange(0, span_s - 3600, 3600)
        return (f"SELECT percentile_cont(0.95) WITHIN GROUP (ORDER BY duration) AS p95 FROM otel_logs_and_spans "
                f"WHERE {t} AND timestamp >= '{ts(s)}' AND timestamp < '{ts(s + 3600)}'")
    if kind == "recent":
        return (f"SELECT id, name, duration FROM otel_logs_and_spans WHERE {t} "
                "ORDER BY timestamp DESC, id LIMIT 50")
    if kind == "rollup":
        return ("SELECT project_id, count(*) AS n, sum(duration) AS total FROM otel_logs_and_spans "
                f"WHERE timestamp >= '{ts(0)}' AND timestamp < '{ts(span_s)}' "
                "GROUP BY project_id ORDER BY project_id")
    raise ValueError(kind)


# the dashboard mix: (kind, weight)
READ_MIX = [("count_5m", 4), ("count_1h", 3), ("error_rate", 2), ("p95", 2), ("recent", 2), ("rollup", 1)]


def read_stmts(seed: int, n: int, n_tenants: int, span_s: int) -> list[tuple[str, str]]:
    """``n`` seeded (kind, sql) dashboard reads. Every run of 14 holds
    each kind of READ_MIX as often as its weight, in seeded order, so
    every seed sends the same mix."""
    rng = random.Random(f"{seed}/reads")
    block = [k for k, w in READ_MIX for _ in range(w)]
    kinds: list[str] = []
    while len(kinds) < n:
        rng.shuffle(block)
        kinds.extend(block)
    kinds = kinds[:n]
    return [(k, dashboard_stmt(rng, k, n_tenants, span_s)) for k in kinds]


def dml_stmts(seed: int, n: int, n_tenants: int, lo_s: int, hi_s: int) -> list[tuple[str, str, tuple]]:
    """``n`` seeded (kind, sql, effect) UPDATE/DELETE statements over
    one-hour windows inside [DAY0+lo_s, DAY0+hi_s). ``effect`` is
    (kind, tenant, lo_s, hi_s, new_duration) for the client's model."""
    rng = random.Random(f"{seed}/dml")
    out = []
    for _ in range(n):
        tenant = rng.choices(TENANTS[:n_tenants], WEIGHTS[:n_tenants])[0]
        s = rng.randrange(lo_s, hi_s - 3600, 600)
        where = (f"WHERE project_id = '{tenant}' AND timestamp >= '{ts(s)}' "
                 f"AND timestamp < '{ts(s + 3600)}'")
        if rng.random() < 0.7:
            dur = rng.randrange(1, 10**6)
            out.append(("update", f"UPDATE otel_logs_and_spans SET duration = {dur} {where}",
                        ("update", tenant, s, s + 3600, dur)))
        else:
            out.append(("delete", f"DELETE FROM otel_logs_and_spans {where}",
                        ("delete", tenant, s, s + 3600, None)))
    return out
