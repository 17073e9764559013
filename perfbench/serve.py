"""serve_read and serve_mixed: a real ``timefusion_spark.server`` process
driven over pgwire and the Arrow-IPC ingest socket by this one process.

serve_read  closed loop, READ["conns"] pgwire connections sending the
            seeded dashboard mix over a preloaded table, no writes.
serve_mixed open loop over a smaller preload: one Arrow connection sends
            fixed-size batches on a fixed period, one pgwire connection
            sends dashboard reads on a fixed period (each timed from when
            it was due), one pgwire connection sends a seeded
            UPDATE/DELETE stream with a partition OPTIMIZE + VACUUM every
            MIXED["maint_every"] DML slots; a full OPTIMIZE + VACUUM runs
            once at the end.

The sizes and periods are chosen from recorded runs; README.md gives the
figures behind them.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import queue
import signal
import subprocess
import sys
import threading
import time

from perfbench import common, gen, wire
from perfbench.common import Tally, median, pct

HOST = "127.0.0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLE = "otel_logs_and_spans"
BOOT_TIMEOUT_S = 170.0

WARM_S = 4.0  # untimed reads before the window: the read path's JIT and caches settle
READ = {"tenants": 8, "span_s": 3 * gen.DAY_S, "preload_rows": 30000, "batch_rows": 6000, "conns": 2}
MIXED = {"tenants": 4, "span_s": 2 * gen.DAY_S, "preload_rows": 16000, "batch_rows": 3200,
         "ingest_rows": 500, "ingest_period_s": 1.5, "read_period_s": 1.5,
         "dml_period_s": 12.0, "maint_every": 3, "grace_s": 10.0,
         # DML rewrites day 1 only, ingest lands in the second half of
         # day 2: the two commute, so the client's model is exact
         "dml_span": (0, gen.DAY_S), "ingest_span": (1.5 * gen.DAY_S, 2 * gen.DAY_S)}


class Server:
    """One server process in its own session (process group), confined
    to ``run_dir``. ``traced`` runs it under perfbench/launcher.py."""

    def __init__(self, run_dir: str, traced: bool):
        self.base = os.path.join(run_dir, "tf_data")
        args = ["--base-dir", self.base, "--host", HOST, "--port", "0", "--arrow-port", "0",
                "--insecure-auth", "--cpus", str(common.cpus())]
        if traced:
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "launcher.py"), "--run-dir", run_dir, "--", *args]
        else:
            cmd = [sys.executable, "-m", "timefusion_spark.server", *args]
        t0 = time.monotonic()
        self._log = open(os.path.join(run_dir, "server.log"), "w")
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=common.engine_env(run_dir, ROOT),
                                     stdout=subprocess.PIPE, stderr=self._log, text=True,
                                     start_new_session=True)
        self.rss = common.RssSampler(self.proc.pid)
        lines: queue.Queue = queue.Queue()
        threading.Thread(target=lambda: [lines.put(x) for x in self.proc.stdout], daemon=True).start()
        self.port = self.arrow_port = None
        while self.port is None:
            try:
                line = lines.get(timeout=max(t0 + BOOT_TIMEOUT_S - time.monotonic(), 0.01))
            except queue.Empty:
                self.stop()
                raise RuntimeError("server did not start listening in time") from None
            if "listening on" in line and "arrow ingest on" in line:
                self.port = int(line.split("listening on", 1)[1].split()[0].rsplit(":", 1)[1])
                self.arrow_port = int(line.split("arrow ingest on", 1)[1].split()[0].rsplit(":", 1)[1])
        self.boot_s = time.monotonic() - t0

    def table_dir(self) -> str:
        return os.path.join(self.base, TABLE)

    def stop(self) -> float:
        """Stop the process group and wait until every member ended;
        returns the peak RSS (MB) of the server's process tree."""
        peak = self.rss.stop()
        pgid = self.proc.pid
        for sig, wait_s in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 10.0)):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            end = time.monotonic() + wait_s
            while _group_alive(pgid) and time.monotonic() < end:
                time.sleep(0.1)
            if not _group_alive(pgid):
                break
        self.proc.wait(10)
        self._log.close()
        return peak


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(st[2]) == pgid and st[0] != "Z":
                return True
    return False


# ── correctness helpers ─────────────────────────────────────────────────


def _parse_ts(s: str) -> dt.datetime:
    for suffix in ("+00:00", "+00", "Z"):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
    return dt.datetime.fromisoformat(s)


def same_rows(expected: list[tuple], got: list[tuple]) -> bool:
    """Typed expected rows (DuckDB or the model) vs text rows off the
    wire, in order."""
    if len(expected) != len(got):
        return False
    for er, gr in zip(expected, got):
        if len(er) != len(gr):
            return False
        for e, g in zip(er, gr):
            if e is None or g is None:
                if e is not g:
                    return False
            elif isinstance(e, float):
                if not math.isclose(float(g), e, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif isinstance(e, int):
                if int(g) != e:
                    return False
            elif isinstance(e, dt.datetime):
                if _parse_ts(g) != e.replace(tzinfo=None):
                    return False
            elif str(e) != g:
                return False
    return True


def duck_expected(batches, sqls) -> dict[str, list[tuple]]:
    """Answers for ``sqls`` computed by DuckDB from the generator's own
    batches (timestamps as naive UTC, as the server compares them)."""
    import duckdb
    import pyarrow as pa

    tbl = pa.Table.from_batches(batches)
    tbl = tbl.set_column(0, "timestamp", tbl.column("timestamp").cast(pa.timestamp("us")))
    con = duckdb.connect()
    con.register(TABLE, tbl)
    return {sql: con.execute(sql).fetchall() for sql in sqls}


class Model:
    """Last-write-wins model of the table: id -> [tenant, t_s, duration].
    Only the generator's main thread touches it."""

    def __init__(self):
        self.rows: dict[str, list] = {}
        self.arrow_bytes = 0

    def add(self, batch) -> None:
        self.arrow_bytes += batch.nbytes
        base = gen.DAY0.timestamp()
        d = batch.to_pydict()
        for i, pid, ts, dur in zip(d["id"], d["project_id"], d["timestamp"], d["duration"]):
            self.rows[i] = [pid, ts.timestamp() - base, dur]

    def apply(self, effect: tuple) -> None:
        kind, tenant, lo, hi, dur = effect
        hit = [k for k, (p, t, _) in self.rows.items() if p == tenant and lo <= t < hi]
        for k in hit:
            if kind == "delete":
                del self.rows[k]
            else:
                self.rows[k][2] = dur

    def totals(self) -> list[tuple]:
        agg: dict[str, list[int]] = {}
        for p, _, dur in self.rows.values():
            a = agg.setdefault(p, [0, 0])
            a[0] += 1
            a[1] += dur
        return [(p, n, s) for p, (n, s) in sorted(agg.items())]


TOTALS_SQL = f"SELECT project_id, count(*) AS n, sum(duration) AS total FROM {TABLE} GROUP BY project_id ORDER BY project_id"


def table_gauges(table_dir: str, live_rows: int) -> dict[str, float]:
    """Live files, commit-log entries and row versions per live row, read
    from the table's commit log and parquet footers (no Spark; DuckDB
    reads footers whose logical types pyarrow does not know)."""
    import duckdb

    from timefusion_spark.storage.commitlog import CommitLog

    log = CommitLog(table_dir)
    snap = log.snapshot()
    paths = [os.path.join(table_dir, rel) for rel in snap.files]
    raw = duckdb.connect().execute("SELECT sum(num_rows) FROM parquet_file_metadata(?)", [paths]).fetchone()[0]
    return {"table.live_files": float(len(paths)), "commitlog.entries": float(len(log._entries())),
            "table.versions_per_live_row": raw / live_rows if live_rows else 0.0}


# ── phases ───────────────────────────────────────────────────────────────


def preload(srv: Server, batches, tally: Tally) -> float:
    """Bulk-load ``batches`` through one Arrow stream (closed loop: the
    next batch goes once the previous one is acked). Returns the rows/s
    of the batches after the second: on a fresh server the first ack
    takes ~5 s and the second ~1.3 s while the ingest path warms up (that
    shows in setup_s); later acks settle."""
    ing = wire.ArrowIngest(HOST, srv.arrow_port, TABLE, batches[0].schema, app_id="preload")
    acks = []
    for b in batches:
        acks.append(ing.send(b))
        tally.add(True)
    ing.finish()
    return sum(b.num_rows for b in batches[2:]) / sum(acks[2:])


def traced_window(run_dir: str, body) -> dict:
    """Run ``body`` with the launcher's tracing on; return its trace."""
    open(os.path.join(run_dir, "trace.on"), "w").close()
    body()
    open(os.path.join(run_dir, "trace.off"), "w").close()
    done = os.path.join(run_dir, "trace.done")
    end = time.monotonic() + 90
    while not os.path.exists(done):
        if time.monotonic() > end:
            raise RuntimeError("the traced server did not write its trace")
        time.sleep(0.05)
    with open(os.path.join(run_dir, "trace.json")) as f:
        return json.load(f)


def closed_loop(conns, stmts, seconds: float, tally: Tally, record: list) -> None:
    """Each connection sends the next statement of ``stmts`` as soon as
    its previous one returns, until ``seconds`` have passed."""
    nxt = iter(range(1 << 62))
    lock = threading.Lock()
    t_end = time.monotonic() + seconds

    def worker(c):
        while time.monotonic() < t_end:
            with lock:
                kind, sql = stmts[next(nxt) % len(stmts)]
            t = time.perf_counter()
            try:
                rows = c.query(sql)[1]
            except (wire.WireError, OSError) as e:
                tally.add(False, f"{kind}: {e}")
                continue
            record.append((kind, sql, time.perf_counter() - t, rows))

    ts = [threading.Thread(target=worker, args=(c,)) for c in conns]
    for t in ts:
        t.start()
    for t in ts:
        t.join()


def run_serve_read(seed: int, seconds: float, traced: bool, run_dir: str) -> dict:
    cfg = READ
    tally, model = Tally(), Model()
    t0 = time.monotonic()
    srv = Server(run_dir, traced)
    try:
        batches = gen.otel_batches(seed, cfg["preload_rows"], cfg["batch_rows"], 0, cfg["span_s"],
                                   cfg["tenants"], "s")
        load_rate = preload(srv, batches, tally)
        for b in batches:
            model.add(b)
        conns = [wire.PgConn(HOST, srv.port) for _ in range(cfg["conns"])]
        warm = gen.read_stmts(seed + 10**6, 1000, cfg["tenants"], cfg["span_s"])
        closed_loop(conns, warm, WARM_S, tally, [])
        setup_s = time.monotonic() - t0
        stmts = gen.read_stmts(seed, 5000, cfg["tenants"], cfg["span_s"])
        record: list = []
        layers = None
        if traced:
            trace_out = traced_window(run_dir, lambda: closed_loop(conns, stmts, seconds, tally, record))
            layers = layer_metrics(trace_out, n_reads=len(record), late_ms=0.0)
            layers.update(table_gauges(srv.table_dir(), len(model.rows)))
        else:
            closed_loop(conns, stmts, seconds, tally, record)
        # correctness, outside the timed window
        expected = duck_expected(batches, {sql for _, sql, _, _ in record})
        for kind, sql, _, rows in record:
            tally.add(same_rows(expected[sql], rows), f"{kind} wrong answer: {sql}")
        tally.add(same_rows(model.totals(), conns[0].query(TOTALS_SQL)[1]), "per-tenant totals differ from the model")
        for c in conns:
            c.close()
    finally:
        peak_mb = srv.stop()
    lat = [r[2] for r in record]
    e2e = {
        "setup_s": setup_s,
        "load_rows_per_s": load_rate,
        "read_p50_ms": median(lat) * 1000,
        "read_p95_ms": pct(lat, 95) * 1000,
        "read_qps": len(lat) / seconds,
        "peak_rss_mb": peak_mb,
    }
    return {"e2e": e2e, "layers": layers, "tally": tally, "samples": {"boot_s": srv.boot_s, "reads": len(lat)}}


# ── serve_mixed ─────────────────────────────────────────────────────────


class Schedule:
    """Open-loop slots every ``period`` seconds from ``t0``. ``take``
    waits for the next slot and returns its due time, or None once the
    window is over; slots the client could not start within ``grace``
    after the window count as failed (a stall that outlasted the run)."""

    def __init__(self, t0: float, period: float, t_end: float, grace: float):
        self.t0, self.period, self.t_end, self.grace = t0, period, t_end, grace
        self.i = 0
        self.late: list[float] = []

    def take(self, tally: Tally, what: str) -> float | None:
        due = self.t0 + self.i * self.period
        if due >= self.t_end:
            return None
        if time.monotonic() > self.t_end + self.grace:
            missed = math.ceil((self.t_end - due) / self.period)
            for _ in range(missed):
                tally.add(False, f"{what}: slot never started (backlog)")
            self.i += missed
            return None
        common.wait_until(due)
        self.late.append(max(time.monotonic() - due, 0.0))
        self.i += 1
        return due


def mixed_window(reader, dml_conn, ing, seconds: float, st: dict) -> None:
    """One open-loop window of the three streams (see module doc). The
    streams only append to their own lists in ``st``; the caller applies
    acked batches and DML effects to the model after the window."""
    cfg = MIXED
    t0 = time.monotonic() + 0.05
    t_end = t0 + seconds
    # OPTIMIZE/VACUUM are refused while any result drain is open, so the
    # client never sends one while its own read is in flight
    gate = threading.Lock()
    tally = st["tally"]

    def ingest():
        sch = Schedule(t0, cfg["ingest_period_s"], t_end, cfg["grace_s"])
        batches = iter(st["ingest_batches"])
        while (due := sch.take(tally, "ingest")) is not None:
            b = next(batches)
            try:
                ing.send(b)
            except (wire.WireError, OSError) as e:
                tally.add(False, f"ingest: {e}")
                break
            st["acks"].append(time.monotonic() - due)
            st["acked"].append(b)
            tally.add(True)
        st["late"].extend(sch.late)

    def reads():
        sch = Schedule(t0, cfg["read_period_s"], t_end, cfg["grace_s"])
        stmts = iter(st["reads"])
        while (due := sch.take(tally, "read")) is not None:
            kind, sql = next(stmts)
            try:
                with gate:
                    reader.query(sql)
            except (wire.WireError, OSError) as e:
                tally.add(False, f"{kind}: {e}")
                continue
            st["read_lat"].append(time.monotonic() - due)
            tally.add(True)
        st["late"].extend(sch.late)

    def writes():
        sch = Schedule(t0, cfg["dml_period_s"], t_end, cfg["grace_s"])
        stmts = iter(st["dml"])
        slot = 0
        last_part = None
        while (due := sch.take(tally, "dml")) is not None:
            slot += 1
            if slot % cfg["maint_every"] == 0 and last_part:
                tenant, day = last_part
                for kind, sql in (("optimize", f"OPTIMIZE {TABLE} WHERE project_id = '{tenant}' AND date = '{day}'"),
                                  ("vacuum", f"VACUUM {TABLE} RETAIN 0 HOURS")):
                    try:
                        with gate:
                            dml_conn.query(sql)
                        tally.add(True)
                    except (wire.WireError, OSError) as e:
                        tally.add(False, f"{kind}: {e}")
                continue
            kind, sql, effect = next(stmts)
            try:
                dml_conn.query(sql)
            except (wire.WireError, OSError) as e:
                tally.add(False, f"{kind}: {e}")
                continue
            st["dml_lat"].append(time.monotonic() - due)
            st["effects"].append(effect)
            last_part = (effect[1], gen.ts(effect[2])[:10])
            tally.add(True)
        st["late"].extend(sch.late)

    ts = [threading.Thread(target=f) for f in (ingest, reads, writes)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()


def run_serve_mixed(seed: int, seconds: float, traced: bool, run_dir: str) -> dict:
    cfg = MIXED
    tally, model = Tally(), Model()
    t0 = time.monotonic()
    srv = Server(run_dir, traced)
    try:
        batches = gen.otel_batches(seed, cfg["preload_rows"], cfg["batch_rows"], 0, cfg["span_s"],
                                   cfg["tenants"], "s")
        load_rate = preload(srv, batches, tally)
        for b in batches:
            model.add(b)
        reader, dml_conn = wire.PgConn(HOST, srv.port), wire.PgConn(HOST, srv.port)
        warm = gen.read_stmts(seed + 10**6, 1000, cfg["tenants"], cfg["span_s"])
        closed_loop([reader], warm, WARM_S, tally, [])
        setup_s = time.monotonic() - t0
        n_slots = int(seconds / cfg["ingest_period_s"]) + 1
        lo, hi = cfg["ingest_span"]
        st = {"tally": tally, "acks": [], "acked": [], "read_lat": [], "dml_lat": [], "effects": [], "late": [],
              "ingest_batches": gen.otel_batches(seed, n_slots * cfg["ingest_rows"], cfg["ingest_rows"], lo, hi,
                                                 cfg["tenants"], "i"),
              "reads": gen.read_stmts(seed, int(seconds / cfg["read_period_s"]) + 1, cfg["tenants"], cfg["span_s"]),
              "dml": gen.dml_stmts(seed, int(seconds / cfg["dml_period_s"]) + 1, cfg["tenants"], *cfg["dml_span"])}
        ing = wire.ArrowIngest(HOST, srv.arrow_port, TABLE, batches[0].schema, app_id="live")
        layers = None
        if traced:
            trace_out = traced_window(run_dir, lambda: mixed_window(reader, dml_conn, ing, seconds, st))
            layers = layer_metrics(trace_out, n_reads=len(st["read_lat"]), late_ms=median(st["late"]) * 1000)
        else:
            mixed_window(reader, dml_conn, ing, seconds, st)
        try:
            ing.finish()
        except (wire.WireError, OSError) as e:
            tally.add(False, f"ingest close: {e}")
        for effect in st["effects"]:
            model.apply(effect)
        for b in st["acked"]:
            model.add(b)
        if traced:
            layers.update(table_gauges(srv.table_dir(), len(model.rows)))
        t_maint = time.monotonic()
        for sql in (f"OPTIMIZE {TABLE}", f"VACUUM {TABLE} RETAIN 0 HOURS"):
            try:
                dml_conn.query(sql)
                tally.add(True)
            except (wire.WireError, OSError) as e:
                tally.add(False, f"final maintenance: {e}")
        final_maint_s = time.monotonic() - t_maint
        on_disk = common.dir_bytes(srv.table_dir())
        tally.add(same_rows(model.totals(), reader.query(TOTALS_SQL)[1]), "per-tenant totals differ from the model")
        reader.close()
        dml_conn.close()
    finally:
        peak_mb = srv.stop()
    lat = st["read_lat"]
    e2e = {
        "setup_s": setup_s,
        "load_rows_per_s": load_rate,
        "read_p50_ms": median(lat) * 1000,
        "read_p95_ms": pct(lat, 95) * 1000,
        "ingest_ack_p50_ms": median(st["acks"]) * 1000,
        "ingest_ack_p95_ms": pct(st["acks"], 95) * 1000,
        "dml_p50_ms": median(st["dml_lat"]) * 1000,
        "space_amp": on_disk / model.arrow_bytes,
        "peak_rss_mb": peak_mb,
    }
    return {"e2e": e2e, "layers": layers, "tally": tally,
            "samples": {"boot_s": srv.boot_s, "reads": len(lat), "acks": len(st["acks"]), "dml": len(st["dml_lat"]),
                        "gen_late_p50_ms": median(st["late"]) * 1000, "final_maint_s": final_maint_s}}


# ── per-layer metrics from a trace ───────────────────────────────────────

# name -> unit, in the order they are printed (README.md says what each
# one should move)
LAYER_UNITS = {
    "server.stmt_ms": "ms", "server.result_send_ms": "ms", "server.result_jobs": "count",
    "server.lock_wait_ms": "ms", "server.self_ms": "ms",
    "slt.refresh_ms": "ms", "slt.refreshes_per_read": "count", "slt.run_statement_ms": "ms", "slt.self_ms": "ms",
    "pgshim.pg_sql_ms": "ms", "pgshim.translate_ms": "ms", "pgshim.self_ms": "ms",
    "spark.analysis_ms": "ms", "spark.optimizer_ms": "ms", "spark.planning_ms": "ms",
    "spark.jobs_per_stmt": "count", "spark.stages_per_stmt": "count", "spark.tasks_per_stmt": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "ingest.convert_ms": "ms", "ingest.commit_ms": "ms",
    "table.append_ms": "ms", "table.files_per_append": "count", "table.read_build_ms": "ms", "table.self_ms": "ms",
    "table.live_files": "count", "table.versions_per_live_row": "ratio",
    "commitlog.commit_ms": "ms", "commitlog.snapshot_ms": "ms", "commitlog.entries": "count",
    "dml.update_ms": "ms", "dml.delete_ms": "ms", "dml.jobs_per_stmt": "count", "dml.self_ms": "ms",
    "maintenance.optimize_ms": "ms", "maintenance.vacuum_ms": "ms", "maintenance.bytes_rewritten": "bytes",
    "gen.late_ms": "ms", "trace.overhead_pct": "%",
}


def layer_metrics(trace_out: dict, n_reads: int, late_ms: float) -> dict[str, float]:
    """Per-layer metrics of one traced window (see README.md); the table
    gauges and trace.overhead_pct are added by the callers."""
    S, W = trace_out["spans"], trace_out["spark"]

    def g(name, key="ms", ctx=None):
        d = S.get(name, {})
        if ctx is not None:
            d = d.get("by_ctx", {}).get(ctx, {})
        return float(d.get(key, 0.0))

    def per_call(name, ctx=None):
        n = g(name, "calls", ctx)
        return g(name, "ms", ctx) / n if n else 0.0

    def self_ms(*names):
        n = sum(g(x, "calls") for x in names)
        return sum(g(x, "self_ms") for x in names) / n if n else 0.0

    stmts = g("server.stmt", "calls") or 1.0
    sends = g("server.result_send", "calls") or 1.0
    appends = g("table.append", "calls")
    batches = g("ingest.batch", "calls")
    dmls = g("dml.update", "calls") + g("dml.delete", "calls")
    tagged = W.get("tagged", {})
    lock_wait = sum(v["ms"] for k, v in S.get("server.lock_wait", {}).get("by_ctx", {}).items() if k != "ingest")
    return {
        "server.stmt_ms": per_call("server.stmt"),
        "server.result_send_ms": per_call("server.result_send"),
        "server.result_jobs": tagged.get("server.result_send", 0) / sends,
        "server.lock_wait_ms": lock_wait / stmts,
        "server.self_ms": self_ms("server.stmt"),
        "slt.refresh_ms": per_call("slt.refresh_stale"),
        "slt.refreshes_per_read": g("slt.refresh_stale", "refreshed") / n_reads if n_reads else 0.0,
        "slt.run_statement_ms": per_call("slt.run_statement"),
        "slt.self_ms": self_ms("slt.refresh_stale", "slt.run_statement"),
        "pgshim.pg_sql_ms": per_call("pgshim.pg_sql"),
        "pgshim.translate_ms": per_call("pgshim.translate"),
        "pgshim.self_ms": self_ms("pgshim.pg_sql"),
        "spark.analysis_ms": g("server.result_send", "analysis") / sends,
        "spark.optimizer_ms": g("server.result_send", "optimization") / sends,
        "spark.planning_ms": g("server.result_send", "planning") / sends,
        "spark.jobs_per_stmt": W["jobs"] / stmts,
        "spark.stages_per_stmt": W["stages"] / stmts,
        "spark.tasks_per_stmt": W["tasks"] / stmts,
        "spark.executor_run_ms": W["run_ms"] / stmts,
        "spark.executor_cpu_ms": W["cpu_ms"] / stmts,
        "spark.gc_ms": W["gc_ms"] / stmts,
        "spark.shuffle_write_bytes": W["shuffle_write_bytes"] / stmts,
        "spark.spill_bytes": W["spill_bytes"] / stmts,
        # Arrow -> pandas (ingest.batch's own time) plus createDataFrame
        "ingest.convert_ms": (g("ingest.batch", "self_ms") + g("spark.createDataFrame", "ms", "ingest")) / batches
        if batches else 0.0,
        "ingest.commit_ms": per_call("table.append", "ingest"),
        "table.append_ms": per_call("table.append"),
        "table.files_per_append": g("table.append", "files") / appends if appends else 0.0,
        "table.read_build_ms": per_call("table.read"),
        "table.self_ms": self_ms("table.append", "table.read"),
        "commitlog.commit_ms": per_call("commitlog.commit"),
        "commitlog.snapshot_ms": per_call("commitlog.snapshot"),
        "dml.update_ms": per_call("dml.update"),
        "dml.delete_ms": per_call("dml.delete"),
        "dml.jobs_per_stmt": (tagged.get("dml.update", 0) + tagged.get("dml.delete", 0)) / dmls if dmls else 0.0,
        "dml.self_ms": self_ms("dml.update", "dml.delete"),
        "maintenance.optimize_ms": per_call("maintenance.optimize"),
        "maintenance.vacuum_ms": per_call("maintenance.vacuum"),
        "maintenance.bytes_rewritten": g("maintenance.optimize", "bytes_written"),
        "gen.late_ms": late_ms,
    }
