"""Traced server launcher: starts ``timefusion_spark.server`` in this
process with span wrappers around each layer's public calls.

    python3 perfbench/launcher.py --run-dir DIR -- <server arguments>

Tracing starts when ``DIR/trace.on`` appears and stops when
``DIR/trace.off`` appears; the launcher then writes ``DIR/trace.json``
(span summary plus the Spark work of the traced window) and creates
``DIR/trace.done``. Spans stay in memory until then. The wrapped layers:

- server: ``_Handler._simple_query`` (one statement), the PgWireServer
  lock (wait time only), ``DataFrame.toLocalIterator`` (result send)
- pgshim: ``pg_sql``, ``pg_to_spark_sql`` (translation; also the name
  slt.py imported)
- slt: ``SltEnv.refresh_stale``, ``SltEnv.run_statement``
- ingest: ``_IngestHandler._serve`` (labels its thread "ingest"), the
  per-batch writer guard (Arrow -> pandas -> DataFrame -> append),
  ``SparkSession.createDataFrame``
- storage: ``Table.append``/``read``, ``CommitLog.commit``/``snapshot``,
  ``dml.update``/``delete``, ``maintenance.consolidate``/``compact``
  (both "maintenance.optimize") and ``vacuum``
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import spans  # noqa: E402


def _spark():
    from pyspark.sql import SparkSession

    return SparkSession._instantiatedSession


class _TimedLock:
    """Lock proxy recording the time each acquire waited."""

    def __init__(self, inner):
        self._inner = inner

    def acquire(self, blocking=True, timeout=-1):
        if not spans.ENABLED:
            return self._inner.acquire(blocking, timeout)
        with spans.span("server.lock_wait"):
            return self._inner.acquire(blocking, timeout)

    def release(self):
        self._inner.release()

    def locked(self):
        return self._inner.locked()

    __enter__ = acquire

    def __exit__(self, *exc):
        self._inner.release()
        return False


def _install() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame  # the class the server's DataFrames have

    from timefusion_spark import ingest_server, pgshim, server, slt
    from timefusion_spark.storage import commitlog, dml, maintenance, table

    spans.wrap(server._Handler, "_simple_query", "server.stmt")
    spans.wrap(pgshim, "pg_sql", "pgshim.pg_sql")
    spans.wrap(pgshim, "pg_to_spark_sql", "pgshim.translate")
    spans.wrap(slt, "pg_to_spark_sql", "pgshim.translate")
    spans.wrap(slt.SltEnv, "refresh_stale", "slt.refresh_stale",
               on_exit=lambda out, a, k, sp: sp.attrs.__setitem__("refreshed", len(out or ())))
    spans.wrap(slt.SltEnv, "run_statement", "slt.run_statement")
    spans.wrap(ingest_server._IngestHandler, "_serve", "ingest.stream", label="ingest")
    spans.wrap(SparkSession, "createDataFrame", "spark.createDataFrame")
    spans.wrap(table.Table, "append", "table.append")
    spans.wrap(table.Table, "read", "table.read")

    def _commit_attrs(out, a, k, sp):
        add = k.get("add", a[1] if len(a) > 1 else [])
        spans.add_to_parent(sp, files=len(add), bytes_written=sum(int(e[1]) for e in add))

    spans.wrap(commitlog.CommitLog, "commit", "commitlog.commit", on_exit=_commit_attrs)
    spans.wrap(commitlog.CommitLog, "snapshot", "commitlog.snapshot")
    spans.wrap(dml, "update", "dml.update", spark=_spark)
    spans.wrap(dml, "delete", "dml.delete", spark=_spark)
    spans.wrap(maintenance, "consolidate", "maintenance.optimize", spark=_spark)
    spans.wrap(maintenance, "compact", "maintenance.optimize", spark=_spark)
    spans.wrap(maintenance, "vacuum", "maintenance.vacuum")

    orig_guard = server.PgWireServer._arrow_writer_guard

    @contextlib.contextmanager
    def writer_guard(self):
        # the body of one ingest batch: to_pandas, createDataFrame, append
        if not spans.ENABLED:
            with orig_guard(self):
                yield
            return
        with spans.span("ingest.batch"), orig_guard(self):
            yield

    server.PgWireServer._arrow_writer_guard = writer_guard

    orig_iter = DataFrame.toLocalIterator

    def to_local_iterator(self, prefetchPartitions=False):
        if not spans.ENABLED:
            yield from orig_iter(self, prefetchPartitions)
            return
        with spans.span("server.result_send") as sp, spans.job_tag(self.sparkSession, "server.result_send"):
            yield from orig_iter(self, prefetchPartitions)
        sp.attrs.update(spans.planning_phases(self))

    DataFrame.toLocalIterator = to_local_iterator

    orig_init = server.PgWireServer.__init__

    def pg_init(self, *a, **k):
        orig_init(self, *a, **k)
        self._server.lock = _TimedLock(self._server.lock)

    server.PgWireServer.__init__ = pg_init


def _watch(run_dir: str) -> None:
    on, off = os.path.join(run_dir, "trace.on"), os.path.join(run_dir, "trace.off")
    while not os.path.exists(on):
        time.sleep(0.02)
    spark = _spark()
    job_lo = spans.next_job_id(spark)
    spans.ENABLED = True
    while not os.path.exists(off):
        time.sleep(0.02)
    spans.ENABLED = False
    time.sleep(0.2)  # let in-flight wrappers close their spans
    job_hi = spans.next_job_id(spark)
    out = {"spans": spans.summarize(), "spark": spans.spark_work(spark, job_lo, job_hi)}
    tmp = os.path.join(run_dir, "trace.json.tmp")
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, os.path.join(run_dir, "trace.json"))
    open(os.path.join(run_dir, "trace.done"), "w").close()


def main() -> int:
    argv = sys.argv[1:]
    sep = argv.index("--")
    run_dir = argv[argv.index("--run-dir") + 1]
    _install()
    threading.Thread(target=_watch, args=(run_dir,), name="tfb-trace", daemon=True).start()
    from timefusion_spark import server

    return server.main(argv[sep + 1 :])


if __name__ == "__main__":
    raise SystemExit(main())
