"""DML: UPDATE / DELETE / UPDATE…FROM, routed by table configuration.

Version-append semantics (dml.rs:765-914 `perform_version_append`): an
UPDATE or DELETE rewrites nothing — it resolves the currently-visible rows
from the dedup view, applies the assignments (or sets the tombstone), stamps
a fresh tiebreak, and APPENDS complete row versions. The read view's
keep-greatest window makes the new versions win.

In-place semantics (dml.rs:958-1004 `perform_delta_merge_update`,
database.rs:2056-2064): tables WITHOUT `version_append` take the Delta-leg
path — read exactly the affected partitions, apply the mutation, and
atomically overwrite those partitions in one commit. Readers on an older
snapshot are unaffected (replaced files survive on disk until vacuum), and
the rewrite touches only partitions that contain matched rows — a
predicate that prunes to one (project, day) rewrites one directory, never
the table.

The reference's derived date-bound clamp (optimizers/mod.rs:141-150) is the
`ts_lo`/`ts_hi` parameters — they bound both the time column and the `date`
partition, so the resolve scan prunes partitions instead of reading the
whole table.

UPDATE…FROM (dml.rs:84-130 `UpdateSource`): equi-join keys against a
materialized source, capped at MAX_UPDATE_SOURCE_ROWS (dml.rs:40) — the
source is broadcast (it is small by contract).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timefusion_spark.storage.table import Table

# dml.rs:40 — the reference materializes the UPDATE…FROM source and refuses
# above this; same guard here since we broadcast it.
MAX_UPDATE_SOURCE_ROWS = 1_000_000

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _unescape_partition_value(s: str) -> str | None:
    """Invert the Hive/Spark partition-path escaping (%XX hex escapes for
    control chars and `\"#%'*/:=?\\{[]^`; the NULL sentinel directory).
    Unescaping is deterministic, so matching manifest directory names this
    way never has to reproduce the writer's escape set exactly."""
    if s == _HIVE_NULL:
        return None
    out: list[str] = []
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "%" and i + 3 <= len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(ch)
        i += 1
    return "".join(out)


def _partition_selection(table: Table, vals) -> tuple[Column, list[str]]:
    """From the distinct partition-value rows of the matched set, build
    (a) a NULL-SAFE partition filter for the rewrite read and (b) the
    affected directory names — derived by unescaping the MANIFEST's live
    directory names and matching values, never by re-implementing the
    writer's path escaping (VERDICT r6 #4: `f\"{c}={v}\"` breaks on NULLs,
    spaces, `%`, `:`…)."""
    parts = table.schema.partitions
    pf = None
    for row in vals:
        conj = None
        for c in parts:
            eq = F.col(c).eqNullSafe(F.lit(row[c]))
            conj = eq if conj is None else (conj & eq)
        pf = conj if pf is None else (pf | conj)
    want = {
        tuple(None if row[c] is None else str(row[c]) for c in parts) for row in vals
    }
    dirs: list[str] = []
    for d in {os.path.dirname(rel) for rel in table.log.snapshot().files}:
        segs = dict(seg.split("=", 1) for seg in d.split("/") if "=" in seg)
        key = tuple(
            _unescape_partition_value(segs[c]) if c in segs else None for c in parts
        )
        if key in want:
            dirs.append(d)
    return pf, dirs


def _resolve(
    table: Table,
    predicate: Column | str | None,
    project_id: str | None,
    ts_lo: str | None,
    ts_hi: str | None,
) -> DataFrame:
    """Currently-visible rows matching the DML predicate (the dedup view,
    partition-pruned by the derived date bounds)."""
    df = table.scan(project_id=project_id, ts_lo=ts_lo, ts_hi=ts_hi)
    if predicate is not None:
        df = df.where(predicate)
    return df


def _dml_condition(
    table: Table,
    predicate: Column | str | None,
    project_id: str | None,
    ts_lo: str | None,
    ts_hi: str | None,
) -> Column:
    """The DML match condition as one boolean column (NULL ⇒ not matched),
    including the derived date-partition bounds so both the matched-set
    scan and the rewrite read prune partitions."""
    conds: list[Column] = []
    if predicate is not None:
        conds.append(F.expr(predicate) if isinstance(predicate, str) else predicate)
    if project_id is not None:
        conds.append(F.col("project_id") == project_id)
    tc = table.schema.time_column
    has_date = "date" in table.schema.partitions
    if ts_lo is not None:
        conds.append(F.col(tc) >= F.lit(ts_lo).cast("timestamp"))
        if has_date:
            conds.append(F.col("date") >= F.lit(ts_lo).cast("timestamp").cast("date"))
    if ts_hi is not None:
        conds.append(F.col(tc) < F.lit(ts_hi).cast("timestamp"))
        if has_date:
            conds.append(F.col("date") <= F.lit(ts_hi).cast("timestamp").cast("date"))
    out = None
    for c in conds:
        out = c if out is None else (out & c)
    return F.lit(True) if out is None else out


def _moved(table: Table, assignments: dict[str, Column], prefix: str = "") -> Column | None:
    """True for a row whose assigned version-key value differs from its
    current one (IS DISTINCT FROM); None when no version-key column is
    assigned. Such a row changes version key — a tenant move, a new id or
    timestamp: its old key must be closed, or the old version stays
    visible beside the new one."""
    moved = None
    for c in table.version_key:
        if c in assignments:
            dtype = table.schema.spark_schema[c].dataType
            m = ~assignments[c].cast(dtype).eqNullSafe(F.col(f"{prefix}{c}"))
            moved = m if moved is None else (moved | m)
    return moved


def _dv_dml(
    table: Table,
    pred: Column,
    assignments: dict[str, Column] | None,
) -> int:
    """Deletion-vector DML (deletion_vectors.rs analog): mask the matched
    rows with (file, row-position) deletion entries instead of rewriting
    their files — the original parquet stays live in the manifest; an
    UPDATE additionally appends ONLY the rewritten rows as a new file.
    Everything publishes as ONE atomic commit (DV file + rewrite file),
    so readers see the old rows and the new rows switch together.

    Cost model at scale: O(matched rows) written, zero partition
    rewrites — the sparse-update shape (a 10-row UPDATE against a 1 TB
    partition writes ~10 rows + a KB-sized DV), vs the in-place path's
    O(affected partitions). Reads pay one broadcast anti-join against
    the DV set until a compaction materializes it."""
    import uuid as _uuid

    from timefusion_spark.storage.table import DV_DIR

    if table.schema.version_append:
        raise ValueError("deletion vectors apply to non-version_append tables")
    if not table.log.exists():
        raise ValueError("deletion vectors require a commit log (Table.create)")
    raw = table.read_raw()
    # dedup-keyed plain table (ADVICE r10): DML semantics are against the
    # VISIBLE view. A DELETE must mask EVERY raw version of a key whose
    # visible winner matches — masking only pred-matching raw rows lets a
    # superseded older version become the new winner (the resurrection
    # bug _inplace_keyed fixes). Both verbs report the VISIBLE
    # matched count, not the raw count (which includes loser versions).
    keys = table.version_key
    n_visible: int | None = None
    if keys:
        vis_matched = table.read().where(pred)
        n_visible = vis_matched.count()
        if n_visible == 0:
            # zero VISIBLE matches: PG reports 0; loser-only raw matches
            # are invisible either way, so no DV is written
            return 0
    if keys:
        # DELETE and UPDATE alike mask EVERY raw version of a visibly-
        # matched key. The old UPDATE path masked only pred-matching raw
        # rows and appended a rewritten copy of EACH (losers included);
        # on keep-last-by-position tables (dedup_tiebreak=None, per
        # TableSchema docs) an appended loser copy sits later in position
        # than the true winner and resurrects superseded values
        # (ADVICE r11 #5). Masking the whole key and rewriting from the
        # VISIBLE winners is correct under both tiebreak policies — and
        # writes one row per key instead of one per raw version. The mask
        # is on the full version key, so an UPDATE that moves a row to
        # another tenant or key masks the whole old key and writes the
        # winner under its new one.
        kdf = vis_matched.select(*keys).distinct().alias("_k")
        matched = (
            table.read_raw(_dv_coords=True)
            .alias("_t")
            .join(kdf, _key_eq(keys), "leftsemi")
        )
    else:
        # unkeyed table: every raw row is visible — mask exactly the
        # pred-matching rows.
        matched = table.read_raw(_dv_coords=True).where(pred)
    # Stage the DV file (tiny: matched-row coordinates only).
    stage = os.path.join(table.path, "_tf_staging", _uuid.uuid4().hex)
    matched.select("_tf_dv_file", "_tf_dv_pos").coalesce(1).write.parquet(stage)
    added: list[tuple[str, int]] = []
    os.makedirs(os.path.join(table.path, DV_DIR), exist_ok=True)
    n = 0
    moves = [
        (os.path.join(stage, name), f"{DV_DIR}/{_uuid.uuid4().hex}.parquet")
        for name in os.listdir(stage)
        if name.endswith(".parquet")
    ]
    if moves:
        # staging intent BEFORE the move — the same vacuum-race protection
        # _stage_write carries: between this move and the commit (a full
        # rewrite-stage job away) a VACUUM RETAIN 0 would otherwise
        # collect the DV file and the commit would publish a manifest
        # entry for a nonexistent file (review r13 round-diff)
        table._pending_intents.append(
            table._write_intent([rel for _, rel in moves])
        )
    for src, rel in moves:
        size = os.path.getsize(src)
        os.replace(src, os.path.join(table.path, rel))
        added.append((rel, size))
    shutil.rmtree(stage, ignore_errors=True)
    if n_visible is not None:
        # keyed path: the visible count IS the answer, and n_visible > 0
        # guarantees a non-empty DV (visible matches ⊆ masked raw rows) —
        # no read-back job needed
        n = n_visible
    else:
        # Count the masked rows from the staged DV itself (no second scan
        # of the table): read the moved file back.
        if added:
            n = (
                table.spark.read.parquet(
                    *[os.path.join(table.path, p) for p, *_ in added]
                ).count()
            )
        if n == 0:
            # nothing matched: drop the empty DV file, commit nothing
            for rel, *_ in added:
                os.remove(os.path.join(table.path, rel))
            table._clear_intents()
            return 0
    if assignments is not None:
        # keyed: rewrite from the VISIBLE winners (their every raw
        # version is masked above); unkeyed: from the pred-matching rows.
        basis = vis_matched if keys else raw.where(pred)
        rewritten = basis.select(
            *[
                assignments[f.name].cast(f.to_spark().dataType).alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in table.schema.fields
            ]
        )
        if table.schema.partitions:
            rewritten = rewritten.repartition(
                *[F.col(c) for c in table.schema.partitions]
            )
        if table.schema.sorting_columns:
            rewritten = rewritten.sortWithinPartitions(
                *[F.col(c) for c in table.schema.partitions], *table._sort_cols()
            )
        added += table._stage_write(rewritten)
    table.log.commit(add=added, op="dml")
    table._clear_intents()
    return n


def _inplace_keyed(table: Table, pred: Column, mark, assigned=()) -> int:
    """In-place DML on a dedup-keyed non-version_append table, against the
    VISIBLE view. `mark(df)` returns `df`'s table columns plus `_tf_m`
    (the row matches the statement) and `_tf_new_<col>` for each
    `assigned` column. A key whose winner is marked loses EVERY raw
    version — removing only the raw rows that match would let a
    superseded older version become the new winner, resurrecting data PG
    semantics say is gone (review r10). An UPDATE keeps the winner alone,
    with its new values, which may belong in another partition: the old
    key is gone from its partition either way, so a partition-moving
    UPDATE leaves exactly one visible row per key.

    When the version key holds every partition column
    (Table.versions_share_partition), every version of a key lives in the
    key's partition: the partitions of the visible matched rows are
    exactly the partitions holding their versions, and one window over
    those partitions ranks each key's versions and finds the hit keys.
    Otherwise (`date` outside the key) a key's older versions may live on
    other dates: the partitions come from the raw versions of the matched
    keys, and a key is hit by membership in the matched key set — a
    window over the affected partitions alone would rank a key whose
    winner lies outside them."""
    from pyspark.sql import Window as W

    from timefusion_spark.storage.table import KEEP_GREATEST

    raw, rf = table.pinned_raw()
    visible = table._tombstone_filter(
        table._dedup_view(table.read_raw(snapshot_files=rf), KEEP_GREATEST)
    )
    # `pred` first, as a plain filter: its conjuncts on partition columns
    # prune the scan below the dedup window
    matched = mark(visible.where(pred)).where(F.col("_tf_m"))
    tomb = table.schema.tombstone_column
    keys = table.version_key
    hit_keys = versions = None
    if not table.versions_share_partition:
        hit_keys = (
            matched.select(*keys).withColumn("_tf_hit", F.lit(True)).alias("_k")
        )
        versions = raw.alias("_t").join(hit_keys, _key_eq(keys), "leftsemi")

    def transform(affected: DataFrame) -> DataFrame:
        ranked = mark(affected).withColumn(
            "_tf_rn", F.row_number().over(table._version_window(KEEP_GREATEST))
        )
        if hit_keys is None:
            win = (F.col("_tf_rn") == 1) & F.col("_tf_m")
            if tomb:
                win = win & ~F.coalesce(F.col(tomb), F.lit(False))
            hit = F.max(win).over(W.partitionBy(*keys))
            ranked = ranked.withColumn("_tf_hit", hit)
        else:
            ranked = (
                ranked.alias("_t")
                .join(F.broadcast(hit_keys), _key_eq(keys), "left")
                .select(
                    "_t.*",
                    F.coalesce(F.col("_k._tf_hit"), F.lit(False)).alias("_tf_hit"),
                )
            )
        if not assigned:
            return ranked.where(~F.col("_tf_hit")).select(
                *[f.name for f in table.schema.fields]
            )
        kept = ranked.where(~F.col("_tf_hit") | (F.col("_tf_rn") == 1))
        return _apply_marked(table, kept, assigned, "_tf_hit")

    return _inplace_rewrite(table, raw, rf, matched, transform, versions)


def _key_eq(keys: list[str]) -> Column:
    """NULL-safe equality of `_t` and `_k` on `keys` — the dedup view's
    grouping of a key."""
    cond = None
    for k in keys:
        eq = F.col(f"_t.{k}").eqNullSafe(F.col(f"_k.{k}"))
        cond = eq if cond is None else (cond & eq)
    return cond


def _apply_marked(table: Table, df: DataFrame, assigned, flag: str = "_tf_m") -> DataFrame:
    """The table columns of a marked frame (see _inplace_keyed), with the
    `_tf_new_<col>` values taken where `flag` is true."""
    return df.select(
        *[
            F.when(F.col(flag), F.col(f"_tf_new_{f.name}"))
            .otherwise(F.col(f.name))
            .alias(f.name)
            if f.name in assigned
            else F.col(f.name)
            for f in table.schema.fields
        ]
    )


def _marked(table: Table, pred: Column, assignments: dict[str, Column]):
    """The `mark` of a plain UPDATE/DELETE (see _inplace_keyed)."""

    def mark(df: DataFrame) -> DataFrame:
        return df.withColumns(
            {
                "_tf_m": F.coalesce(pred, F.lit(False)),
                **{
                    f"_tf_new_{c}": e.cast(table.schema.spark_schema[c].dataType)
                    for c, e in assignments.items()
                },
            }
        )

    return mark


def _with_derived_date(table: Table, assignments: dict) -> dict:
    """Generated-column maintenance (review r13): `date` is derived as
    CAST(time_column AS DATE) at ingest, and scan() derives date-partition
    bounds from timestamp bounds ON THAT INVARIANT — an UPDATE assigning
    the time column without recomputing `date` would leave a row whose
    date no longer matches its timestamp, silently excluded by
    time-bounded scans (and stranded in the wrong partition dir). When
    the time column is assigned and `date` is not, the derived
    assignment is injected (an EXPLICIT date assignment is respected)."""
    tc = table.schema.time_column
    if (
        "date" in table.schema.partitions
        and tc in assignments
        and "date" not in assignments
    ):
        return {
            **assignments,
            "date": assignments[tc].cast("timestamp").cast("date"),
        }
    return assignments


def _read_files_in(rf: list[str] | None, dirs: list[str]) -> list[str] | None:
    """Restrict a pinned whole-table file list to the partition dirs a
    rewrite actually READ. Passing the full pinned list as
    `read_files` let a rewrite whose output lands in a partition it
    never read (an UPDATE assigning a partition column) sweep that
    partition's untouched live files out of the manifest — silent data
    loss of every pre-existing row there (review r13)."""
    if rf is None:
        return None
    dset = {d.rstrip("/") for d in dirs}
    return [p for p in rf if os.path.dirname(p) in dset]


def _inplace_rewrite(
    table: Table,
    raw: DataFrame,
    rf: list[str] | None,
    matched: DataFrame,
    transform,
    versions: DataFrame | None = None,
) -> int:
    """Shared in-place DML engine (perform_delta_merge_update analog,
    dml.rs:958-1004): find the partitions holding `matched` rows, read ONLY
    those from `raw` (pinned to the file list `rf`, Table.pinned_raw),
    apply `transform(partition_df)`, and publish one atomic
    partition-overwrite commit. Returns the matched-row count.

    Scale shape: ONE job discovers the affected partitions AND the matched
    count — groupBy(partition cols) collects one row per affected
    partition (bounded by partition count, never row data) carrying its
    match count (optimization r13, guide §1.2); the rewrite reads and
    writes exactly the affected directories. Snapshot isolation comes
    from the commit log — replaced files stay on disk for older readers.
    The pinned file list keeps the overwrite's remove-set to exactly the
    files read (concurrent appends and in-window group publishes stay
    live, review r11).

    `versions`, when given, are the raw rows the rewrite must reach where
    they are not all in the matched rows' partitions (see _inplace_keyed):
    their partitions join the affected set in the same job, uncounted."""
    parts = table.schema.partitions
    if parts:
        counted = matched.select(*parts, F.lit(1).alias("_tf_c"))
        if versions is not None:
            counted = counted.unionByName(
                versions.select(*parts, F.lit(0).alias("_tf_c"))
            )
        vals = counted.groupBy(*parts).agg(F.sum("_tf_c").alias("_tf_cnt")).collect()
        n = sum(r["_tf_cnt"] for r in vals)
        if n == 0:
            return 0
        pf, dirs = _partition_selection(table, vals)
        affected = raw.where(pf)
    else:
        n = matched.count()
        if n == 0:
            return 0
        affected = raw
        dirs = [""]
    out = transform(affected)
    if parts:
        # one writer task per partition dir → one rewritten file per dir
        # (same layout rule as Table.append)
        out = out.repartition(*[F.col(c) for c in parts])
    if table.schema.sorting_columns:
        out = out.sortWithinPartitions(
            *[F.col(c) for c in parts], *table._sort_cols()
        )
    table.overwrite_partitions(
        out, dirs=dirs, op="dml", read_files=_read_files_in(rf, dirs)
    )
    return n


def _count_and_append(
    table: Table,
    new_versions: DataFrame,
    stamp,
    key_unique: bool = False,
    tombstones: DataFrame | None = None,
) -> int:
    """Append the new versions and count them in the SAME job via an
    Observation metric: the resolve plan — a dedup-window scan of the
    whole table — executes exactly once, and no persist/second action is
    needed (dml.rs materializes the matched set before its version-append;
    the observe node is the Spark-native way to get the matched count as a
    side output of the write job itself).

    `key_unique=True` (caller-proved: the batch derives from the dedup
    view — one row per key — and no assignment rewrites a version-key
    column) skips append's in-batch LWW window, one full batch shuffle
    per DML (optimization r14, guide §2.4).

    `tombstones` (see _moved) ride in the same append, uncounted, so a
    key-moving UPDATE closes the old version key in the same commit that
    opens the new one."""
    from datetime import datetime, timezone

    from pyspark.sql import Observation

    from timefusion_spark import clock

    if stamp is None:
        # Make the engine-owned stamp CONCRETE (instead of the lazy
        # current_timestamp() default) so the fallback below can identify
        # this append's rows by their tiebreak value. Reads the engine
        # clock, so frozen-clock runs produce reproducible DML stamps.
        stamp = datetime.fromtimestamp(
            clock.now_micros() / 1_000_000, tz=timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S.%f")
    obs = Observation()
    batch = new_versions.observe(obs, F.count(F.lit(1)).alias("n"))
    if tombstones is not None:
        # tombstones FIRST: a Union's output partitions keep child order,
        # so when a moved row lands on another moved row's old version
        # key, the new version is the later row and wins the in-batch LWW
        # tie on the shared stamp
        batch = tombstones.unionByName(batch)
    table.append(batch, stamp=stamp, batch_key_unique=key_unique)
    # Bounded metric read (ADVICE r13): AQE's empty-relation propagation
    # removes the CollectMetrics node when the runtime-materialized
    # matched set is EMPTY (the observe subtree is replaced by an empty
    # LocalRelation before it can report) — a bare obs.get would then
    # HANG forever, never raise. observed_count polls the JVM-side
    # getOrEmpty under a deadline; when no metrics arrive (eliminated
    # node OR py4j/listener failure after a non-empty append, where
    # guessing 0 would misreport a write that happened) it re-executes
    # the matched plan itself. `new_versions` was built over read_raw()'s
    # EXPLICIT pre-append file list, so the recount is pinned to the
    # statement's own snapshot and scoped to exactly this statement's
    # rows. (The previous stamp-equality rescan counted EVERY row sharing
    # the tiebreak value — under a frozen clock two statements stamp
    # identically, so an earlier append's rows inflated the count;
    # review r10.)
    from timefusion_spark.obsutil import observed_count

    return observed_count(obs, "n", new_versions.count)


def update(
    table: Table,
    assignments: dict[str, Column],
    predicate: Column | str | None = None,
    project_id: str | None = None,
    ts_lo: str | None = None,
    ts_hi: str | None = None,
    stamp: Column | str | None = None,
    deletion_vectors: bool = False,
) -> int:
    """UPDATE table SET assignments WHERE predicate → rows updated.

    Routed by table configuration (database.rs:2056-2064): version_append
    tables append new row versions; others rewrite the affected partitions
    in place — or, with `deletion_vectors=True`, mask the matched rows and
    append only their rewritten copies (deletion_vectors.rs: the
    sparse-update shape; O(matched) written, zero partition rewrites)."""
    assignments = _with_derived_date(table, assignments)
    if not table.schema.version_append:
        pred = _dml_condition(table, predicate, project_id, ts_lo, ts_hi)
        if deletion_vectors:
            return _dv_dml(table, pred, assignments)
        mark = _marked(table, pred, assignments)
        if table.schema.dedup_keys:
            return _inplace_keyed(table, pred, mark, set(assignments))
        raw, rf = table.pinned_raw()
        return _inplace_rewrite(
            table,
            raw,
            rf,
            raw.where(pred),
            lambda df: _apply_marked(table, mark(df), assignments),
        )
    matched = _resolve(table, predicate, project_id, ts_lo, ts_hi)
    new_versions = matched.withColumns(assignments)
    moved = _moved(table, assignments)
    tombs = None
    if moved is not None:
        tombs = matched.where(moved).withColumn(
            table.schema.tombstone_column, F.lit(True)
        )
    # the dedup view yields one row per key; unless an assignment rewrites
    # a key column the batch stays key-unique and append's in-batch LWW
    # window is a provable identity (optimization r14)
    return _count_and_append(
        table,
        new_versions,
        stamp,
        key_unique=not (set(table.version_key) & set(assignments)),
        tombstones=tombs,
    )


def delete(
    table: Table,
    predicate: Column | str | None = None,
    project_id: str | None = None,
    ts_lo: str | None = None,
    ts_hi: str | None = None,
    stamp: Column | str | None = None,
    deletion_vectors: bool = False,
) -> int:
    """DELETE FROM table WHERE predicate → rows deleted (tombstone append
    on version_append tables; physical partition rewrite otherwise, or a
    deletion-vector mask with `deletion_vectors=True`)."""
    if not table.schema.version_append:
        pred = _dml_condition(table, predicate, project_id, ts_lo, ts_hi)
        if deletion_vectors:
            return _dv_dml(table, pred, None)
        if table.schema.dedup_keys:
            # dedup-keyed plain table: delete the KEY (every raw version of
            # it) when its visible winner matches — see _inplace_keyed
            return _inplace_keyed(table, pred, _marked(table, pred, {}))
        # Keep rows where the predicate is NOT TRUE (NULL ⇒ not matched,
        # so the row survives — PG DELETE semantics).
        raw, rf = table.pinned_raw()
        return _inplace_rewrite(
            table,
            raw,
            rf,
            raw.where(pred),
            lambda df: df.where(~F.coalesce(pred, F.lit(False))),
        )
    tomb = table.schema.tombstone_column
    if tomb is None:  # guaranteed by version_append validation; raise even under -O
        raise RuntimeError(
            f"version_append table {table.schema.table_name!r} has no tombstone column"
        )
    matched = _resolve(table, predicate, project_id, ts_lo, ts_hi)
    new_versions = matched.withColumn(tomb, F.lit(True))
    # one row per key from the dedup view; the tombstone column is never
    # a dedup key by schema validation, but guard structurally anyway
    return _count_and_append(
        table,
        new_versions,
        stamp,
        key_unique=tomb not in set(table.version_key),
    )


def update_from(
    table: Table,
    source: DataFrame,
    join_keys: list[str],
    assignments: dict[str, Column],
    predicate: Column | str | None = None,
    project_id: str | None = None,
    ts_lo: str | None = None,
    ts_hi: str | None = None,
    stamp: Column | str | None = None,
) -> int:
    """UPDATE … FROM source USING join_keys SET assignments.

    `predicate` filters the TARGET side before the join (the reference
    splits UPDATE…FROM conjuncts the same way, dml.rs:84-130: equi-join
    conjuncts become keys, target-only conjuncts stay filters).
    Assignment columns may reference ``source.<col>`` via the aliased side
    (`F.col("_src.<col>")`). The source is guarded to
    MAX_UPDATE_SOURCE_ROWS and broadcast — at 100 TB target-side scale the
    join stays a broadcast hash join with zero target shuffle.

    Non-version_append tables take the in-place MERGE path
    (dml.rs:958-1004): affected partitions LEFT-join the broadcast source
    and rewrite atomically; unmatched rows pass through unchanged."""
    assignments = _with_derived_date(table, assignments)
    # Materialize the bounded source ONCE (≤ MAX_UPDATE_SOURCE_ROWS by
    # contract): the duplicate-key guard, the matched-partition probe
    # and the rewrite each build their broadcast
    # from this materialization instead of re-running the source plan
    # per action — 2-3 evaluations of an arbitrary caller query folded
    # into one (optimization r14, guide §3/§1.2; VERDICT r13 next-#4).
    source = source.localCheckpoint(eager=True)
    # ONE job guards both source bounds: rows-per-key groups re-aggregate
    # into (total rows, distinct key tuples) — the separate count() and
    # distinct().count() actions each scanned the source (optimization
    # r13, guide §1.2). groupBy groups NULL key tuples exactly like
    # distinct() counted them. coalesce(1) over the tiny checkpointed
    # blocks gives SinglePartition output, which satisfies the aggregate's
    # distribution — the guard runs as one exchange-free job.
    kc = (
        source.coalesce(1)
        .groupBy(*join_keys)
        .agg(F.count(F.lit(1)).alias("_tf_c"))
        .agg(F.sum("_tf_c").alias("_tf_n"), F.count(F.lit(1)).alias("_tf_k"))
        .first()
    )
    n_src = int(kc["_tf_n"] or 0)
    n_keys = int(kc["_tf_k"])
    if n_src > MAX_UPDATE_SOURCE_ROWS:
        raise ValueError(f"UPDATE…FROM source too large: {n_src} > {MAX_UPDATE_SOURCE_ROWS}")
    # Duplicate join keys in the source MULTIPLY matching target rows
    # through the join — the in-place rewrite would publish physically
    # duplicated data, and the MOR path would append several same-stamp
    # versions per visible row (nondeterministic _tf_pos winner, inflated
    # update count; PG updates each target row once). Same contract as
    # Delta MERGE's multiple-source-match error, on BOTH paths
    # (review r10: the guard previously covered only the in-place path).
    if n_keys != n_src:
        raise ValueError(
            f"UPDATE…FROM source has duplicate join keys "
            f"({n_src} rows, {n_keys} distinct {join_keys}): a merge "
            "would update matched target rows more than once; "
            "de-duplicate the source first"
        )
    src = F.broadcast(source.alias("_src"))
    cond = None
    for k in join_keys:
        c = F.col(f"_tgt.{k}") == F.col(f"_src.{k}")
        cond = c if cond is None else (cond & c)
    # qualify target columns with _tgt: the source legitimately carries
    # table columns (e.g. project_id among the join keys), and the bare
    # name over the join is AMBIGUOUS_REFERENCE (review r10)
    tgt_cols = [F.col(f"_tgt.{f.name}").alias(f.name) for f in table.schema.fields]
    if not table.schema.version_append:
        pred = _dml_condition(table, predicate, project_id, ts_lo, ts_hi)
        src_flagged = F.broadcast(
            source.withColumn("_tf_s", F.lit(True)).alias("_src")
        )

        # The target-only predicate is evaluated BEFORE the join (flag
        # column), so bare column names in it can never collide with
        # same-named source columns; `_tf_m` = source match AND target
        # filter. Unmatched rows pass through unchanged.
        def mark(df: DataFrame) -> DataFrame:
            flagged = df.withColumn("_tf_p", F.coalesce(pred, F.lit(False)))
            joined = flagged.alias("_tgt").join(src_flagged, cond, "left")
            return joined.select(
                *tgt_cols,
                (F.col("_src._tf_s").isNotNull() & F.col("_tgt._tf_p")).alias("_tf_m"),
                *[
                    assignments[c]
                    .cast(table.schema.spark_schema[c].dataType)
                    .alias(f"_tf_new_{c}")
                    for c in assignments
                ],
            )

        if table.schema.dedup_keys:
            # dedup-keyed plain table: match the VISIBLE rows (a raw join
            # also matches superseded loser versions — review r10)
            return _inplace_keyed(table, pred, mark, set(assignments))
        raw, rf = table.pinned_raw()
        matched = raw.where(pred).alias("_tgt").join(src, cond, "leftsemi")
        return _inplace_rewrite(
            table,
            raw,
            rf,
            matched,
            lambda df: _apply_marked(table, mark(df), assignments),
        )
    target = _resolve(table, predicate, project_id, ts_lo, ts_hi).alias("_tgt")
    joined = target.join(src, cond, "inner")
    # Select assignment expressions against the joined frame so `_src.`
    # references resolve; untouched columns pass through from the target.
    new_versions = joined.select(
        *[
            F.col(f"_tgt.{f.name}").alias(f.name)
            if f.name not in assignments
            else assignments[f.name].alias(f.name)
            for f in table.schema.fields
        ]
    )
    moved = _moved(table, assignments, "_tgt.")
    tombs = None
    if moved is not None:
        tombs = (
            joined.where(moved)
            .select(*tgt_cols)
            .withColumn(table.schema.tombstone_column, F.lit(True))
        )
    # dedup view ⋈ distinct-keyed source (guarded above) keeps one row
    # per target key; key-unique unless an assignment rewrites a key
    return _count_and_append(
        table,
        new_versions,
        stamp,
        key_unique=not (set(table.version_key) & set(assignments)),
        tombstones=tombs,
    )
