"""sqllogictest runner: executes the reference's slt corpus against this
engine end-to-end.

The reference validates its SQL surface with sqllogictest files
(tests/suite/sqllogictest.rs:1-40 runs tests/slt/*.slt against a live
server over pgwire). This module is the same harness for the Spark engine:

- ``statement ok`` INSERT/UPDATE/DELETE/CREATE TABLE route through the
  REAL storage paths — `Table.append` (coerce → stamp → LWW dedup →
  sorted partitioned write), `storage.dml` (version-append MOR), dynamic
  `TableSchema` creation — not a shortcut in-memory table.
- ``query`` records translate PG dialect via `pgshim.pg_to_spark_sql`
  and run on `spark.sql` over the tables' merge-on-read read views.
- results are formatted with sqllogictest conventions (NULL, (empty),
  true/false, float display) and compared against the expected block,
  honoring `rowsort` / `valuesort`.

A passing file means a user of the reference could run that file's
workload here and see identical answers.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timefusion_spark.functions.register import register_all
from timefusion_spark.pgshim import PG_TYPE_MAP, pg_to_spark_sql
from timefusion_spark.storage import Table, dml
from timefusion_spark.storage.schema import FieldDef, TableSchema, load_schema

_SCHEMA_DIR = os.path.join(os.path.dirname(__file__), "schemas")

# ---------------------------------------------------------------- parsing


@dataclass
class Record:
    kind: str  # "statement_ok" | "statement_error" | "query"
    sql: str
    line: int
    types: str = ""
    sort: str = "nosort"
    expected: list[str] = field(default_factory=list)


def parse_slt(text: str) -> list[Record]:
    lines = text.splitlines()
    records: list[Record] = []
    i = 0
    while i < len(lines):
        ln = lines[i].strip()
        if not ln or ln.startswith("#"):
            i += 1
            continue
        start = i + 1
        if ln.startswith("statement"):
            kind = "statement_error" if "error" in ln else "statement_ok"
            i += 1
            sql_lines = []
            while i < len(lines) and lines[i].strip() and not lines[i].startswith("#"):
                sql_lines.append(lines[i])
                i += 1
            records.append(Record(kind, "\n".join(sql_lines), start))
        elif ln.startswith("query"):
            parts = ln.split()
            types = parts[1] if len(parts) > 1 else ""
            sort = parts[2] if len(parts) > 2 else "nosort"
            i += 1
            sql_lines = []
            while i < len(lines) and lines[i].strip() != "----" and lines[i].strip():
                sql_lines.append(lines[i])
                i += 1
            expected: list[str] = []
            if i < len(lines) and lines[i].strip() == "----":
                i += 1
                while i < len(lines) and lines[i].strip():
                    expected.append(lines[i].rstrip("\n"))
                    i += 1
            records.append(
                Record("query", "\n".join(sql_lines), start, types, sort, expected)
            )
        else:
            i += 1
    return records


# ------------------------------------------------------------- formatting


def fmt_value(v, tchar: str) -> str:
    """sqllogictest value rendering (sqllogictest-rs conventions, as used
    by the reference's DataFusion-backed runner)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:  # NaN
            return "NaN"
        return str(int(v)) if v.is_integer() else repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dt.datetime):
        s = v.isoformat(sep="T")
        return s
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(fmt_value(x, tchar) for x in v) + "]"
    from pyspark.sql.types import VariantVal

    if isinstance(v, VariantVal):
        # Auto variant_to_json at the wire (the reference renders Variant
        # columns as canonical JSON text over pgwire — variant_column.slt,
        # so string scalars keep their JSON quotes).
        return v.toJson()
    s = str(v)
    return s if s != "" else "(empty)"


def format_rows(rows, types: str) -> list[str]:
    out = []
    for row in rows:
        vals = list(row)
        cells = []
        for idx, v in enumerate(vals):
            t = types[idx] if idx < len(types) else "T"
            cells.append(fmt_value(v, t))
        out.append(" ".join(cells))
    return out


def compare(actual: list[str], expected: list[str], sort: str) -> bool:
    # whitespace-normalize in EVERY branch: slt authors column-align
    # expected blocks, and format_rows single-space-joins — rowsort used
    # to compare raw stripped lines (review r12)
    exp = [re.sub(r"\s+", " ", e.strip()) for e in expected]
    act = [re.sub(r"\s+", " ", a.strip()) for a in actual]
    if sort == "rowsort":
        act, exp = sorted(act), sorted(exp)
    elif sort == "valuesort":
        act = sorted(v for a in act for v in a.split())
        exp = sorted(v for e in exp for v in e.split())
    return act == exp


# ------------------------------------------------------------- execution

_CREATE_RE = re.compile(
    r"(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.*)\)\s*$"
)
_INSERT_RE = re.compile(r"(?is)^\s*INSERT\s+INTO\s+(\w+)\s*(\(([^)]*)\))?\s*VALUES\s*(.*)$")
_INSERT_SEL_RE = re.compile(r"(?is)^\s*INSERT\s+INTO\s+(\w+)\s*(\(([^)]*)\))?\s*(SELECT\s+.*)$")
# SET/FROM/WHERE are separated by a QUOTE-AWARE top-level scan in
# _update, not by this regex: a greedy `(?:\s+FROM\s+…)?` binds ' from '
# inside string literals ("SET note = 'copied from backup'"), and PG
# allows UPDATE without WHERE (all rows).
_UPDATE_RE = re.compile(r"(?is)^\s*UPDATE\s+(\w+)\s+SET\s+(.*)$")
_DELETE_RE = re.compile(r"(?is)^\s*DELETE\s+FROM\s+(\w+)\s*(?:WHERE\s+(.*))?$")
_DROP_RE = re.compile(r"(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$")
_ALTER_ADD_RE = re.compile(
    # [\w ]*: digit-bearing type names (int4, int8, float8) failed the
    # letters-only tail and fell through to the plain spark.sql path
    # (review r12)
    r"(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+(?:COLUMN\s+)?"
    r"(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+([A-Za-z][\w ]*(?:\([^)]*\))?[\w ]*)\s*$"
)
_TRUNCATE_RE = re.compile(r"(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?(\w+)\s*$")
_CREATE_VIEW_RE = re.compile(
    r"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.*)$"
)
_DROP_VIEW_RE = re.compile(r"(?is)^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$")
_CTAS_RE = re.compile(
    r"(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+"
    r"((?:SELECT|WITH|VALUES|TABLE)\s+.*)$"
)

_PG_COLTYPE = {
    "integer": "Int32",
    "int": "Int32",
    "int4": "Int32",
    "bigint": "Int64",
    "int8": "Int64",
    "smallint": "Int16",
    "int2": "Int16",
    "double": "Float64",
    "double precision": "Float64",
    "real": "Float32",
    "float4": "Float32",
    "float": "Float64",
    "float8": "Float64",
    # PG numeric is arbitrary precision; the sidecar vocabulary (the
    # reference's arrow set) stores it as Float64 — same mapping as the
    # shim's PG_TYPE_MAP and the CTAS decimal rule. Leaving these out
    # fell through to Utf8, silently turning `a > 5` into a STRING
    # comparison ('10' > '5' false) — wrong answers, no error (review
    # r11). Every key of PG_TYPE_MAP must resolve here; pinned by test.
    "numeric": "Float64",
    "decimal": "Float64",
    "varchar": "Utf8",
    "char": "Utf8",
    "bpchar": "Utf8",
    "uuid": "Utf8",
    "json": "Utf8",
    "jsonb": "Utf8",
    "text": "Utf8",
    "boolean": "Boolean",
    "bool": "Boolean",
    "bytea": "Binary",
    "date": "Date32",
    "timestamp": 'Timestamp(Microsecond, Some("UTC"))',
    "timestamp with time zone": 'Timestamp(Microsecond, Some("UTC"))',
    "timestamp without time zone": 'Timestamp(Microsecond, Some("UTC"))',
    "timestamptz": 'Timestamp(Microsecond, Some("UTC"))',
}


def _split_top_kw(text: str, word: str) -> list[str]:
    """Split `text` on a TOP-LEVEL keyword — outside single-quoted
    literals and parens/brackets, bounded by ANY whitespace (newlines
    included, which a literal `' WHERE '` separator would miss)."""
    out: list[str] = []
    buf: list[str] = []
    depth, i, n, wl = 0, 0, len(text), len(word)
    while i < n:
        ch = text[i]
        if ch == "'":
            m = re.match(r"'(?:''|[^'])*'", text[i:])
            frag = m.group(0) if m else ch
            buf.append(frag)
            i += len(frag)
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if (
            depth == 0
            and text[i : i + wl].upper() == word.upper()
            and i > 0
            and text[i - 1].isspace()
            and i + wl < n
            and text[i + wl].isspace()
        ):
            out.append("".join(buf))
            buf = []
            i += wl
            continue
        buf.append(ch)
        i += 1
    out.append("".join(buf))
    return out


def _balanced_end(text: str, i: int) -> int:
    """One past the ')' balancing the '(' at `i`, quote-aware; len(text)
    if unterminated."""
    depth, j, n = 0, i, len(text)
    while j < n:
        ch = text[j]
        if ch == "'":
            m = re.match(r"'(?:''|[^'])*'", text[j:])
            j += len(m.group(0)) if m else 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return j + 1
        j += 1
    return n


def _rewrite_qual(text: str, name: str, repl: str = "") -> str:
    """Replace `name.` relation qualifiers in an expression with `repl`
    — OUTSIDE single-quoted literals (a literal containing 'name.' is
    data, not a qualifier: the old `re.sub(rf"\\b{name}\\.", ...)`
    deleted the WRONG rows for `DELETE FROM t WHERE note = 't.x'` —
    review r11-judge #1) and outside `(SELECT …)` subqueries, whose FROM
    may re-alias `name` to a different relation (PG scoping: the inner
    alias shadows the DML target). Case-insensitive like PG's identifier
    folding; schema-qualified `other.name.col` is left alone."""
    out: list[str] = []
    i, n, nl = 0, len(text), len(name)
    low = name.lower()
    while i < n:
        ch = text[i]
        if ch == "'":
            m = re.match(r"'(?:''|[^'])*'", text[i:])
            frag = m.group(0) if m else ch
            out.append(frag)
            i += len(frag)
            continue
        if ch == "(" and re.match(r"\(\s*SELECT\b", text[i:], re.IGNORECASE):
            j = _balanced_end(text, i)
            out.append(text[i:j])
            i = j
            continue
        if (
            text[i : i + nl].lower() == low
            and i + nl < n
            and text[i + nl] == "."
            and (i == 0 or not (text[i - 1].isalnum() or text[i - 1] in '_."'))
            and i + nl + 1 < n
            and (text[i + nl + 1].isalpha() or text[i + nl + 1] in '_"*')
        ):
            out.append(repl)
            i += nl + 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _split_top(text: str, sep: str = ",") -> list[str]:
    out, depth, buf, i = [], 0, [], 0
    while i < len(text):
        ch = text[i]
        if ch == "'":
            m = re.match(r"'(?:''|[^'])*'", text[i:])
            frag = m.group(0) if m else ch
            buf.append(frag)
            i += len(frag)
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if depth == 0 and text[i : i + len(sep)].upper() == sep.upper():
            # word separators need boundaries — underscore is a WORD char
            # in SQL identifiers (p_and_l must not split at "and")
            if sep.strip() and sep[0].isalpha():
                before = text[i - 1] if i else " "
                after = text[i + len(sep)] if i + len(sep) < len(text) else " "
                if (
                    before.isalnum()
                    or before == "_"
                    or after.isalnum()
                    or after == "_"
                ):
                    buf.append(ch)
                    i += 1
                    continue
            out.append("".join(buf))
            buf = []
            i += len(sep)
            continue
        buf.append(ch)
        i += 1
    out.append("".join(buf))
    return out


@dataclass
class TxnState:
    """One open explicit transaction (BEGIN … COMMIT/ROLLBACK): the commit
    group its INSERTs stage under, the tables it has touched (their views
    need a read-your-writes overlay and a post-commit refresh), and the
    PG failed flag — after any in-transaction error, every statement but
    COMMIT/ROLLBACK is refused until the block ends (PG 25P02 semantics)."""

    group: object
    tables: set = field(default_factory=set)
    failed: bool = False
    # SAVEPOINT machinery: each savepoint opens a SEGMENT (an abort-only
    # gate every later INSERT's commit carries). ROLLBACK TO settles the
    # segments at-and-after the savepoint 'aborted' — their commits die
    # forever — while COMMIT remains ONE atomic umbrella publish.
    segments: list = field(default_factory=list)
    savepoints: dict = field(default_factory=dict)  # name -> segment index

    @property
    def current_segment(self):
        return self.segments[-1] if self.segments else None


def _reject_in_txn(txn: "TxnState | None", what: str) -> None:
    if txn is not None:
        raise ValueError(
            f"{what} is not supported inside an explicit transaction "
            "(only INSERT and SELECT are transactional; run it outside "
            "BEGIN…COMMIT)"
        )


class SltEnv:
    """One execution environment: the engine tables + views for a file."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.tables: dict[str, Table] = {}
        # live handle for pg_indexes (the dict mutates in place, so one
        # registration keeps the catalog view current)
        from timefusion_spark.pgshim import register_storage_tables

        register_storage_tables(self.tables, spark)
        # named SQL views (CREATE VIEW): name -> PG-dialect SELECT text,
        # in creation order. Spark temp views capture the ANALYZED plan,
        # so after any table refresh every dependent view is re-created
        # (cheap DDL) to stay live. Persisted under base_dir so a server
        # restart remounts them (_tf_views.json).
        self.views: dict[str, str] = {}
        # commit-log version each table's SQL view was registered at —
        # refresh_stale() compares against the live tip so external
        # writers become visible without a manual refresh
        self._view_versions: dict[str, int] = {}
        register_all(spark)
        for yaml_name in ("otel_logs_and_spans.yaml", "mor_versioned.yaml"):
            schema = load_schema(os.path.join(_SCHEMA_DIR, yaml_name))
            self._add_table(schema)

    def _add_table(self, schema: TableSchema, from_create: bool = False) -> None:
        # Attach-or-create: a restarted server (python -m timefusion_spark
        # .server over the same --base-dir) re-attaches its own data instead
        # of failing on the existing sidecar — the reference likewise mounts
        # whatever tables the object store already holds at startup
        # (database.rs register_project_tables on boot). A user-issued
        # CREATE TABLE (from_create) only re-attaches when the requested
        # columns MATCH the sidecar: silently adopting a stale definition
        # would make later INSERTs coerce against columns the user never
        # asked for (PG raises 'relation already exists'; we accept the
        # idempotent same-schema re-create for restart ergonomics).
        path = os.path.join(self.base_dir, schema.table_name)
        if os.path.exists(os.path.join(path, "_tf_schema.json")):
            tbl = Table.open(self.spark, path)
            if from_create:
                want = [(f.name, f.data_type) for f in schema.fields]
                have = [(f.name, f.data_type) for f in tbl.schema.fields]
                if want != have:
                    raise ValueError(
                        f'relation "{schema.table_name}" already exists on disk '
                        f"with a different schema (existing {have}, requested "
                        f"{want}); DROP TABLE it or reuse the existing columns"
                    )
        else:
            tbl = Table.create(self.spark, schema, path)
        self.tables[schema.table_name] = tbl
        # Tell the SQL rewriter which columns are VariantType so `->`/`->>`
        # / variant_get bind on the stored Variant binary directly.
        from timefusion_spark.pgshim import register_variant_columns

        register_variant_columns(
            (f.name for f in schema.fields if f.data_type == "Variant"),
            spark=self.spark,
        )
        self._refresh(schema.table_name)

    def _refresh(self, name: str) -> None:
        # the relation's column types may change with its view (CREATE /
        # ALTER / refresh all land here) — drop the variant-type memo
        from timefusion_spark.pgshim import invalidate_table_types

        invalidate_table_types(self.spark, name)
        tbl = self.tables[name]
        # The tip is read BEFORE the relation is built: a commit landing
        # in between (Arrow ingest commits under its own lock, not the
        # statement lock) is then in the view or newer than the recorded
        # version, so the next refresh_stale picks it up. Read after, it
        # would be recorded as seen while missing from the view.
        tip = tbl.log.latest_version() if tbl.log.exists() else -1
        try:
            df = tbl.read()
        except Exception:
            # ONLY the no-files-yet case may fall back to an empty
            # relation — swallowing a real read failure (corrupt parquet,
            # torn commit log) would silently serve 0 rows for a table
            # that has data (review r12)
            has_data = (
                bool(tbl.log.snapshot().files)
                if tbl.log.exists()
                else any(
                    f.endswith(".parquet")
                    for _, _, fs in os.walk(tbl.path)
                    for f in fs
                )
            )
            if has_data:
                raise
            df = self.spark.createDataFrame([], tbl.schema.spark_schema)
            vis = [
                f.name
                for f in tbl.schema.fields
                if f.name != tbl.schema.tombstone_column
            ]
            df = df.select(*vis)
        df.createOrReplaceTempView(name)
        self._view_versions[name] = tip
        if self.views:
            # dependent CREATE VIEW definitions captured the OLD analyzed
            # plan of this table's view — re-create them against the new one
            self._reregister_views()

    def _views_path(self) -> str:
        return os.path.join(self.base_dir, "_tf_views.json")

    def _save_views(self) -> None:
        import json

        os.makedirs(self.base_dir, exist_ok=True)
        tmp = self._views_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.views, f)
        os.replace(tmp, self._views_path())

    def _register_view(self, name: str, select_text: str) -> None:
        from timefusion_spark.pgshim import invalidate_table_types

        invalidate_table_types(self.spark, name)
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {name} AS "
            + pg_to_spark_sql(select_text, self.spark)
        )

    def _create_view(self, m: re.Match) -> None:
        or_replace, name, select_text = m.groups()
        if name in self.tables:
            raise ValueError(f"{name} is a table")
        if name in self.views and not or_replace:
            raise ValueError(f"view {name} exists")
        self._register_view(name, select_text)  # validates the SELECT
        self.views[name] = select_text
        self._save_views()
        self._sync_catalog_views()

    def _sync_catalog_views(self) -> None:
        from timefusion_spark.pgshim import register_catalog_views

        register_catalog_views(self.views, self.spark)

    def _reregister_views(self) -> None:
        for name, sql in self.views.items():
            try:
                self._register_view(name, sql)
            except Exception:  # noqa: BLE001 — a dropped base table
                pass

    def mount_views(self) -> list[str]:
        """Load persisted view definitions (restart remount)."""
        import json

        if not os.path.exists(self._views_path()):
            return []
        with open(self._views_path()) as f:
            stored = json.load(f)
        for name, sql in stored.items():
            self.views.setdefault(name, sql)
        self._reregister_views()
        self._sync_catalog_views()
        return list(stored)

    def refresh_stale(self) -> list[str]:
        """Re-register the SQL view of every table whose commit log
        advanced past the version its view captured — commits from
        EXTERNAL writers (a streaming ingest, another process over the
        same store) become visible to the next statement, matching the
        reference's always-live snapshot listing. Cost per call is one
        log-dir listing per table, plus one view rebuild (Table.read, no
        Spark job) per table that advanced. Runner-mediated SQL writes
        refresh eagerly, but Arrow ingest commits outside the runner, so
        under a steady ingest stream each read after a commit pays one
        rebuild here."""
        # several envs can interleave on one shared SparkSession (tests,
        # embedded use); make THIS env's tables the ones pg_indexes sees
        # for the statement about to run — registration is a dict swap
        from timefusion_spark.pgshim import register_storage_tables

        register_storage_tables(self.tables, self.spark)
        refreshed: list[str] = []
        for name, tbl in self.tables.items():
            tip = tbl.log.latest_version() if tbl.log.exists() else -1
            if self._view_versions.get(name) != tip:
                self._refresh(name)
                refreshed.append(name)
        return refreshed

    def register_txn_views(self, txn: "TxnState") -> dict[str, str]:
        """Read-your-own-writes overlays: for each table the transaction
        touched, register a uniquely-named temp view whose snapshot
        ADDITIONALLY includes the txn's own pending group commits
        (Table.read include_group). The overlay names embed the group id,
        so no other connection can ever resolve them; the committed-state
        views under the real table names are untouched. Returns
        {table_name: overlay_view_name} for the caller's identifier
        rewrite."""
        txn.group.heartbeat()  # in-txn reads also count as liveness
        mapping: dict[str, str] = {}
        for name in sorted(txn.tables):
            tbl = self.tables.get(name)
            if tbl is None:
                continue
            view = f"__tf_txn_{txn.group.id[:12]}_{name}"
            tbl.read(include_group=txn.group.id).createOrReplaceTempView(view)
            mapping[name] = view
        return mapping

    def drop_txn_views(self, txn: "TxnState") -> None:
        for name in sorted(txn.tables):
            self.spark.catalog.dropTempView(f"__tf_txn_{txn.group.id[:12]}_{name}")

    def mount_existing(self) -> list[str]:
        """Mount every table directory under base_dir not yet registered
        (dirs carrying a `_tf_schema.json` sidecar) — tables a previous
        server process created via CREATE TABLE survive a restart. Returns
        the newly mounted names."""
        from timefusion_spark.pgshim import register_variant_columns

        mounted: list[str] = []
        if not os.path.isdir(self.base_dir):
            return mounted
        for entry in sorted(os.listdir(self.base_dir)):
            path = os.path.join(self.base_dir, entry)
            if entry in self.tables or not os.path.isdir(path):
                continue
            if not os.path.exists(os.path.join(path, "_tf_schema.json")):
                continue
            tbl = Table.open(self.spark, path)
            self.tables[tbl.schema.table_name] = tbl
            register_variant_columns(
                (f.name for f in tbl.schema.fields if f.data_type == "Variant"),
                spark=self.spark,
            )
            self._refresh(tbl.schema.table_name)
            mounted.append(tbl.schema.table_name)
        self.mount_views()
        return mounted

    # ---- statements

    def _create_table(self, m: re.Match) -> None:
        name, cols_text = m.group(1), m.group(2)
        if name in self.tables:
            if re.search(r"(?i)IF\s+NOT\s+EXISTS", m.string):
                return
            raise ValueError(f"table {name} exists")
        fields = []
        for coldef in _split_top(cols_text):
            coldef = coldef.strip()
            if not coldef:
                continue
            # table-level constraints are not columns: `PRIMARY KEY (a)`,
            # `UNIQUE (a,b)`, `CHECK (…)`, `FOREIGN KEY …`, `CONSTRAINT …`
            # would otherwise parse as a column named PRIMARY/UNIQUE/…
            if re.match(
                r"(?is)^(PRIMARY\s+KEY|FOREIGN\s+KEY|UNIQUE|CHECK|CONSTRAINT|"
                r"EXCLUDE)\b",
                coldef,
            ):
                continue
            parts = coldef.split()
            cname = parts[0]
            typetext = " ".join(parts[1:])
            # strip column constraints BEFORE the type lookup — `a INT NOT
            # NULL` must resolve type 'int', not fall through the
            # type-map default to Utf8 (which would silently turn numeric
            # comparisons into string ones)
            nullable = re.search(r"(?i)\bNOT\s+NULL\b", typetext) is None
            typetext = re.split(
                r"(?i)\s+(?:NOT\s+NULL|NULL|PRIMARY\s+KEY|UNIQUE|DEFAULT|"
                r"REFERENCES|CHECK|GENERATED|COLLATE)\b",
                typetext,
            )[0]
            ctype = typetext.lower().split("(")[0].strip() or "text"
            fields.append(FieldDef(cname, _PG_COLTYPE.get(ctype, "Utf8"), nullable))
        schema = TableSchema(table_name=name, fields=fields)
        self._add_table(schema, from_create=True)

    def _create_table_as(self, m: re.Match) -> None:
        """CREATE TABLE t AS SELECT … (CTAS): run the SELECT through the
        shim, derive the sidecar schema from the result, create the table
        through the normal storage path, then append the rows as one
        atomic commit. Decimals store as Float64 (the sidecar's numeric
        vocabulary is the reference's arrow set, which the repo's CREATE
        TABLE path also maps PG numeric onto)."""
        from pyspark.sql import types as T

        if_not_exists, name, select_text = m.groups()
        if name in self.tables:
            if if_not_exists:
                return
            raise ValueError(f"table {name} exists")
        if os.path.exists(os.path.join(self.base_dir, name, "_tf_schema.json")):
            # plain CREATE's idempotent re-attach is safe; CTAS's
            # attach-then-append would duplicate the old rows under the
            # new result (review r12) — PG raises 'relation exists',
            # and IF NOT EXISTS skips like the mounted-table branch
            if if_not_exists:
                return
            raise ValueError(
                f"table {name} already exists on disk; CTAS will not "
                "append onto it — DROP TABLE it first"
            )
        df = self.spark.sql(pg_to_spark_sql(select_text, self.spark))

        def sidecar_type(dt: T.DataType) -> str:
            mapping = {
                T.StringType: "Utf8", T.IntegerType: "Int32", T.LongType: "Int64",
                T.ShortType: "Int16", T.ByteType: "Int8", T.FloatType: "Float32",
                T.DoubleType: "Float64", T.BooleanType: "Boolean",
                T.DateType: "Date32", T.BinaryType: "Binary",
                T.VariantType: "Variant",
            }
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                return 'Timestamp(Microsecond, Some("UTC"))'
            if isinstance(dt, T.DecimalType):
                return "Float64"
            if isinstance(dt, T.ArrayType):
                return f"List({sidecar_type(dt.elementType)})"
            for cls, s in mapping.items():
                if isinstance(dt, cls):
                    return s
            raise ValueError(
                f"CTAS cannot store column type {dt.simpleString()}"
            )

        fields = [FieldDef(f.name, sidecar_type(f.dataType), True) for f in df.schema.fields]
        schema = TableSchema(table_name=name, fields=fields)
        self._add_table(schema, from_create=True)
        # Table.coerce casts the result to the declared types (decimal →
        # double here) — the same coercion every INSERT gets
        self._append(self.tables[name], df, txn=None)

    def _alter_add_column(self, m: re.Match) -> None:
        """ALTER TABLE t ADD COLUMN c type — the SQL face of the
        migrate-columns maintenance job (main.rs:622-671 exposes it only
        as a CLI verb): the sidecar schema widens with a nullable column,
        zero data rewrite, existing files read NULL through the explicit
        read schema."""
        from timefusion_spark.storage.maintenance import migrate_columns

        name, if_not_exists, cname, ctype_text = m.groups()
        tbl = self.tables.get(name)
        if tbl is None:
            raise ValueError(f"unknown table {name}")
        if any(f.name == cname for f in tbl.schema.fields):
            if if_not_exists:
                return
            raise ValueError(f"column {cname} of {name} already exists")
        # strip column constraints BEFORE the type lookup, same as
        # _create_table: `ADD COLUMN c int NOT NULL` would resolve type
        # 'int not null' and silently fall through to Utf8, turning
        # numeric comparisons into string ones (review r12)
        ctype_text = re.split(
            r"(?i)\s+(?:NOT\s+NULL|NULL|PRIMARY\s+KEY|UNIQUE|DEFAULT|"
            r"REFERENCES|CHECK|GENERATED|COLLATE)\b",
            ctype_text,
        )[0]
        ctype = ctype_text.lower().split("(")[0].strip()
        migrate_columns(tbl, [FieldDef(cname, _PG_COLTYPE.get(ctype, "Utf8"), True)])
        self._refresh(name)

    def _resolve_insert_target(self, name: str) -> Table:
        """Resolve an INSERT target, honoring the `<table>__bulk` write
        alias (tests/e2e/bulk_load.rs): the reference's bulk alias commits
        straight to Delta, bypassing WAL + MemBuffer, while the rows stay
        queryable from the real table. Here the batch `Table.append` IS the
        direct-commit path (the buffered analog is the streaming ingest),
        so both names land on the same table — the alias is accepted so
        bulk-loader clients work unchanged."""
        if name.endswith("__bulk"):
            name = name[: -len("__bulk")]
        tbl = self.tables.get(name)
        if tbl is None:
            raise ValueError(f"unknown table {name}")
        return tbl

    def _append(
        self,
        tbl: Table,
        df: DataFrame,
        txn: "TxnState | None",
        n_rows: int | None = None,
    ) -> int:
        """One INSERT's landing: autocommit publishes immediately and
        refreshes the view; inside an explicit transaction the append
        stages under the txn's commit group (invisible everywhere until
        commit_txn) and the view refresh waits for the commit. Returns
        the inserted-row count so the wire can answer a real
        `INSERT 0 <n>` tag (review r11: drivers' rowcount was always 0).
        Callers that already KNOW the row count (VALUES tuples, COPY
        chunks) pass `n_rows` and pay nothing; otherwise an Observation
        rides the write job (no second action; the fallback re-count
        covers AQE's empty-relation propagation, same as
        dml._count_and_append). Observation.get waits on a listener
        callback — measurable per-statement latency on the hot ingest
        path, which is why the known-count fast path exists."""
        obs = None
        if n_rows is None:
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        if txn is None:
            tbl.append(df)
            self._refresh(tbl.schema.table_name)
        else:
            txn.group.heartbeat()  # active coordinator: refresh pending age
            tbl.append(df, group=txn.group, segment=txn.current_segment)
            txn.tables.add(tbl.schema.table_name)
        if obs is None:
            return int(n_rows)
        try:
            return int(obs.get["n"])
        except Exception:  # noqa: BLE001 — unreadable observation
            return df.count()

    def _insert_select(self, m: re.Match, txn: "TxnState | None" = None) -> int:
        """INSERT INTO t [(cols)] SELECT … — the column-oriented bulk path
        (tests/e2e/insert_unnest_variant.rs): the SELECT usually reads
        FROM unnest(<array per column>), which the shim lowers to
        inline(arrays_zip(…)). Column alignment is positional, like PG."""
        tbl = self._resolve_insert_target(m.group(1))
        select_text = m.group(4).strip().rstrip(";")
        if txn is not None and txn.tables:
            # read-your-own-writes: inside an open transaction the SELECT
            # must see the txn's staged rows — rewrite its table
            # references to the overlay views exactly like an in-txn
            # SELECT does (review r11: `BEGIN; INSERT INTO a …; INSERT
            # INTO b SELECT * FROM a` silently read committed-only `a`)
            from timefusion_spark.server import _rewrite_idents

            select_text = _rewrite_idents(
                select_text, self.register_txn_views(txn)
            )
        df = self.spark.sql(pg_to_spark_sql(select_text, self.spark))
        cols = (
            [c.strip() for c in m.group(3).split(",")]
            if m.group(3)
            else [f.name for f in tbl.schema.fields][: len(df.columns)]
        )
        if len(cols) != len(df.columns):
            raise ValueError(
                f"INSERT column count {len(cols)} != SELECT width {len(df.columns)}"
            )
        return self._append(tbl, df.toDF(*cols), txn)

    def _insert(self, m: re.Match, txn: "TxnState | None" = None) -> int:
        tbl = self._resolve_insert_target(m.group(1))
        name = tbl.schema.table_name
        cols = (
            [c.strip() for c in m.group(3).split(",")]
            if m.group(3)
            else [f.name for f in tbl.schema.fields]
        )
        values_text = pg_to_spark_sql(m.group(4).strip().rstrip(";"), self.spark)
        # newline before the alias: the last VALUES line may end in a
        # `-- comment` that would otherwise swallow it
        df = self.spark.sql(
            f"SELECT * FROM VALUES {values_text}\nAS __ins({', '.join(cols)})"
        )
        # the row count is the number of TOP-LEVEL tuples in the VALUES
        # list — known without any Spark action
        n_tuples = len([t for t in _split_top(values_text) if t.strip()])
        return self._append(tbl, df, txn, n_rows=n_tuples)

    def copy_rows(
        self,
        table: str,
        cols: list[str] | None,
        rows: list[list[str | None]],
        txn: "TxnState | None" = None,
    ) -> int:
        """One COPY FROM STDIN chunk's landing (the bulk network-ingest
        path — the reference's gRPC ingest endpoint analog,
        grpc_handlers.rs:24-27): rows arrive as text-format field lists
        (None = NULL) and ride the same coerce → stamp → dedup → sorted
        write path as INSERT; Table.coerce casts the strings to the
        declared types. With `txn` (the wire handler passes either the
        open interactive transaction or a per-COPY ephemeral one), the
        chunk stages under the txn's commit group, keeping the whole COPY
        atomic across its chunked flushes."""
        tbl = self._resolve_insert_target(table)
        names = cols or [f.name for f in tbl.schema.fields]
        width = len(names)
        for i, r in enumerate(rows):
            if len(r) != width:
                raise ValueError(
                    f"COPY row {i + 1} of chunk has {len(r)} fields, "
                    f"expected {width} ({', '.join(names)})"
                )
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType([StructField(n, StringType(), True) for n in names])
        self._append(
            tbl, self.spark.createDataFrame(rows, schema), txn, n_rows=len(rows)
        )
        return len(rows)

    def _source_alias(self, from_text: str) -> tuple[DataFrame, str]:
        m = re.match(r"(?s)^\s*\((.*)\)\s*(?:AS\s+)?(\w+)\s*$", from_text.strip())
        if not m:
            raise ValueError(f"unsupported UPDATE…FROM source: {from_text!r}")
        src = self.spark.sql(pg_to_spark_sql(m.group(1), self.spark))
        return src, m.group(2)

    def _update(self, m: re.Match) -> int:
        name, rest = m.groups()
        # quote-aware clause split: first top-level WHERE ends the
        # SET[/FROM] region (subquery WHEREs sit inside parens, literal
        # ' where ' inside quotes); WHERE itself is optional in PG
        w = _split_top_kw(rest, "WHERE")
        set_region = w[0]
        where_text = " WHERE ".join(w[1:]) if len(w) > 1 else None
        f = _split_top_kw(set_region, "FROM")
        set_text = f[0]
        from_text = " FROM ".join(f[1:]) if len(f) > 1 else None
        tbl = self.tables.get(name)
        if tbl is None:
            raise ValueError(f"unknown table {name}")
        assigns_raw: dict[str, str] = {}
        for item in _split_top(set_text):
            col, expr = item.split("=", 1)
            assigns_raw[col.strip()] = expr.strip()

        if from_text is None:
            assigns = {
                c: F.expr(pg_to_spark_sql(_rewrite_qual(e, name), self.spark))
                for c, e in assigns_raw.items()
            }
            n = dml.update(
                tbl,
                assigns,
                predicate=(
                    pg_to_spark_sql(_rewrite_qual(where_text, name), self.spark)
                    if where_text is not None
                    else None  # PG: UPDATE without WHERE touches all rows
                ),
            )
        else:
            if where_text is None:
                # PG would cross-join target×source; this engine's
                # UPDATE…FROM is a keyed broadcast merge — refuse loudly
                # rather than guess a join
                raise ValueError(
                    "UPDATE … FROM requires join predicates in WHERE"
                )
            src, alias = self._source_alias(from_text)
            join_keys: list[str] = []
            renames: dict[str, str] = {}
            target_conj: list[str] = []
            eq_re = re.compile(
                rf"^\s*(?:{name}\.)?(\w+)\s*=\s*{alias}\.(\w+)\s*$|"
                rf"^\s*{alias}\.(\w+)\s*=\s*(?:{name}\.)?(\w+)\s*$"
            )
            for conj in _split_top(where_text, " AND "):
                em = eq_re.match(conj.strip())
                if em and (f"{alias}." in conj):
                    tcol = em.group(1) or em.group(4)
                    scol = em.group(2) or em.group(3)
                    join_keys.append(tcol)
                    renames[scol] = tcol
                else:
                    target_conj.append(conj.strip())
            for scol, tcol in renames.items():
                if scol != tcol:
                    src = src.withColumnRenamed(scol, tcol)
            assigns = {}
            for c, e in assigns_raw.items():
                e2 = _rewrite_qual(e, name, "_tgt.")
                e2 = _rewrite_qual(e2, alias, "_src.")
                assigns[c] = F.expr(pg_to_spark_sql(e2, self.spark))
            predicate = None
            if target_conj:
                predicate = pg_to_spark_sql(
                    _rewrite_qual(" AND ".join(target_conj), name),
                    self.spark,
                )
            n = dml.update_from(tbl, src, join_keys, assigns, predicate=predicate)
        self._refresh(name)
        return n

    def _delete(self, m: re.Match) -> int:
        name, where_text = m.group(1), m.group(2)
        tbl = self.tables.get(name)
        if tbl is None:
            raise ValueError(f"unknown table {name}")
        # strip the table qualifier like _update does: `DELETE FROM t
        # WHERE t.id = 5` is valid PG, but the predicate evaluates over
        # the bare read view where alias `t` does not resolve (review r11;
        # literal-skipping + subquery-scoped — review r11-judge #1)
        n = dml.delete(
            tbl,
            predicate=(
                pg_to_spark_sql(_rewrite_qual(where_text, name), self.spark)
                if where_text
                else None
            ),
        )
        self._refresh(name)
        return n

    # ---- entry points

    def run_statement(self, sql: str, txn: "TxnState | None" = None) -> int | None:
        """Execute one storage statement. With `txn` (an open explicit
        transaction from begin_txn), INSERTs stage inside the transaction's
        commit group — invisible to every reader until commit_txn publishes
        them atomically; DDL and UPDATE/DELETE are rejected inside an
        explicit transaction (their commits are not group-staged: an
        in-place rewrite or version-append publishes immediately, which
        would break the all-or-nothing contract)."""
        sql = sql.strip().rstrip(";")
        if m := _DROP_RE.match(sql):
            _reject_in_txn(txn, "DROP TABLE")
            name = m.group(1)
            if name in self.views:
                # PG: wrong-verb DROP errors and leaves the relation
                # intact — even under IF EXISTS (review r12)
                raise ValueError(f'"{name}" is not a table')
            if name not in self.tables and "IF EXISTS" not in sql.upper():
                raise ValueError(f"unknown table {name}")
            dropped = self.tables.pop(name, None)
            self.spark.catalog.dropTempView(name)
            from timefusion_spark.pgshim import invalidate_table_types

            invalidate_table_types(self.spark, name)
            # PG DROP TABLE destroys the relation's storage. Leaving the
            # directory (with its _tf_schema.json sidecar) would make the
            # next CREATE TABLE of the same name silently re-attach the
            # dropped rows — or refuse outright on a schema mismatch —
            # and a restart's mount_existing would resurrect the table.
            if dropped is not None and os.path.realpath(dropped.path).startswith(
                os.path.realpath(self.base_dir) + os.sep
            ):
                import shutil

                shutil.rmtree(dropped.path, ignore_errors=True)
        elif m := _CTAS_RE.match(sql):
            _reject_in_txn(txn, "CREATE TABLE")
            self._create_table_as(m)
        elif m := _CREATE_RE.match(sql):
            _reject_in_txn(txn, "CREATE TABLE")
            self._create_table(m)
        elif m := _ALTER_ADD_RE.match(sql):
            _reject_in_txn(txn, "ALTER TABLE")
            self._alter_add_column(m)
        elif m := _INSERT_RE.match(sql):
            return self._insert(m, txn)
        elif m := _INSERT_SEL_RE.match(sql):
            return self._insert_select(m, txn)
        elif m := _UPDATE_RE.match(sql):
            _reject_in_txn(txn, "UPDATE")
            return self._update(m)
        elif m := _DELETE_RE.match(sql):
            _reject_in_txn(txn, "DELETE")
            return self._delete(m)
        elif m := _CREATE_VIEW_RE.match(sql):
            _reject_in_txn(txn, "CREATE VIEW")
            self._create_view(m)
        elif m := _DROP_VIEW_RE.match(sql):
            _reject_in_txn(txn, "DROP VIEW")
            name = m.group(1)
            if name in self.tables:
                # dropping a TABLE's temp view would break every later
                # query on the still-existing table until its next write;
                # PG errors '"t" is not a view' (review r12)
                raise ValueError(f'"{name}" is not a view')
            if name not in self.views and "IF EXISTS" not in sql.upper():
                raise ValueError(f"unknown view {name}")
            self.views.pop(name, None)
            self.spark.catalog.dropTempView(name)
            from timefusion_spark.pgshim import invalidate_table_types

            invalidate_table_types(self.spark, name)
            self._save_views()
            self._sync_catalog_views()
        elif m := _TRUNCATE_RE.match(sql):
            # PG TRUNCATE == unpredicated DELETE through the same routed
            # path (version-append tables tombstone, plain tables rewrite)
            _reject_in_txn(txn, "TRUNCATE")
            name = m.group(1)
            tbl = self.tables.get(name)
            if tbl is None:
                raise ValueError(f"unknown table {name}")
            n = dml.delete(tbl, predicate=None)
            self._refresh(name)
            return n
        else:
            # plain SQL statement (SELECT used as a probe, etc.)
            self.spark.sql(pg_to_spark_sql(sql, self.spark)).collect()

    # ---- explicit transactions (the pgwire BEGIN/COMMIT/ROLLBACK surface)

    def begin_txn(self, abort_after: float | None = None) -> "TxnState":
        """Open an explicit transaction: one commit group whose marker
        lives under the engine's own base dir (durable with the data, not
        with any checkpoint). Staged INSERTs are invisible until
        commit_txn; the group's atomic publish-vs-abort resolution makes
        COMMIT all-or-nothing across every touched table.

        Lifetime: interactive groups declare commitlog.INTERACTIVE_ABORT_
        AFTER_SECONDS (a day) instead of the 60 s streaming crash-arbiter,
        and every statement the transaction runs heartbeats the staged
        commit records — so a client that stages an INSERT and thinks for
        minutes is never aborted by a concurrent change-feed poll or
        checkpoint boundary (PG's idle-in-transaction timeout defaults to
        disabled). Only a coordinator whose heartbeats stopped for the
        full threshold ages out; its COMMIT then raises, like a
        lock-timeout abort — nothing is ever partially published."""
        from timefusion_spark.storage.commitlog import (
            INTERACTIVE_ABORT_AFTER_SECONDS,
            CommitGroup,
        )

        return TxnState(
            group=CommitGroup(
                os.path.join(self.base_dir, "_tf_txn"),
                abort_after=(
                    INTERACTIVE_ABORT_AFTER_SECONDS
                    if abort_after is None
                    else abort_after
                ),
            ),
        )

    def savepoint(self, txn: "TxnState", name: str) -> None:
        """SAVEPOINT name: statements from here stage under a fresh
        abort-only segment; a later savepoint with the same name shadows
        this one (PG semantics)."""
        from timefusion_spark.storage.commitlog import CommitGroup

        txn.segments.append(CommitGroup(os.path.join(self.base_dir, "_tf_txn")))
        txn.savepoints[name.lower()] = len(txn.segments) - 1

    def rollback_to_savepoint(self, txn: "TxnState", name: str) -> None:
        """ROLLBACK TO [SAVEPOINT] name: definitively abort every segment
        opened at or after the savepoint — their staged commits become
        permanently invisible (even to the owner) — then reopen a fresh
        segment under the SAME savepoint name (PG keeps the savepoint
        usable after a rollback-to). Inner savepoints are destroyed."""
        from timefusion_spark.storage.commitlog import CommitGroup, abort_group

        idx = txn.savepoints.get(name.lower())
        if idx is None:
            raise ValueError(f'savepoint "{name}" does not exist')
        for seg in txn.segments[idx:]:
            ref = {"id": seg.id, "marker": seg.marker}
            log_dirs = list(getattr(seg, "_log_dirs", [])) or [None]
            for ld in log_dirs:
                abort_group(ref, ld)
        del txn.segments[idx:]
        txn.savepoints = {n: i for n, i in txn.savepoints.items() if i < idx}
        txn.segments.append(CommitGroup(os.path.join(self.base_dir, "_tf_txn")))
        txn.savepoints[name.lower()] = len(txn.segments) - 1

    def release_savepoint(self, txn: "TxnState", name: str) -> None:
        """RELEASE [SAVEPOINT] name: the savepoint (and inner ones) stop
        being rollback targets; nothing is aborted — already-staged
        commits keep their segment guards, which absent an abort read as
        visible, so release costs nothing."""
        idx = txn.savepoints.get(name.lower())
        if idx is None:
            raise ValueError(f'savepoint "{name}" does not exist')
        txn.savepoints = {n: i for n, i in txn.savepoints.items() if i < idx}

    def commit_txn(self, txn: "TxnState") -> None:
        """Publish every staged insert of the transaction atomically, then
        refresh the touched views. Raises if the group was aborted (by
        ROLLBACK racing, or by the pending-group ager) — in which case
        nothing became visible."""
        if txn.tables:
            txn.group.publish()
            for name in txn.tables:
                if name in self.tables:
                    self._refresh(name)

    def rollback_txn(self, txn: "TxnState") -> None:
        """Definitively abort: settle the group's resolution as aborted so
        even a racing publish fails loudly. Staged files stay on disk for
        vacuum to collect; no reader ever saw them."""
        from timefusion_spark.storage.commitlog import abort_group

        if txn.tables:
            ref = {"id": txn.group.id, "marker": txn.group.marker}
            log_dirs = list(getattr(txn.group, "_log_dirs", [])) or [None]
            for ld in log_dirs:
                abort_group(ref, ld)

    def run_query(self, sql: str):
        from timefusion_spark.pgshim import expand_qualified_star_in_calls

        self.refresh_stale()
        s = expand_qualified_star_in_calls(self.spark, sql.strip().rstrip(";"))
        return self.spark.sql(pg_to_spark_sql(s, self.spark)).collect()


@dataclass
class RecordResult:
    record: Record
    ok: bool
    detail: str = ""


# (file, record start line) -> reason. Genuinely out-of-scope records only;
# every skip carries its reason and shows up in test output.
SKIPS: dict[str, dict[int, str]] = {
    "variant_functions.slt": {
        266: "PERMANENT documented divergence (SURVEY §7.2, COVERAGE §5): "
        "PG json text operators on JSON STRINGS slice the source document "
        "verbatim ('[10, 20, 30]' keeps spaces — functions.rs:261-262 "
        "appends the raw upstream slice); this engine re-renders extracted "
        "JSON canonically (a verbatim slicer needs a row-path Python UDF, "
        "banned). Whitespace-only; Variant COLUMNS render canonically in "
        "both engines.",
    },
}


def run_file(
    spark: SparkSession,
    path: str,
    base_dir: str,
    skips: dict[int, str] | None = None,
) -> list[RecordResult]:
    """Execute one slt file; returns per-record results. `skips` maps the
    record's starting line number to a skip reason."""
    with open(path) as f:
        records = parse_slt(f.read())
    return _run_records(spark, records, base_dir, skips or {})


def _run_records(
    spark: SparkSession,
    records: list[Record],
    base_dir: str,
    skips: dict[int, str],
) -> list[RecordResult]:
    env = SltEnv(spark, base_dir)
    results: list[RecordResult] = []
    for rec in records:
        if rec.line in skips:
            results.append(RecordResult(rec, True, f"SKIP: {skips[rec.line]}"))
            continue
        try:
            if rec.kind == "statement_ok":
                env.run_statement(rec.sql)
                results.append(RecordResult(rec, True))
            elif rec.kind == "statement_error":
                try:
                    env.run_statement(rec.sql)
                except Exception:
                    results.append(RecordResult(rec, True))
                else:
                    results.append(
                        RecordResult(rec, False, "expected an error, statement succeeded")
                    )
            else:
                rows = env.run_query(rec.sql)
                actual = format_rows(rows, rec.types)
                ok = compare(actual, rec.expected, rec.sort)
                detail = "" if ok else f"expected={rec.expected!r} actual={actual!r}"
                results.append(RecordResult(rec, ok, detail))
        except Exception as e:  # noqa: BLE001
            results.append(RecordResult(rec, False, f"{type(e).__name__}: {e}"))
    return results
