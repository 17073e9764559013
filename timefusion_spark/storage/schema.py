"""YAML → StructType schema loader.

Mirrors the reference's `schema_loader.rs:14-100` (`TableSchema`): the same
YAML document shape (table_name, partitions, dedup_keys, dedup_tiebreak,
tombstone_column, version_append, time_column, sorting_columns,
z_order_columns, fields[{name, data_type, nullable, bloom_filter}]) parsed
into a Spark `StructType` plus the per-table semantic options that drive the
write path and the merge-on-read read view (SURVEY §1.3).

Type mapping (schema_loader.rs arrow types → Spark):
  Utf8→string, Int32→int, Int64→long, Float64→double, Boolean→boolean,
  Date32→date, Timestamp(Microsecond, Some("UTC"))→timestamp (session tz is
  UTC, µs precision — exact), List(T)→array<T>, Binary→binary,
  Variant→Spark VariantType stored as Parquet VARIANT binary — the same
  physical layout as the reference (functions.rs:364-369, Cargo.toml
  parquet-variant): queries traverse the pre-parsed binary directly
  (variant_get), no per-query JSON re-tokenization. JSON-text rendering
  happens only at output edges (to_json / the slt wire format).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import types as T

_PRIMITIVES = {
    "Utf8": T.StringType(),
    "LargeUtf8": T.StringType(),
    "Int8": T.ByteType(),
    "Int16": T.ShortType(),
    "Int32": T.IntegerType(),
    "Int64": T.LongType(),
    "UInt32": T.LongType(),
    "UInt64": T.LongType(),
    "Float32": T.FloatType(),
    "Float64": T.DoubleType(),
    "Boolean": T.BooleanType(),
    "Date32": T.DateType(),
    "Binary": T.BinaryType(),
    "LargeBinary": T.BinaryType(),
    # Variant: physical Spark VariantType (see module docstring).
    "Variant": T.VariantType(),
}

_TS_RE = re.compile(r"Timestamp\((\w+)(?:,.*)?\)")
_LIST_RE = re.compile(r"(?:Large)?List\((.+)\)")


def parse_data_type(s: str) -> T.DataType:
    """Parse one reference `data_type` string into a Spark type."""
    s = s.strip()
    if s in _PRIMITIVES:
        return _PRIMITIVES[s]
    m = _TS_RE.fullmatch(s)
    if m:
        # Spark TimestampType is µs-precision; second/milli/nano inputs are
        # representable (nanos truncate — same as the parquet reader path).
        return T.TimestampType()
    m = _LIST_RE.fullmatch(s)
    if m:
        return T.ArrayType(parse_data_type(m.group(1)))
    raise ValueError(f"unsupported data_type: {s!r}")


@dataclass
class SortingColumnDef:
    name: str
    descending: bool = False
    nulls_first: bool = False


@dataclass
class FieldDef:
    name: str
    data_type: str
    nullable: bool = True
    bloom_filter: bool = False

    def to_spark(self) -> T.StructField:
        return T.StructField(self.name, parse_data_type(self.data_type), self.nullable)


@dataclass
class TableSchema:
    """Per-table declaration — the options are load-bearing for the write
    path and read view exactly as in the reference (schema_loader.rs):

    - ``dedup_keys``: last-write-wins identity; empty = append-only. The
      effective version key (`Table.version_key`) also includes the
      ``partitions`` columns — `date` only when ``time_column`` is a dedup
      key: the same dedup_keys in two tenants are two rows.
    - ``dedup_tiebreak``: greatest wins among duplicate keys, NULL lowest
      (schema_loader.rs:32-38); None = keep-last-by-position.
    - ``tombstone_column``: winning version `true` ⇒ row invisible; NULL and
      false both mean live (schema_loader.rs:41-51).
    - ``version_append``: UPDATE/DELETE append full new row versions instead
      of rewriting files (schema_loader.rs:53-82); requires the three above.
    - ``time_column``: predicates on it derive `date` partition bounds
      (schema_loader.rs:21-24, optimizers/mod.rs:100-150).
    """

    table_name: str
    fields: list[FieldDef]
    partitions: list[str] = field(default_factory=list)
    sorting_columns: list[SortingColumnDef] = field(default_factory=list)
    z_order_columns: list[str] = field(default_factory=list)
    time_column: str = "timestamp"
    dedup_keys: list[str] = field(default_factory=list)
    dedup_tiebreak: str | None = None
    tombstone_column: str | None = None
    version_append: bool = False

    def __post_init__(self) -> None:
        names = [f.name for f in self.fields]
        if len(set(names)) != len(names):
            raise ValueError(f"{self.table_name}: duplicate field names")
        known = set(names)
        for col in (
            *self.partitions,
            *self.dedup_keys,
            *(c.name for c in self.sorting_columns),
            *self.z_order_columns,
            *([self.dedup_tiebreak] if self.dedup_tiebreak else []),
            *([self.tombstone_column] if self.tombstone_column else []),
        ):
            if col not in known:
                raise ValueError(f"{self.table_name}: option references unknown column {col!r}")
        # date partition derivation reads time_column at ingest; a typo'd
        # time_column would silently route EVERY row to the default
        # partition (coerce's in-columns guard skips derivation) — fail at
        # load, where the misconfiguration is (review r10)
        if "date" in self.partitions and self.time_column not in known:
            raise ValueError(
                f"{self.table_name}: date partitioning derives from "
                f"time_column {self.time_column!r}, which is not a declared field"
            )
        if self.version_append and not (
            self.dedup_keys and self.dedup_tiebreak and self.tombstone_column
        ):
            # schema_loader.rs: version_append requires dedup_keys,
            # dedup_tiebreak and tombstone_column.
            raise ValueError(
                f"{self.table_name}: version_append requires dedup_keys, "
                "dedup_tiebreak and tombstone_column"
            )

    @property
    def spark_schema(self) -> T.StructType:
        # Column ORDER is load-bearing (otel_logs_and_spans.yaml:375-380).
        return T.StructType([f.to_spark() for f in self.fields])

    def to_json(self) -> str:
        import dataclasses
        import json

        return json.dumps(dataclasses.asdict(self), indent=1)

    _KNOWN_KEYS = frozenset({
        "table_name", "fields", "partitions", "sorting_columns",
        "z_order_columns", "time_column", "dedup_keys", "dedup_tiebreak",
        "tombstone_column", "version_append", "tantivy",
    })

    @classmethod
    def _check_keys(cls, d: dict) -> None:
        # a typo'd load-bearing option ('dedup_key' for 'dedup_keys')
        # would otherwise silently default away the table's semantics and
        # surface later as duplicate rows, far from the cause — same
        # fail-at-load principle as the unknown-COLUMN validation
        # (review r11)
        unknown = sorted(set(d) - cls._KNOWN_KEYS)
        if unknown:
            raise ValueError(
                f"unknown schema option(s) {unknown} for table "
                f"{d.get('table_name')!r}; known: {sorted(cls._KNOWN_KEYS)}"
            )

    @classmethod
    def from_dict(cls, d: dict) -> TableSchema:
        cls._check_keys(d)
        return cls(
            table_name=d["table_name"],
            fields=[
                FieldDef(
                    name=f["name"],
                    data_type=f["data_type"],
                    nullable=f.get("nullable", True),
                    bloom_filter=bool(f.get("bloom_filter", False)),
                )
                for f in d["fields"]
            ],
            partitions=list(d.get("partitions") or []),
            sorting_columns=[
                SortingColumnDef(
                    name=s["name"],
                    descending=bool(s.get("descending", False)),
                    nulls_first=bool(s.get("nulls_first", False)),
                )
                for s in (d.get("sorting_columns") or [])
            ],
            z_order_columns=list(d.get("z_order_columns") or []),
            time_column=d.get("time_column") or "timestamp",
            dedup_keys=list(d.get("dedup_keys") or []),
            dedup_tiebreak=d.get("dedup_tiebreak"),
            tombstone_column=d.get("tombstone_column"),
            version_append=bool(d.get("version_append", False)),
        )


def load_schema_text(text: str) -> TableSchema:
    import yaml

    return TableSchema.from_dict(yaml.safe_load(text))


def load_schema(path: str) -> TableSchema:
    with open(path) as fh:
        return load_schema_text(fh.read())
