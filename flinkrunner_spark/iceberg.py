"""Pure-Python Apache Iceberg v2 table support (filesystem/Hadoop-catalog
layout) — ungates the reference's Iceberg connector without the
iceberg-spark runtime jar, the same way ``serde/avro_codec.py`` ungated
avro (reference parity: `model/sink/IcebergSinkConfig.scala:29-114`,
`model/source/IcebergSourceConfig.scala:28-85`).

Everything here implements the PUBLIC Iceberg table spec
(https://iceberg.apache.org/spec/ — format version 2). Scope is an
explicit, honest SUBSET:

* parquet data files; schemas of primitives + lists of primitives;
  append / overwrite / replace (compaction) snapshots with full lineage;
  partition specs with the reference's full transform set
  (`model/IcebergPartitionColumn.scala:14-27`): identity, year, month,
  day, hour, bucket[N], truncate[W] — spec-exact murmur3 bucketing and
  epoch ordinals via ``iceberg_transforms`` (hive-style layout,
  per-file partition tuples in manifests, manifest-level partition
  pruning on the transformed values);
  per-file numeric column bounds from parquet footers with
  ``range_filter`` data skipping; time travel by snapshot-id or
  as-of-timestamp; snapshot expiration with unreferenced-file GC;
  additive schema evolution (``add_column`` — old files null-fill by
  id-based resolution);
* metadata files: ``vN.metadata.json`` + ``version-hint.text`` (the
  HadoopTables layout), manifest lists and manifests as Avro OCF written
  by the byte-level Java-validated codec in ``serde/avro_codec.py``
  (nested manifest_entry/data_file records and the array-of-record map
  encoding included in that validation — tests/test_avro.py);
* row-level UPSERT via v2 EQUALITY DELETE files (``upsert(df, keys)``
  writes data files + a delete file of the keys; reads apply them
  merge-on-read with the spec's sequence-number rule — the write shape
  Flink's ``.upsert(primaryKey.nonEmpty)`` sink produces);
* reads resolve version-hint → metadata → current snapshot → manifest
  list → manifests → live data + equality-delete files, and REFUSE
  (with a clear error) features outside the subset (e.g. non-parquet
  data files, unknown transforms) — never a silently wrong result;
* data files are written without parquet field-ids (Spark's writer can't
  attach them), so the table carries the spec's sanctioned fallback for
  exactly that case: a ``schema.name-mapping.default`` property mapping
  column names to field ids.

Commit protocol caveat (documented, not hidden): HadoopTables-style
commits rely on an atomic rename of ``version-hint.text``; this writer
does write-temp-then-``os.replace``, which is atomic on POSIX
filesystems but, like the Java HadoopCatalog, is NOT safe against
concurrent committers on eventually-consistent object stores — real
deployments point the jar at a REST/Glue/JDBC catalog for that. The
on-disk table layout is identical either way.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from flinkrunner_spark.serde import avro_codec as AC

# ---------------------------------------------------------------------------
# schema conversion (Spark <-> Iceberg JSON)
# ---------------------------------------------------------------------------

_SPARK_TO_ICE = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",  # Spark TimestampType is UTC-adjusted
    "timestamp_ntz": "timestamp",
}

_ICE_TO_SPARK = {v: k for k, v in _SPARK_TO_ICE.items()}


def iceberg_schema_from_spark(schema) -> tuple[dict, int]:
    """Spark StructType -> (Iceberg schema JSON dict, last-column-id).
    Field ids are assigned in field order (1..n), then list element ids —
    the same ordering Iceberg's own assignFreshIds uses for a new table."""
    fields = []
    next_id = 1
    for f in schema.fields:
        fields.append({"id": next_id, "name": f.name, "required": False})
        next_id += 1
    # second pass for types so element-ids come after all column ids
    for f, jf in zip(schema.fields, fields):
        t = f.dataType.typeName()
        if t == "array":
            el = f.dataType.elementType.typeName()
            if el not in _SPARK_TO_ICE:
                raise ValueError(
                    f"iceberg fallback supports lists of primitives only "
                    f"(column {f.name!r} is array<{el}>)"
                )
            jf["type"] = {
                "type": "list",
                "element-id": next_id,
                "element": _SPARK_TO_ICE[el],
                "element-required": False,
            }
            next_id += 1
        elif t == "decimal":
            dt = f.dataType
            jf["type"] = f"decimal({dt.precision}, {dt.scale})"
        elif t in _SPARK_TO_ICE:
            jf["type"] = _SPARK_TO_ICE[t]
        else:
            raise ValueError(
                f"iceberg fallback does not support column {f.name!r} of "
                f"spark type {t!r}"
            )
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        next_id - 1,
    )


def _ice_type_from_arrow(t):
    """One pyarrow type -> Iceberg type (str, or {'type':'list',...}
    without ids) — footer-side schema checks for add_files."""
    import pyarrow as pa

    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date32(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamptz" if t.tz else "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision}, {t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return {"type": "list", "element": _ice_type_from_arrow(t.value_type)}
    raise ValueError(f"unsupported parquet/arrow type {t!r}")


def _spark_type_from_iceberg(t) -> str:
    """One Iceberg type -> Spark SQL type string."""
    if isinstance(t, dict) and t.get("type") == "list":
        el = t["element"]
        if el not in _ICE_TO_SPARK:
            raise ValueError(f"unsupported iceberg list element {el!r}")
        return f"array<{_spark_type_from_iceberg(el)}>"
    if isinstance(t, str) and t.startswith("decimal"):
        return t.replace(" ", "")
    if isinstance(t, str) and t in _ICE_TO_SPARK:
        return {"integer": "int", "long": "bigint"}.get(
            _ICE_TO_SPARK[t], _ICE_TO_SPARK[t]
        )
    raise ValueError(f"unsupported iceberg type {t!r}")


def spark_ddl_from_iceberg(ice_schema: dict) -> str:
    """Iceberg schema JSON -> Spark DDL string for reading."""
    return ", ".join(
        f"`{f['name']}` {_spark_type_from_iceberg(f['type'])}"
        for f in ice_schema["fields"]
    )


def name_mapping(ice_schema: dict) -> list:
    """The spec's schema.name-mapping.default value: name -> field-id for
    data files written without parquet field ids (Spark's writer)."""
    out = []
    for f in ice_schema["fields"]:
        ent = {"field-id": f["id"], "names": [f["name"]]}
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "list":
            ent["fields"] = [
                {"field-id": t["element-id"], "names": ["element"]}
            ]
        out.append(ent)
    return out


# ---------------------------------------------------------------------------
# manifest avro schemas (Iceberg spec "Manifests" / "Manifest Lists" —
# v2-required fields only; optional stat fields are legitimately omitted,
# readers resolve them to null by field-id schema evolution)
# ---------------------------------------------------------------------------

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1,
         "default": None},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3,
         "default": None},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "field-id": 4, "default": None},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102",
                                 "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {
                        "name": "lower_bounds",
                        "field-id": 125,
                        "default": None,
                        "type": ["null", {
                            "type": "array", "logicalType": "map",
                            "items": {
                                "type": "record", "name": "k126_v127",
                                "fields": [
                                    {"name": "key", "type": "int",
                                     "field-id": 126},
                                    {"name": "value", "type": "bytes",
                                     "field-id": 127},
                                ],
                            },
                        }],
                    },
                    {
                        "name": "upper_bounds",
                        "field-id": 128,
                        "default": None,
                        "type": ["null", {
                            "type": "array", "logicalType": "map",
                            "items": {
                                "type": "record", "name": "k129_v130",
                                "fields": [
                                    {"name": "key", "type": "int",
                                     "field-id": 129},
                                    {"name": "value", "type": "bytes",
                                     "field-id": 130},
                                ],
                            },
                        }],
                    },
                    {
                        "name": "equality_ids",
                        "field-id": 135,
                        "default": None,
                        "type": ["null", {"type": "array", "items": "int",
                                          "element-id": 136}],
                    },
                ],
            },
        },
    ],
}

# single-value binary serialization (spec Appendix D) for the numeric
# types the fallback emits bounds for; strings are skipped — safe upper
# bounds need suffix-increment truncation, absent bounds just mean "no
# pruning for this column", never a wrong result
_BOUND_FMT = {"int": "<i", "long": "<q", "float": "<f", "double": "<d"}


def bound_bytes(ice_type: str, v) -> bytes | None:
    import struct as _struct

    fmt = _BOUND_FMT.get(ice_type)
    if fmt is None or v is None:
        return None
    return _struct.pack(fmt, v)


def bound_value(ice_type: str, b: bytes):
    """Decode one Appendix-D bound. Bounds are stored in the WRITE-TIME
    type, so after an int→long / float→double widening old manifests
    still carry 4-byte values — decode by buffer width, the same
    promotion rule the read path applies to the data pages."""
    import struct as _struct

    fmt = _BOUND_FMT[ice_type]
    if len(b) == 4 and fmt == "<q":
        fmt = "<i"
    elif len(b) == 4 and fmt == "<d":
        fmt = "<f"
    return _struct.unpack(fmt, b)[0]

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def current_schema(md: dict) -> dict:
    """Current schema looked up BY schema-id (not list position — foreign
    writers may order ``schemas`` arbitrarily)."""
    sid = md["current-schema-id"]
    return next(s for s in md["schemas"] if s.get("schema-id") == sid)

STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2
CONTENT_DATA = 0  # manifest content 0 = data, 1 = deletes
CONTENT_DELETES = 1
# data_file.content (spec): 0 = data, 1 = position deletes, 2 = equality
FILE_CONTENT_POS_DELETES = 1
FILE_CONTENT_EQ_DELETES = 2

# partition columns the fallback supports (hive-path round-trippable)
_PARTITIONABLE = {"string", "int", "long"}


def _norm_path(col):
    """file:///abs/x and /abs/x compare equal — manifests store bare os
    paths while Spark's ``_metadata.file_path`` reports a file: URI."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, "^file:/*", "/")


def partition_result_type(pf: dict, ice_schema: dict) -> str:
    """Iceberg type of one partition FIELD: the transform's result type
    over its source column (identity/truncate keep the source type, the
    time transforms and bucket produce int ordinals)."""
    from flinkrunner_spark import iceberg_transforms as T

    src = next(
        f for f in ice_schema["fields"] if f["id"] == pf["source-id"]
    )
    pt = T.parse_spec_entry(
        {"column": src["name"], "transform": pf["transform"]}
    )
    return T.result_ice_type(pt, src["type"])


def manifest_entry_schema(spec_fields: list, ice_schema: dict) -> dict:
    """MANIFEST_ENTRY_SCHEMA with the r102 partition struct filled in
    from the table's partition spec (the avro field type is the
    TRANSFORM'S RESULT primitive — source type for identity/truncate,
    int ordinals for time transforms and bucket — nullable; avro
    field-id is the spec's partition field-id per the spec's manifest
    layout)."""
    import copy

    schema = copy.deepcopy(MANIFEST_ENTRY_SCHEMA)
    part_fields = []
    for pf in spec_fields:
        part_fields.append(
            {
                "name": pf["name"],
                "type": ["null", partition_result_type(pf, ice_schema)],
                "field-id": pf["field-id"],
                "default": None,
            }
        )
    data_file = next(
        f for f in schema["fields"] if f["name"] == "data_file"
    )
    partition = next(
        f for f in data_file["type"]["fields"] if f["name"] == "partition"
    )
    partition["type"]["fields"] = part_fields
    return schema


class IcebergFsTable:
    """One filesystem Iceberg v2 table at ``location`` (HadoopTables
    layout: ``location/data`` + ``location/metadata``)."""

    def __init__(
        self,
        location: str,
        path_mapping: dict | None = None,
        read_only: bool = False,
        version: int | None = None,
    ):
        self.location = os.path.abspath(location)
        self.meta_dir = os.path.join(self.location, "metadata")
        self.data_dir = os.path.join(self.location, "data")
        # path_mapping ({absolute_prefix: local_prefix}, longest prefix
        # wins) reads a RELOCATED table — metadata whose internal
        # absolute paths (manifest lists, manifests, data files, the
        # file_path CONTENT of position-delete rows) point at another
        # root: an s3:// warehouse mirrored locally (s3_fileio), a fuse
        # mount at a different mountpoint, a copied test fixture. The
        # jar world needs the rewrite_table_path procedure or a custom
        # FileIO for this; here every path resolves through _map at
        # open time. Mapped tables default to read-only is NOT implied —
        # pass read_only=True (the s3 mirror does) to refuse commits
        # that would silently diverge from the remote original.
        self.path_mapping = dict(path_mapping or {})
        # version pins a read-only view to one ``vN.metadata.json`` (the
        # one a catalog's pointer names); None follows version-hint.text
        self.version = version
        self.read_only = bool(read_only) or version is not None

    def _map(self, p: str) -> str:
        for prefix in sorted(self.path_mapping, key=len, reverse=True):
            if p.startswith(prefix):
                return self.path_mapping[prefix] + p[len(prefix):]
        return p

    def _map_col(self, col):
        """SQL-side _map for path VALUES inside data (position-delete
        file_path rows) — same longest-prefix-wins semantics."""
        from pyspark.sql import functions as F

        if not self.path_mapping:
            return col
        out = None
        for prefix in sorted(self.path_mapping, key=len, reverse=True):
            repl = self.path_mapping[prefix]
            mapped = F.concat(
                F.lit(repl), F.substring(col, len(prefix) + 1, 1 << 30)
            )
            cond = col.startswith(prefix)
            out = F.when(cond, mapped) if out is None else out.when(cond, mapped)
        return out.otherwise(col)

    # -- metadata plumbing --------------------------------------------------

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, "version-hint.text"))

    def _version(self) -> int:
        if self.version is not None:
            return self.version
        with open(os.path.join(self.meta_dir, "version-hint.text")) as fh:
            return int(fh.read().strip())

    def metadata_file(self, version: int | None = None) -> str:
        """Path of ``v{version}.metadata.json`` (default: the current
        version — the pointer a catalog publishes)."""
        v = self._version() if version is None else version
        return os.path.join(self.meta_dir, f"v{v}.metadata.json")

    @classmethod
    def at_metadata(cls, metadata_location: str) -> "IcebergFsTable":
        """The table as a catalog's metadata pointer publishes it: a
        read-only view pinned to the pointer's ``vN.metadata.json``, so
        filesystem commits the catalog has not published stay unread.
        Its root is two levels above the metadata file (HadoopTables
        layout)."""
        m = re.fullmatch(
            r"v(\d+)\.metadata\.json", os.path.basename(metadata_location)
        )
        if m is None:
            raise ValueError(
                f"catalog metadata pointer {metadata_location!r} names no "
                "vN.metadata.json (HadoopTables layout)"
            )
        return cls(
            os.path.dirname(os.path.dirname(metadata_location)),
            version=int(m.group(1)),
        )

    def pointer_lag(self, pointer: str) -> int | None:
        """How many versions a catalog's metadata pointer trails this
        table's tip: 0 at the tip, N > 0 for an OLDER version of this
        table's own metadata lineage (filesystem commits made without
        the catalog in between — swapping the pointer advances it), and
        None for a newer pointer or another lineage: a concurrent
        writer, which every catalog client refuses with its own
        conflict error."""
        m = re.fullmatch(
            re.escape(self.meta_dir) + r"/v(\d+)\.metadata\.json", pointer
        )
        lag = self._version() - int(m.group(1)) if m else -1
        return lag if lag >= 0 else None

    def metadata(self) -> dict:
        with open(self.metadata_file()) as fh:
            return json.load(fh)

    def _commit(self, md: dict, version: int) -> None:
        if self.read_only:
            raise ValueError(
                f"iceberg table at {self.location} is read-only (an "
                "s3_fileio mirror or a catalog's pinned view) — commits "
                "here would silently diverge from the published table; "
                "write through the owning catalog"
            )
        os.makedirs(self.meta_dir, exist_ok=True)
        path = self.metadata_file(version)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(md, fh, indent=1)
        os.replace(tmp, path)
        hint = os.path.join(self.meta_dir, "version-hint.text")
        tmp = hint + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, hint)  # atomic on POSIX — the commit point

    def _base_metadata(self, ice_schema: dict, last_col: int) -> dict:
        return {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": self.location,
            "last-sequence-number": 0,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "last-partition-id": 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {
                "write.format.default": "parquet",
                "schema.name-mapping.default": json.dumps(
                    name_mapping(ice_schema)
                ),
            },
            "current-snapshot-id": -1,
            "refs": {},
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }

    @staticmethod
    def _parse_sort_entry(entry) -> tuple[str, str]:
        """One ``sort_by`` entry -> (column, direction). Accepts "col",
        "col desc", ("col", "desc")."""
        if isinstance(entry, (tuple, list)):
            col, direction = entry[0], (entry[1] if len(entry) > 1 else "asc")
        else:
            parts = str(entry).split()
            col = parts[0]
            direction = parts[1] if len(parts) > 1 else "asc"
        # str() so a malformed entry like ("col", None) reaches the
        # intended ValueError below instead of AttributeError on .lower()
        direction = str(direction).lower()
        if direction not in ("asc", "desc"):
            raise ValueError(
                f"sort direction must be asc|desc, got {direction!r}"
            )
        return col, direction

    def create(
        self,
        spark_schema,
        partition_by: list | None = None,
        sort_by: list | None = None,
    ) -> None:
        """Create the table; ``partition_by`` entries become the
        partition spec. Each entry is a bare column name (identity), the
        compact call form ``"day(ts)"`` / ``"bucket[8](user_id)"`` /
        ``"truncate[4](name)"``, or the reference's config shape
        ``{"column": c, "transform": t}``
        (`model/IcebergPartitionColumn.scala:30-37` — transforms
        identity/year/month/day/hour/bucket[N]/truncate[W]). Hive-style
        data paths carry the TRANSFORMED values, per-file partition
        tuples land in manifests, and reads prune on them."""
        from flinkrunner_spark import iceberg_transforms as T

        if self.exists():
            raise ValueError(f"iceberg table already exists: {self.location}")
        ice, last_col = iceberg_schema_from_spark(spark_schema)
        md = self._base_metadata(ice, last_col)
        if partition_by:
            fields, last_pid = self._build_spec_fields(ice, partition_by, md)
            md["partition-specs"] = [{"spec-id": 0, "fields": fields}]
            md["last-partition-id"] = last_pid
        if sort_by:
            # spec sort order (WRITE clustering, not a read contract):
            # every write sorts rows within each task/partition by these
            # columns, so per-file column bounds are tight and
            # range_filter scan planning skips whole files — the
            # spec's write.sort-order, what `ALTER TABLE ... WRITE
            # ORDERED BY` sets up on the jar.
            by_name = {f["name"]: f for f in md["schemas"][0]["fields"]}
            sfields = []
            for entry in sort_by:
                col, direction = self._parse_sort_entry(entry)
                if col not in by_name:
                    raise ValueError(f"unknown sort column {col!r}")
                sfields.append(
                    {
                        "transform": "identity",
                        "source-id": by_name[col]["id"],
                        "direction": direction,
                        # Iceberg defaults: asc→nulls-first, desc→nulls-last
                        "null-order": (
                            "nulls-first" if direction == "asc"
                            else "nulls-last"
                        ),
                    }
                )
            md["sort-orders"] = [
                {"order-id": 0, "fields": []},
                {"order-id": 1, "fields": sfields},
            ]
            md["default-sort-order-id"] = 1
        os.makedirs(self.data_dir, exist_ok=True)
        self._commit(md, 1)

    def _build_spec_fields(
        self, ice: dict, partition_by: list, md: dict
    ) -> tuple[list, int]:
        """Validate ``partition_by`` entries against the schema and
        return (spec fields, new last-partition-id). Field-id policy per
        the spec's Partition Evolution rules: a field identical to one
        in ANY existing spec (same source-id + transform + name) REUSES
        that field-id — the tuple slot means the same thing across specs
        — while genuinely new fields take fresh ids past
        ``last-partition-id`` (never recycling an id that ever meant
        something else)."""
        from flinkrunner_spark import iceberg_transforms as T

        by_name = {f["name"]: f for f in ice["fields"]}
        existing = {
            (f["source-id"], f["transform"], f["name"]): f["field-id"]
            for s in md.get("partition-specs", [])
            for f in s["fields"]
        }
        next_id = md.get("last-partition-id", 999)
        fields: list[dict] = []
        for entry in partition_by:
            pt = T.parse_spec_entry(entry)
            if pt.column not in by_name:
                raise ValueError(f"unknown partition column {pt.column!r}")
            src_type = by_name[pt.column]["type"]
            if pt.transform == "identity":
                if src_type not in _PARTITIONABLE:
                    raise ValueError(
                        f"identity partitions need "
                        f"{sorted(_PARTITIONABLE)} columns "
                        f"({pt.column!r} is {src_type!r}); use a "
                        "transform (day/bucket/...) for other types"
                    )
            else:
                T.validate_source(pt, src_type)
            name = T.field_name(pt)
            if name in by_name and pt.transform != "identity":
                raise ValueError(
                    f"partition field name {name!r} collides with an "
                    "existing column"
                )
            if any(f["name"] == name for f in fields):
                # e.g. bucket[4](id) + bucket[8](id) both generate
                # 'id_bucket': the write path's withColumn would
                # silently overwrite one layout with the other —
                # fail here instead of committing a spec that
                # disagrees with the written files
                raise ValueError(
                    f"duplicate partition field name {name!r} "
                    f"(from {entry!r}); two spec entries may not "
                    "generate the same field name"
                )
            key = (by_name[pt.column]["id"], pt.transform, name)
            fid = existing.get(key)
            if fid is None:
                next_id += 1
                fid = next_id
            fields.append(
                {
                    "name": name,
                    "transform": pt.transform,
                    "source-id": by_name[pt.column]["id"],
                    "field-id": fid,
                }
            )
        return fields, next_id

    def evolve_spec(self, partition_by: list | None) -> int:
        """PARTITION EVOLUTION (spec §Partition Evolution; the jar's
        ``ALTER TABLE ... ADD/REPLACE PARTITION FIELD``): append a NEW
        partition spec and make it the table default. Existing data
        files are untouched — their manifests keep the old spec-id and
        tuple layout; only NEW writes lay files out under the new spec,
        and scan planning evaluates each manifest under ITS OWN spec
        (split planning per spec, exactly how the reference's Iceberg
        sink behaves after an evolve on the jar). Metadata-only commit,
        no snapshot. ``partition_by=None``/``[]`` evolves the table to
        unpartitioned (new files, old layout preserved for old files).
        Returns the new spec-id.

        Reference scope note: `sink/IcebergSinkConfig.scala:29-114`
        declares a static spec per sink; evolution is the table-level
        operation a long-lived 100 TB table needs when its query
        pattern shifts (e.g. day(ts) → day(ts)+bucket(id))."""
        if not self.exists():
            raise ValueError(f"no iceberg table at {self.location}")
        md = self.metadata()
        ice = current_schema(md)
        fields, last_pid = self._build_spec_fields(
            ice, partition_by or [], md
        )
        cur = next(
            s
            for s in md["partition-specs"]
            if s["spec-id"] == md["default-spec-id"]
        )
        if fields == cur["fields"]:
            raise ValueError(
                "new spec is identical to the current default — nothing "
                "to evolve"
            )
        new_id = max(s["spec-id"] for s in md["partition-specs"]) + 1
        md["partition-specs"] = md["partition-specs"] + [
            {"spec-id": new_id, "fields": fields}
        ]
        md["default-spec-id"] = new_id
        md["last-partition-id"] = max(
            md.get("last-partition-id", 999), last_pid
        )
        md["last-updated-ms"] = int(time.time() * 1000)
        self._commit(md, self._version() + 1)
        return new_id

    # -- write path ---------------------------------------------------------

    def _sort_columns(self, md: dict, available: set) -> list:
        """Spark sort Columns for the table's default sort order; []
        when unsorted or when a sort source column is absent from the
        frame (equality-delete key frames)."""
        from pyspark.sql import functions as F

        oid = md.get("default-sort-order-id", 0)
        order = next(
            (o for o in md.get("sort-orders", []) if o["order-id"] == oid),
            None,
        )
        if not order or not order["fields"]:
            return []
        by_id = {f["id"]: f["name"] for f in current_schema(md)["fields"]}
        cols = []
        for sf in order["fields"]:
            name = by_id.get(sf["source-id"])
            if name is None or name not in available:
                return []
            c = F.col(name)
            if sf["direction"] == "desc":
                c = (
                    c.desc_nulls_last()
                    if sf.get("null-order") == "nulls-last"
                    else c.desc_nulls_first()
                )
            else:
                c = (
                    c.asc_nulls_last()
                    if sf.get("null-order") == "nulls-last"
                    else c.asc_nulls_first()
                )
            cols.append(c)
        return cols

    def _spec_fields(self, md: dict, spec_id: int | None = None) -> list:
        """Fields of one partition spec (default: the table default).
        With partition evolution a table carries several specs; write
        paths use the default, while scan planning resolves each
        manifest under the spec-id it recorded."""
        from flinkrunner_spark import iceberg_transforms as T

        want = md["default-spec-id"] if spec_id is None else spec_id
        spec = next(
            (s for s in md["partition-specs"] if s["spec-id"] == want),
            None,
        )
        if spec is None:
            raise ValueError(
                f"manifest references unknown partition spec-id {want} "
                f"(table has {[s['spec-id'] for s in md['partition-specs']]})"
            )
        for f in spec["fields"]:
            # unknown transform names fail loudly, never a wrong layout
            T.parse_spec_entry(
                {"column": f["name"], "transform": f.get("transform")}
            )
        return spec["fields"]

    @staticmethod
    def _identity_fields(spec_fields: list) -> list:
        """The spec fields whose source column is REPLACED in data files
        (identity transform: hive layout drops the column from the file
        and reads reconstruct it from the partition tuple). Non-identity
        transforms keep the source column IN the data file — the
        transform is not invertible."""
        return [f for f in spec_fields if f["transform"] == "identity"]

    @staticmethod
    def _parsed_transform(pf: dict, by_id: dict):
        from flinkrunner_spark import iceberg_transforms as T

        src = by_id[pf["source-id"]]
        pt = T.parse_spec_entry(
            {"column": src["name"], "transform": pf["transform"]}
        )
        return pt, src["type"]

    @staticmethod
    def _column_bounds(meta, md: dict):
        """Per-file numeric min/max from the parquet footer row-group
        statistics → the manifest's lower/upper bounds maps (field-id →
        Appendix-D bytes). Only exact numeric stats are emitted — a
        column without stats simply never prunes. Footer-only IO: no data
        pages are read."""
        ice = current_schema(md)
        by_name = {f["name"]: f for f in ice["fields"]}
        mins: dict[int, object] = {}
        maxs: dict[int, object] = {}
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema
                f = by_name.get(name)
                st = col.statistics
                if (
                    f is None
                    or f["type"] not in _BOUND_FMT
                    or st is None
                    or not st.has_min_max
                ):
                    continue
                fid = f["id"]
                mins[fid] = (
                    st.min if fid not in mins else min(mins[fid], st.min)
                )
                maxs[fid] = (
                    st.max if fid not in maxs else max(maxs[fid], st.max)
                )
        by_id = {f["id"]: f for f in ice["fields"]}
        lowers = [
            {"key": fid, "value": bound_bytes(by_id[fid]["type"], v)}
            for fid, v in sorted(mins.items())
        ]
        uppers = [
            {"key": fid, "value": bound_bytes(by_id[fid]["type"], v)}
            for fid, v in sorted(maxs.items())
        ]
        return (lowers or None), (uppers or None)

    @staticmethod
    def _parse_hive_value(raw: str, ice_type: str):
        from urllib.parse import unquote

        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        return int(raw) if ice_type in ("int", "long") else unquote(raw)

    def _write_data_files(
        self,
        df: DataFrame,
        md: dict,
        content: int = CONTENT_DATA,
        equality_ids: list[int] | None = None,
    ) -> list[dict]:
        """Write df as parquet data files into data/ and return data_file
        records (path, rows, bytes from the parquet footers; partition
        tuple parsed from the hive-style write paths for partitioned
        specs — `data/col=value/...` exactly as Iceberg lays files out).
        With ``content=FILE_CONTENT_EQ_DELETES`` the frame holds equality
        DELETE rows (the key columns named by ``equality_ids``), and the
        files land under ``data/_deletes/`` — underscore-prefixed so
        Spark's file listing (hence ``read_stream``'s directory tail)
        never mistakes the key-only rows for data; batch readers resolve
        them by the full manifest path either way."""
        import pyarrow.parquet as pq

        from flinkrunner_spark import iceberg_transforms as T

        spec_fields = self._spec_fields(md)
        by_id = {f["id"]: f for f in current_schema(md)["fields"]}
        # non-identity transforms: compute the partition value as an
        # extra column (JVM expressions / vectorized murmur3 — see
        # iceberg_transforms); partitionBy removes exactly that computed
        # column from the files, so the SOURCE column stays stored.
        # Identity fields partition on the source column itself (removed
        # from files, reconstructed on read — the spec's hive layout).
        write_df = df
        result_types = {}
        for pf in spec_fields:
            pt, src_type = self._parsed_transform(pf, by_id)
            result_types[pf["name"]] = T.result_ice_type(pt, src_type)
            if pf["transform"] != "identity":
                write_df = write_df.withColumn(
                    pf["name"], T.spark_column(pt, src_type)
                )
        # default sort order: sort rows inside each task (and, for
        # partitioned specs, inside each partition's task after the
        # cluster exchange) so every data file carries TIGHT column
        # bounds — what makes range_filter planning skip whole files.
        # Delete frames carry key columns only; sort applies only when
        # every sort column is present.
        sort_cols = self._sort_columns(md, set(write_df.columns))
        tmp = os.path.join(self.location, f"_tmp-write-{uuid.uuid4().hex}")
        if spec_fields:
            # Cluster rows by partition value before the partitioned
            # write: without this every task writes a file for every
            # partition value it holds (tasks × partitions files — the
            # classic small-files explosion; at 32 tasks × ~240
            # day/bucket partitions that is thousands of tiny parquet
            # files per commit, each paying a footer read at manifest
            # time). After the hash exchange each partition value lands
            # in ONE task, so the file count tracks the partition count.
            # A single giant partition still serializes through one
            # task — the standard mitigation (salting the repartition /
            # maxRecordsPerFile) applies upstream if a spec is that
            # skewed; iceberg specs normally include a bucket or time
            # transform precisely so partitions stay bounded.
            names = [f["name"] for f in spec_fields]
            clustered = write_df.repartition(*names)
            if sort_cols:
                from pyspark.sql import functions as F

                clustered = clustered.sortWithinPartitions(
                    *[F.col(n) for n in names], *sort_cols
                )
            writer = clustered.write.mode("overwrite")
            writer = writer.partitionBy(*names)
        else:
            if sort_cols:
                # range distribution + in-task sort (the spec's
                # write.distribution-mode=range for sorted tables):
                # files get DISJOINT key ranges, not merely
                # sorted-but-overlapping ones — that disjointness is
                # what lets range_filter planning drop whole files
                write_df = write_df.repartitionByRange(
                    *sort_cols
                ).sortWithinPartitions(*sort_cols)
            writer = write_df.write.mode("overwrite")
        mrpf = int(
            md.get("properties", {}).get("write.max-records-per-file", 0)
            or 0
        )
        if mrpf > 0:
            # rows-based analog of write.target-file-size-bytes: caps
            # file size when one task holds a giant partition (the
            # skew case the clustering comment above defers upstream) —
            # set once via append(extra_properties=...), applies to
            # every later write
            writer = writer.option("maxRecordsPerFile", mrpf)
        writer.parquet(tmp)

        base_dir = (
            self.data_dir
            if content == CONTENT_DATA
            else os.path.join(self.data_dir, "_deletes")
        )
        placed: list[tuple[str, dict]] = []
        commit_uuid = uuid.uuid4().hex
        i = 0
        for root, _dirs, names in sorted(os.walk(tmp)):
            rel = os.path.relpath(root, tmp)
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                subdir = "" if rel == "." else rel
                dst_dir = os.path.join(base_dir, subdir)
                os.makedirs(dst_dir, exist_ok=True)
                dst = os.path.join(dst_dir, f"{i:05d}-{commit_uuid}.parquet")
                shutil.move(src, dst)
                partition = {}
                if spec_fields:
                    parts = dict(
                        seg.split("=", 1) for seg in subdir.split(os.sep)
                    )
                    for pf in spec_fields:
                        partition[pf["name"]] = self._parse_hive_value(
                            parts[pf["name"]], result_types[pf["name"]]
                        )
                placed.append((dst, partition))
                i += 1

        # Footer stats read in a thread pool: each file costs a parquet
        # footer open (IO + thrift decode, GIL-released in the arrow
        # C++ core), and a partitioned commit easily lands hundreds of
        # files — serially that loop, not the write, dominated commit
        # time. Results keep ``placed`` order so manifest entries stay
        # deterministic.
        from concurrent.futures import ThreadPoolExecutor

        def _stat(args):
            dst, partition = args
            meta = pq.ParquetFile(dst).metadata
            lowers, uppers = self._column_bounds(meta, md)
            return {
                "content": content,
                "file_path": dst,
                "file_format": "PARQUET",
                "partition": partition,
                "record_count": meta.num_rows,
                "file_size_in_bytes": os.path.getsize(dst),
                "lower_bounds": lowers,
                "upper_bounds": uppers,
                "equality_ids": equality_ids,
            }

        if len(placed) > 1:
            with ThreadPoolExecutor(max_workers=min(16, len(placed))) as ex:
                files = list(ex.map(_stat, placed))
        else:
            files = [_stat(p) for p in placed]
        shutil.rmtree(tmp, ignore_errors=True)
        return files

    def _write_manifest(
        self,
        files: list[dict],
        md: dict,
        spec_fields: list,
        snap_id: int,
        seq: int,
        content: int,
        spec_id: int | None = None,
    ) -> dict:
        """Write ONE manifest avro file for ``files`` and return its
        manifest_file record (the manifest-list row). ``content`` is the
        manifest-level kind: CONTENT_DATA or CONTENT_DELETES.
        ``spec_id`` stamps which partition spec shaped these tuples
        (default: the table default — what new writes use); carried-
        forward manifests keep their own records untouched."""
        entries = [
            {
                "status": STATUS_ADDED,
                "snapshot_id": snap_id,
                "sequence_number": None,  # inherited from the manifest list
                "file_sequence_number": None,
                "data_file": f,
            }
            for f in files
        ]
        mf_path = os.path.join(self.meta_dir, f"{uuid.uuid4().hex}-m0.avro")
        ice_schema = current_schema(md)
        sid = md["default-spec-id"] if spec_id is None else spec_id
        blob = AC.write_container(
            manifest_entry_schema(spec_fields, ice_schema),
            entries,
            extra_meta={
                "schema": json.dumps(ice_schema),
                "schema-id": str(md["current-schema-id"]),
                "partition-spec": json.dumps(spec_fields),
                "partition-spec-id": str(sid),
                "format-version": "2",
                "content": "data" if content == CONTENT_DATA else "deletes",
            },
        )
        with open(mf_path, "wb") as fh:
            fh.write(blob)
        rows = sum(f["record_count"] for f in files)
        return {
            "manifest_path": mf_path,
            "manifest_length": len(blob),
            "partition_spec_id": sid,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    def _write_carried_manifest(
        self, files: list[dict], md: dict, spec_id: int, seq: int,
        snap_id: int, content: int = CONTENT_DATA,
    ) -> dict:
        """One manifest of EXISTING entries — live files a partial
        REPLACE commit (binpack) carries forward untouched. Entries keep
        their ORIGINAL sequence numbers explicitly (inheritance would
        reassign them to this commit's, silently changing delete-file
        applicability) and the snapshot id that added them; the
        manifest-list row's added_snapshot_id is the COMMITTING
        snapshot's id (``snap_id``) as the spec requires — external
        readers use it for snapshot-scoped planning, and 0 would
        misattribute the manifest."""
        spec_fields = self._spec_fields(md, spec_id)
        entries = []
        for f in files:
            clean = {k: v for k, v in f.items() if not k.startswith("_")}
            entries.append(
                {
                    "status": STATUS_EXISTING,
                    "snapshot_id": f.get("_added_snapshot_id"),
                    "sequence_number": int(f["_seq"]),
                    "file_sequence_number": int(f["_seq"]),
                    "data_file": clean,
                }
            )
        mf_path = os.path.join(self.meta_dir, f"{uuid.uuid4().hex}-m0.avro")
        ice_schema = current_schema(md)
        blob = AC.write_container(
            manifest_entry_schema(spec_fields, ice_schema),
            entries,
            extra_meta={
                "schema": json.dumps(ice_schema),
                "schema-id": str(md["current-schema-id"]),
                "partition-spec": json.dumps(spec_fields),
                "partition-spec-id": str(spec_id),
                "format-version": "2",
                "content": "data" if content == CONTENT_DATA else "deletes",
            },
        )
        with open(mf_path, "wb") as fh:
            fh.write(blob)
        rows = sum(int(f["record_count"]) for f in files)
        return {
            "manifest_path": mf_path,
            "manifest_length": len(blob),
            "partition_spec_id": spec_id,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": min(int(f["_seq"]) for f in files),
            "added_snapshot_id": snap_id,
            "added_files_count": 0,
            "existing_files_count": len(files),
            "deleted_files_count": 0,
            "added_rows_count": 0,
            "existing_rows_count": rows,
            "deleted_rows_count": 0,
        }

    def _write_snapshot(
        self,
        df: DataFrame | None,
        operation: str,
        partition_by: list[str] | None = None,
        delete_df: DataFrame | None = None,
        equality_ids: list[int] | None = None,
        pos_delete_files: list[dict] | None = None,
        extra_properties: dict | None = None,
        sort_by: list | None = None,
        carried_entries: list[dict] | None = None,
        carried_delete_entries: list[dict] | None = None,
        branch: str | None = None,
        raw_data_files: list[dict] | None = None,
        extra_summary: dict | None = None,
    ) -> None:
        if not self.exists():
            if df is None:
                raise ValueError("cannot commit deletes to a missing table")
            if branch and branch != "main":
                raise ValueError(
                    "cannot write a branch commit to a missing table — "
                    "create the table (a main commit) and create_branch() "
                    "first"
                )
            self.create(df.schema, partition_by=partition_by, sort_by=sort_by)
        md = self.metadata()
        refs0 = dict(md.get("refs") or {})
        on_branch = bool(branch) and branch != "main"
        if on_branch:
            # WAP staging commit: lineage forks from the BRANCH head and
            # only the branch ref advances — main (and every reader that
            # does not name the branch) never sees it until fast_forward
            ref = refs0.get(branch)
            if ref is None or ref.get("type") != "branch":
                raise ValueError(
                    f"unknown branch {branch!r} — create_branch() first "
                    f"(existing branches: "
                    f"{sorted(n for n, r in refs0.items() if r.get('type') == 'branch')})"
                )
        spec_fields = self._spec_fields(md)
        seq = md["last-sequence-number"] + 1
        snap_id = uuid.uuid4().int & ((1 << 62) - 1)
        manifests = []
        if df is not None:
            self._check_schema(df.schema, md)
            data_files = self._write_data_files(df, md)
            manifests.append(
                self._write_manifest(
                    data_files, md, spec_fields, snap_id, seq, CONTENT_DATA
                )
            )
        if raw_data_files:
            # pre-existing parquet files committed AS OF NOW (cherry_pick /
            # add_files): ADDED entries inheriting THIS commit's sequence
            # number — row-level deletes from earlier commits must not
            # apply to rows that logically arrive with this snapshot
            manifests.append(
                self._write_manifest(
                    [
                        {k: v for k, v in f.items()
                         if not k.startswith("_")}
                        for f in raw_data_files
                    ],
                    md, spec_fields, snap_id, seq, CONTENT_DATA,
                )
            )
        if carried_entries:
            # partial REPLACE (binpack): untouched live files carry
            # forward as EXISTING entries, grouped per partition spec
            by_spec: dict[int, list[dict]] = {}
            for f in carried_entries:
                by_spec.setdefault(
                    f.get("_spec_id", md["default-spec-id"]), []
                ).append(f)
            for sid in sorted(by_spec):
                manifests.append(
                    self._write_carried_manifest(
                        by_spec[sid], md, sid, seq, snap_id
                    )
                )
        if carried_delete_entries:
            # delete-aware binpack: position-delete files whose targets
            # survive the rewrite carry forward as EXISTING entries in a
            # DELETES manifest, keeping their original sequence numbers
            # so applicability to the carried data files is unchanged
            # (rewritten files escape them by construction: the new data
            # files' sequence number exceeds every carried delete's)
            by_spec_d: dict[int, list[dict]] = {}
            for f in carried_delete_entries:
                by_spec_d.setdefault(
                    f.get("_spec_id", md["default-spec-id"]), []
                ).append(f)
            for sid in sorted(by_spec_d):
                manifests.insert(
                    0,
                    self._write_carried_manifest(
                        by_spec_d[sid], md, sid, seq, snap_id,
                        content=CONTENT_DELETES,
                    ),
                )
        if pos_delete_files:
            # POSITION delete files (v2 row-level delete): file_path/pos
            # rows that apply, at read time, to data files with a
            # smaller-or-EQUAL sequence number (spec: position deletes
            # cover rows written in the same sequence too).
            manifests.insert(
                0,
                self._write_manifest(
                    pos_delete_files, md, spec_fields, snap_id, seq,
                    CONTENT_DELETES,
                ),
            )
        if delete_df is not None:
            # equality DELETE files (v2 row-level upsert): they carry the
            # key columns of the replaced rows and apply, at read time, to
            # data files with a STRICTLY SMALLER sequence number — so the
            # rows added by this same snapshot survive their own delete.
            del_files = self._write_data_files(
                delete_df, md,
                content=FILE_CONTENT_EQ_DELETES,
                equality_ids=equality_ids,
            )
            manifests.insert(
                0,
                self._write_manifest(
                    del_files, md, spec_fields, snap_id, seq,
                    CONTENT_DELETES,
                ),
            )
        parent = (
            refs0[branch]["snapshot-id"]
            if on_branch
            else md.get("current-snapshot-id", -1)
        )
        if (
            operation in ("append", "delete")
            or delete_df is not None
        ) and parent not in (-1, None):
            manifests += self._manifest_list_records(md, parent)

        ml_path = os.path.join(
            self.meta_dir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro"
        )
        ml_blob = AC.write_container(
            MANIFEST_FILE_SCHEMA,
            manifests,
            extra_meta={
                "snapshot-id": str(snap_id),
                "sequence-number": str(seq),
                "parent-snapshot-id": str(parent if parent not in (-1, None) else "null"),
                "format-version": "2",
            },
        )
        with open(ml_path, "wb") as fh:
            fh.write(ml_blob)

        # spec summary statistics (the jar's SnapshotSummary): added-*
        # from manifests THIS commit created (append/delete commits also
        # carry the parent's manifest-list records forward — their added
        # counts belong to the commits that wrote them), total-* over
        # every manifest of the resulting state — external tooling (UIs,
        # table-maintenance schedulers) reads these instead of
        # re-planning the snapshot. Values are strings per the spec's
        # map<string,string>. total-records is the raw stored data-row
        # count (deletes NOT applied — the spec's convention; readers
        # subtract position/equality deletes at merge time).
        own = [m for m in manifests if m["added_snapshot_id"] == snap_id]
        summary = {
            "operation": operation,
            "added-data-files": str(sum(
                m["added_files_count"] for m in own
                if m["content"] == CONTENT_DATA
            )),
            "added-records": str(sum(
                m["added_rows_count"] for m in own
                if m["content"] == CONTENT_DATA
            )),
            "added-delete-files": str(sum(
                m["added_files_count"] for m in own
                if m["content"] == CONTENT_DELETES
            )),
            "total-data-files": str(sum(
                m["added_files_count"] + m["existing_files_count"]
                for m in manifests if m["content"] == CONTENT_DATA
            )),
            "total-delete-files": str(sum(
                m["added_files_count"] + m["existing_files_count"]
                for m in manifests if m["content"] == CONTENT_DELETES
            )),
            "total-records": str(sum(
                m["added_rows_count"] + m["existing_rows_count"]
                for m in manifests if m["content"] == CONTENT_DATA
            )),
            **{str(k): str(v) for k, v in (extra_summary or {}).items()},
        }
        snap = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": int(time.time() * 1000),
            "manifest-list": ml_path,
            "summary": summary,
            "schema-id": md["current-schema-id"],
        }
        if parent not in (-1, None):
            snap["parent-snapshot-id"] = parent

        v = self._version()
        if extra_properties:
            # stamped in the SAME commit as the snapshot — a streaming
            # sink records its batch id atomically with the rows, so a
            # replayed foreachBatch after a crash can detect the commit
            # happened (exactly-once idempotence, the Iceberg
            # spark-runtime's commit-property pattern)
            md["properties"] = {
                **md.get("properties", {}),
                **{str(k): str(vv) for k, vv in extra_properties.items()},
            }
        md["last-sequence-number"] = seq
        md["last-updated-ms"] = snap["timestamp-ms"]
        md["snapshots"] = md.get("snapshots", []) + [snap]
        refs = dict(md.get("refs") or {})
        if on_branch:
            # only the branch ref moves: current-snapshot-id and the
            # snapshot-log (both main-tracking per spec) stay put
            refs[branch] = {**refs[branch], "snapshot-id": snap_id}
        else:
            md["current-snapshot-id"] = snap_id
            # advance main WITHOUT clobbering other refs — tags/branches
            # a user created must survive subsequent commits
            refs["main"] = {"snapshot-id": snap_id, "type": "branch"}
            md["snapshot-log"] = md.get("snapshot-log", []) + [
                {"timestamp-ms": snap["timestamp-ms"],
                 "snapshot-id": snap_id}
            ]
        md["refs"] = refs
        md["metadata-log"] = md.get("metadata-log", []) + [
            {
                "timestamp-ms": snap["timestamp-ms"],
                "metadata-file": self.metadata_file(v),
            }
        ]
        self._commit(md, v + 1)

    def append(
        self,
        df: DataFrame,
        partition_by: list | None = None,
        extra_properties: dict | None = None,
        sort_by: list | None = None,
        branch: str | None = None,
    ) -> None:
        """``sort_by`` (e.g. ["ts", "id desc"]) takes effect at table
        CREATION and becomes the default write sort order every later
        write applies. Passing it against an EXISTING table whose order
        differs raises — silently ignoring it would hand back unsorted
        files and no file-skipping, the exact benefit asked for.

        ``branch`` stages the append on a named branch (the jar's
        ``spark.wap.branch`` write-audit-publish flow): lineage forks
        from the branch head, only the branch ref advances, and main
        readers never see the rows until ``fast_forward`` publishes
        them. Branch appends only — row-level commits (upsert /
        delete_where) stay main-only by name."""
        if sort_by and self.exists():
            md = self.metadata()
            by_name = {f["name"]: f for f in current_schema(md)["fields"]}
            want = [
                (by_name.get(c, {}).get("id"), d)
                for c, d in map(self._parse_sort_entry, sort_by)
            ]
            oid = md.get("default-sort-order-id", 0)
            order = next(
                (o for o in md.get("sort-orders", [])
                 if o["order-id"] == oid),
                {"fields": []},
            )
            have = [
                (sf["source-id"], sf["direction"]) for sf in order["fields"]
            ]
            if want != have:
                raise ValueError(
                    f"table already exists with sort order {have} — "
                    f"sort_by {sort_by!r} would be silently ignored; "
                    "sort orders are set at creation"
                )
        self._write_snapshot(
            df, "append", partition_by=partition_by,
            extra_properties=extra_properties, sort_by=sort_by,
            branch=branch,
        )

    def add_files(
        self, paths: list[str], _opened: dict | None = None
    ) -> int:
        """IMPORT existing parquet files into the table METADATA-ONLY
        (the jar's ``add_files`` procedure — the migration path: at
        100 TB re-writing data to adopt Iceberg is exactly the cost this
        avoids). Each file's footer supplies record count and per-column
        bounds (the same Appendix-D stats a written file gets, so
        range_filter pruning works on imported files immediately); the
        files commit as one append snapshot and are NOT copied or moved.

        Honest gates: the table must exist and be unpartitioned (hive-
        layout imports need partition parsing — jar scope); every footer
        column must bind to a current-schema field of the same or a
        narrower (widenable) type — unknown columns refuse rather than
        silently dropping data. Ownership caveat, same as the jar:
        imported files become TABLE-OWNED — a later ``compact()`` +
        ``expire_snapshots()`` may delete them; the jar-free streaming
        source refuses tables with out-of-tree files (directory tailing
        cannot see them). Returns the number of files imported."""
        import pyarrow.parquet as pq

        if not self.exists():
            raise ValueError(
                "add_files needs an existing table — create() it with "
                "the target schema first"
            )
        md = self.metadata()
        if self._spec_fields(md):
            raise ValueError(
                "add_files supports unpartitioned tables only (a "
                "hive-layout import needs partition-value parsing — use "
                "the iceberg-spark runtime jar)"
            )
        if not paths:
            raise ValueError("add_files needs at least one path")
        # the jar's check_duplicate_files=true default: importing a file
        # the table already references (or the same path twice in one
        # call) would silently double its rows
        abspaths = [os.path.abspath(p) for p in paths]
        dup_in_call = sorted(
            {p for p in abspaths if abspaths.count(p) > 1}
        )
        if dup_in_call:
            raise ValueError(
                f"add_files: path(s) repeated in this call: {dup_in_call}"
            )
        if md.get("current-snapshot-id", -1) not in (-1, None):
            live, _, _ = self._live()
            live_paths = {os.path.abspath(f["file_path"]) for f in live}
            dup_live = sorted(set(abspaths) & live_paths)
            if dup_live:
                raise ValueError(
                    "add_files: already referenced by the table (a "
                    f"retried import?): {dup_live}"
                )
        ice = current_schema(md)
        by_name = {f["name"]: f for f in ice["fields"]}
        widen_ok = {("int", "long"), ("float", "double")}
        files = []
        for orig in paths:
            p = os.path.abspath(orig)
            # create_from_parquet hands over its already-open footers so
            # the migration path parses each footer exactly once
            pf = (_opened or {}).get(orig) or pq.ParquetFile(p)
            for af in pf.schema_arrow:
                fld = by_name.get(af.name)
                if fld is None:
                    raise ValueError(
                        f"add_files: {p} carries column {af.name!r} "
                        "missing from the table schema — importing "
                        "would silently drop its data; evolve the "
                        "schema or exclude the file"
                    )
                want = fld["type"]
                got = _ice_type_from_arrow(af.type)
                if isinstance(want, dict) and isinstance(got, dict):
                    ok = got.get("element") == want.get("element")
                else:
                    ok = got == want or (got, want) in widen_ok
                if not ok:
                    raise ValueError(
                        f"add_files: {p} column {af.name!r} is {got}, "
                        f"table expects {want} — not a widening match"
                    )
            meta = pf.metadata
            lowers, uppers = self._column_bounds(meta, md)
            files.append(
                {
                    "content": CONTENT_DATA,
                    "file_path": p,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": meta.num_rows,
                    "file_size_in_bytes": os.path.getsize(p),
                    "lower_bounds": lowers,
                    "upper_bounds": uppers,
                    "equality_ids": None,
                }
            )
        self._write_snapshot(None, "append", raw_data_files=files)
        return len(files)

    def create_from_parquet(self, paths: list[str]) -> int:
        """SNAPSHOT-migrate existing parquet into a NEW Iceberg table
        (the jar's ``snapshot`` / ``migrate`` procedures, metadata-only):
        the schema is inferred from the files' FOOTERS (names in
        first-seen order; int/float widen to long/double when files
        disagree; any other type conflict refuses), the table is created
        unpartitioned, and the files import via :meth:`add_files` — no
        data page is ever read or copied. At 100 TB this is the adoption
        path: a parquet lake becomes an Iceberg table in one metadata
        commit per N files. Returns the number of files imported."""
        import pyarrow.parquet as pq

        if self.exists():
            raise ValueError(
                f"table already exists at {self.location} — add_files() "
                "imports into an existing table"
            )
        if not paths:
            raise ValueError("create_from_parquet needs at least one path")
        widen = {("int", "long"), ("float", "double")}
        # ONE footer open per file: the schemas drive the union here and
        # the SAME handles feed add_files' stats pass below (the whole
        # point of the migration path is per-file metadata-only cost)
        opened = {p: pq.ParquetFile(p) for p in paths}
        got: dict[str, object] = {}
        order: list[str] = []
        for p in paths:
            for af in opened[p].schema_arrow:
                t = _ice_type_from_arrow(af.type)
                prev = got.get(af.name)
                both_str = isinstance(prev, str) and isinstance(t, str)
                if prev is None:
                    got[af.name] = t
                    order.append(af.name)
                elif prev == t:
                    pass
                elif both_str and (prev, t) in widen:
                    got[af.name] = t  # widen the table column
                elif both_str and (t, prev) in widen:
                    pass  # this file is the narrower one — reads widen
                else:
                    raise ValueError(
                        f"create_from_parquet: column {af.name!r} is "
                        f"{prev} in one file and {t} in {p} — not a "
                        "widening match"
                    )
        fields: list[dict] = []
        next_id = 1
        for n in order:
            fields.append({"id": next_id, "name": n, "required": False})
            next_id += 1
        for n, f in zip(order, fields):
            t = got[n]
            if isinstance(t, dict):
                el = t["element"]
                if not isinstance(el, str):
                    raise ValueError(
                        f"column {n!r}: lists of primitives only"
                    )
                f["type"] = {
                    "type": "list",
                    "element-id": next_id,
                    "element": el,
                    "element-required": False,
                }
                next_id += 1
            else:
                f["type"] = t
        md = self._base_metadata(
            {"type": "struct", "schema-id": 0, "fields": fields},
            next_id - 1,
        )
        os.makedirs(self.data_dir, exist_ok=True)
        self._commit(md, 1)
        return self.add_files(paths, _opened=opened)

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> None:
        self._write_snapshot(df, "overwrite", partition_by=partition_by)

    def upsert(
        self,
        df: DataFrame,
        key_cols: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Row-level UPSERT via v2 equality deletes — the write shape the
        reference's Flink sink produces when ``primary.key`` is set
        (`model/sink/IcebergSinkConfig.scala:140`, ``.upsert(...)``): one
        snapshot committing the new rows as data files PLUS an equality
        delete file of their keys, which erases any OLDER row with the
        same key at read time (merge-on-read; strictly-smaller sequence
        numbers, so the snapshot's own rows survive).

        Constraints (honest subset, all checked): the batch must be
        key-unique (Flink's upsert stream dedups per checkpoint; here the
        caller does, because a DataFrame has no row order to break the
        tie deterministically); on a partitioned table the partition
        columns must be a subset of the key (the delete files land
        partition-scoped, as the Flink writer requires)."""
        if not key_cols:
            raise ValueError("upsert requires at least one key column")
        # validate BEFORE any table mutation: a failed upsert must not
        # leave a freshly-created (possibly mis-partitioned) table behind
        missing = [k for k in key_cols if k not in df.columns]
        if missing:
            raise ValueError(f"unknown upsert key column(s) {missing}")
        from flinkrunner_spark import iceberg_transforms as T

        if self.exists():
            md = self.metadata()
            by_id = {
                f["id"]: f for f in current_schema(md)["fields"]
            }
            spec_cols = [
                by_id[f["source-id"]]["name"]
                for f in self._spec_fields(md)
            ]
        else:
            spec_cols = [
                T.parse_spec_entry(e).column for e in (partition_by or [])
            ]
        if any(c not in key_cols for c in spec_cols):
            raise ValueError(
                "upsert on a partitioned table requires the partition "
                f"SOURCE columns {spec_cols} to be part of the key "
                f"{key_cols} (equality deletes are partition-scoped — "
                "the delete rows must be able to compute their partition)"
            )
        dup = (
            df.groupBy(*key_cols)
            .count()
            .filter("count > 1")
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"upsert batch has duplicate key {tuple(dup[0])[:-1]} — "
                "dedupe the batch first (a DataFrame has no row order to "
                "pick a deterministic winner)"
            )
        if not self.exists():
            self.create(df.schema, partition_by=partition_by)
        md = self.metadata()
        by_name = {f["name"]: f for f in current_schema(md)["fields"]}
        has_parent = md.get("current-snapshot-id", -1) not in (-1, None)
        self._write_snapshot(
            df,
            # a first upsert commits no deletes — it IS an append, and
            # recording it as one keeps the append-only lineage gates
            # (read_stream / incremental scans) usable until a real
            # row-level commit happens
            "overwrite" if has_parent else "append",
            partition_by=partition_by,
            # no prior snapshot -> nothing to delete, plain append
            delete_df=df.select(*key_cols) if has_parent else None,
            equality_ids=[by_name[k]["id"] for k in key_cols],
        )

    def delete_where(self, spark: SparkSession, condition) -> int:
        """Row-level DELETE via POSITION delete files (spec content=1):
        matching rows are located as (containing data file, row ordinal)
        pairs — ordinals from Spark's ``_metadata.row_index``, free with
        the scan — written as spec-shaped ``file_path``/``pos`` parquet
        sorted by (file_path, pos), and committed as a ``delete``
        snapshot whose deletes manifest carries them at the next
        sequence number (≥ every live data file, so they cover the whole
        current table state). No data file is rewritten: at 100 TB a
        delete touching 0.1% of rows costs one filtered scan plus tiny
        delete files, not a table rewrite; readers merge them with one
        anti-join (`_read_merged`). Returns the number of deleted
        positions. Reference parity: the Flink/Iceberg row-level delete
        path of `model/sink/IcebergSinkConfig.scala`.

        ``condition`` is a Column or SQL string over the table columns.
        Positions are computed against LIVE rows (current read), so
        re-deleting already-dead rows is impossible and the count is
        exact."""
        import pyarrow.parquet as pq

        from pyspark.sql import functions as F

        md = self.metadata()
        ice = current_schema(md)
        entries, eq_dels, pos_dels = self._live()
        if not entries:
            return 0
        # assemble live rows WITH positions: reuse the merge-on-read
        # machinery so rows already covered by eq/pos deletes are not
        # re-targeted (their re-deletion would be harmless but the
        # returned count would lie)
        spec_fields = self._spec_fields(md)
        part_cols = [f["name"] for f in spec_fields]
        cond = F.expr(condition) if isinstance(condition, str) else condition

        # build a position-bearing frame of live rows
        merged = self._read_merged(
            spark, entries, eq_dels, pos_dels, md, ice,
            keep_position_cols=True,
        )
        matches = merged.filter(cond).select(
            F.col("_fp").alias("file_path"), F.col("_rix").alias("pos")
        )
        # spec: a PARTITION-SCOPED delete file must carry the partition
        # tuple of the data files it targets — external readers
        # (iceberg-spark, Trino) prune delete files by partition, and an
        # all-null tuple on a partitioned table would make them skip the
        # deletes and resurrect rows. Each position belongs to exactly
        # one data file, whose manifest partition tuple we already hold:
        # broadcast the (file → tuple) map and split the output by it.
        from urllib.parse import unquote

        pkey_of = {
            e["file_path"]: json.dumps(
                {c: e["partition"].get(c) for c in part_cols},
                sort_keys=True,
                separators=(",", ":"),
            )
            for e in entries
        }
        map_df = spark.createDataFrame(
            list(pkey_of.items()), "file_path string, _pkey string"
        )
        matches = matches.join(F.broadcast(map_df), "file_path")
        files, n_deleted = self._write_pos_delete_parquets(
            matches, part_cols, n_targets=len(entries)
        )
        if not files:
            return 0
        self._write_snapshot(None, "delete", pos_delete_files=files)
        return n_deleted

    def _write_pos_delete_parquets(
        self, matches, part_cols: list[str], n_targets: int
    ) -> tuple[list[dict], int]:
        """Write a (file_path, pos, _pkey) frame as spec-shaped
        position-delete parquet files: rows within a file sort by
        (file_path, pos) — range-partition + sort-within gives globally
        ranged, internally sorted files (no single-file bottleneck when
        the delete is wide); partitionBy(_pkey) then splits each sorted
        run by partition tuple (a run's subsequence stays sorted).
        Returns (data_file dicts, total tombstone rows)."""
        import pyarrow.parquet as pq
        from urllib.parse import unquote

        n_out = max(1, min(32, n_targets // 8 + 1))
        tmp = os.path.join(self.location, f"_tmp-posdel-{uuid.uuid4().hex}")
        (
            # sort by (_pkey, file_path, pos): a dynamic-partition write
            # REQUIRES ordering on the partition column and would insert
            # its own NON-STABLE sort on _pkey alone, scrambling the
            # (file_path, pos) order the spec mandates inside delete
            # files — leading with _pkey satisfies the writer's required
            # ordering so the existing sort is kept as-is
            matches.repartitionByRange(n_out, "file_path", "pos")
            .sortWithinPartitions("_pkey", "file_path", "pos")
            .write.partitionBy("_pkey")
            .mode("overwrite")
            .parquet(tmp)
        )
        del_dir = os.path.join(self.data_dir, "_deletes")
        os.makedirs(del_dir, exist_ok=True)
        commit_uuid = uuid.uuid4().hex
        files, n_deleted, i = [], 0, 0
        for root, _dirs, names in sorted(os.walk(tmp)):
            rel = os.path.relpath(root, tmp)
            if not rel.startswith("_pkey="):
                continue
            partition = json.loads(unquote(rel.split("=", 1)[1]))
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                meta = pq.ParquetFile(src).metadata
                if meta.num_rows == 0:
                    continue
                dst = os.path.join(
                    del_dir, f"posdel-{i:05d}-{commit_uuid}.parquet"
                )
                shutil.move(src, dst)
                files.append(
                    {
                        "content": FILE_CONTENT_POS_DELETES,
                        "file_path": dst,
                        "file_format": "PARQUET",
                        "partition": {
                            c: partition.get(c) for c in part_cols
                        },
                        "record_count": meta.num_rows,
                        "file_size_in_bytes": os.path.getsize(dst),
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": None,
                    }
                )
                n_deleted += meta.num_rows
                i += 1
        shutil.rmtree(tmp, ignore_errors=True)
        return files, n_deleted

    def _check_schema(self, spark_schema, md: dict) -> None:
        ice, _ = iceberg_schema_from_spark(spark_schema)
        cur = current_schema(md)

        def norm(t):
            # ids are table-assigned; a dataframe's fresh ids may differ
            if isinstance(t, dict) and t.get("type") == "list":
                return ("list", t["element"])
            return t

        got = [(f["name"], norm(f["type"])) for f in ice["fields"]]
        want = [(f["name"], norm(f["type"])) for f in cur["fields"]]
        if got != want:
            raise ValueError(
                f"schema mismatch writing to iceberg table "
                f"{self.location}: table {want}, dataframe {got}"
            )

    # -- read path ----------------------------------------------------------

    def _resolve_snapshot(
        self,
        md: dict,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
    ) -> int | None:
        """Current snapshot, or TIME TRAVEL: an explicit snapshot id, or
        the latest snapshot at/before ``as_of_ms`` (the spec's
        as-of-timestamp semantics)."""
        if snapshot_id is not None and as_of_ms is not None:
            raise ValueError("pass snapshot_id OR as_of_ms, not both")
        if snapshot_id is not None:
            if not any(
                s["snapshot-id"] == snapshot_id for s in md["snapshots"]
            ):
                raise ValueError(f"unknown snapshot id {snapshot_id}")
            return snapshot_id
        if as_of_ms is not None:
            # spec: timestamp travel follows the snapshot-LOG — the
            # record of when each snapshot BECAME current on main. The
            # log ENTRY timestamp is the resolution key, not the
            # snapshot's creation time: a WAP branch snapshot created at
            # t1 but published (fast_forward) at t3 was not the table
            # state during (t1, t3). Entries whose snapshot has since
            # expired are skipped; tables predating the log (none of
            # ours) fall back to snapshot creation times.
            live_ids = {s["snapshot-id"] for s in md["snapshots"]}
            log = [
                e for e in md.get("snapshot-log", [])
                if e["snapshot-id"] in live_ids
            ]
            if log:
                older = [e for e in log if e["timestamp-ms"] <= as_of_ms]
                if not older:
                    raise ValueError(
                        f"no snapshot at or before timestamp {as_of_ms}"
                    )
                return older[-1]["snapshot-id"]  # log is append-ordered
            older_s = [
                s for s in md["snapshots"] if s["timestamp-ms"] <= as_of_ms
            ]
            if not older_s:
                raise ValueError(
                    f"no snapshot at or before timestamp {as_of_ms}"
                )
            return max(older_s, key=lambda s: s["timestamp-ms"])[
                "snapshot-id"
            ]
        cur = md.get("current-snapshot-id", -1)
        return None if cur in (-1, None) else cur

    def _manifest_list_records(
        self, md: dict, snapshot_id: int | None = None
    ) -> list[dict]:
        snap_id = (
            snapshot_id
            if snapshot_id is not None
            else md.get("current-snapshot-id", -1)
        )
        if snap_id in (-1, None):
            return []
        snap = next(
            s for s in md["snapshots"] if s["snapshot-id"] == snap_id
        )
        with open(self._map(snap["manifest-list"]), "rb") as fh:
            _, records = AC.read_container(fh.read())
        return records

    def live_entries(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        partition_filter: dict | None = None,
        range_filter: dict | None = None,
    ) -> list[dict]:
        """Live data_file records of a snapshot (default: current), with
        MANIFEST-LEVEL PRUNING — both forms read metadata only, before
        any parquet footer or data page is touched (at 100 TB a selective
        filter scans a sliver of the table):
        * ``partition_filter`` ({col: value}) drops files whose manifest
          partition tuple mismatches;
        * ``range_filter`` ({col: (lo, hi)}, inclusive; None = open end)
          drops files whose manifest lower/upper bounds (written from the
          parquet footer stats at commit time) cannot intersect the
          range. Files without bounds for a column are always kept —
          skipping is an optimization, never a correctness filter; the
          caller still applies the row-level predicate.
        Tables with delete files (equality upserts or position deletes)
        must be read through ``read``, which merges them — this path
        would return raw pre-merge rows."""
        data, deletes, pos_deletes = self._live(
            snapshot_id, as_of_ms, partition_filter, range_filter
        )
        if deletes or pos_deletes:
            raise ValueError(
                "table has delete files (equality upserts / position "
                "deletes) — use read(), which merges them; the raw "
                "data-file list would include deleted rows"
            )
        unpruned = sorted(
            {k for f in data for k in f.get("_unpruned", [])}
        )
        if unpruned:
            raise ValueError(
                f"partition_filter key(s) {unpruned} are absent from the "
                "spec of some live files (partition evolution) — this "
                "metadata-only listing cannot row-filter them; use "
                "read(), which applies the residual filter to the "
                "unprunable files"
            )
        return data

    def _live(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        partition_filter: dict | None = None,
        range_filter: dict | None = None,
    ) -> tuple[list[dict], list[dict], list[dict]]:
        """(data_files, equality_delete_files, position_delete_files) of
        a snapshot, each dict carrying its effective ``_seq`` (the
        entry's explicit sequence number or, when inherited, the
        manifest's). Pruning drops a delete file only on the partition
        tuple (its bounds cover key columns only — or, for position
        deletes, nothing row-valued at all; range filters on other
        columns can never exclude it)."""
        md = self.metadata()
        if partition_filter:
            # with partition evolution a filter key may live in any spec;
            # typo protection checks the union of all specs' field names
            all_names = {
                f["name"]
                for s in md["partition-specs"]
                for f in s["fields"]
            }
            bad = sorted(set(partition_filter) - all_names)
            if bad:
                raise ValueError(
                    f"partition_filter column(s) {bad} are not partition "
                    f"columns of this table (specs: {sorted(all_names)}) "
                    "— a silent empty result would hide the typo; use "
                    "range_filter / a row predicate for data columns"
                )
        ice = current_schema(md)
        by_name = {f["name"]: f for f in ice["fields"]}
        snap = self._resolve_snapshot(md, snapshot_id, as_of_ms)
        data: list[dict] = []
        deletes: list[dict] = []
        pos_deletes: list[dict] = []
        for mf in self._manifest_list_records(md, snap):
            with open(self._map(mf["manifest_path"]), "rb") as fh:
                _, entries = AC.read_container(fh.read())
            mf_spec_id = mf.get("partition_spec_id", 0)
            mf_spec_names = {
                f["name"] for f in self._spec_fields(md, mf_spec_id)
            }
            # a filter key absent from THIS manifest's spec cannot prune
            # its files (their tuples never recorded it) — those files
            # stay, flagged so read() row-filters them and the metadata-
            # only APIs refuse instead of over-returning
            unpruned = (
                [k for k in partition_filter if k not in mf_spec_names]
                if partition_filter
                else []
            )
            for e in entries:
                if e["status"] == STATUS_DELETED:
                    continue
                f = dict(e["data_file"])
                f["file_path"] = self._map(f["file_path"])
                f["_seq"] = (
                    e.get("sequence_number")
                    if e.get("sequence_number") is not None
                    else mf["sequence_number"]
                )
                f["_spec_id"] = mf_spec_id
                f["_added_snapshot_id"] = e.get("snapshot_id")
                if f["file_format"].upper() != "PARQUET":
                    raise ValueError(
                        f"iceberg fallback reads parquet data files only, "
                        f"got {f['file_format']!r}"
                    )
                # GLOBAL delete files (all-None partition tuple — the
                # pre-r7 delete_where wrote those; current commits are
                # partition-scoped per spec) apply across partitions —
                # pruning them by the filter would resurrect deleted
                # rows in partition-filtered reads
                is_global_delete = mf["content"] == CONTENT_DELETES and all(
                    v is None for v in f["partition"].values()
                )
                if (
                    partition_filter
                    and not is_global_delete
                    and any(
                        f["partition"].get(k) != v
                        for k, v in partition_filter.items()
                        if k in mf_spec_names
                    )
                ):
                    continue
                if unpruned and not is_global_delete:
                    f["_unpruned"] = list(unpruned)
                if mf["content"] == CONTENT_DATA:
                    if f.get("content", CONTENT_DATA) != CONTENT_DATA:
                        raise ValueError(
                            "delete file recorded in a data manifest — "
                            "refusing a malformed table"
                        )
                    if range_filter and self._bounds_exclude(
                        f, range_filter, by_name
                    ):
                        continue
                    data.append(f)
                elif f.get("content") == FILE_CONTENT_EQ_DELETES:
                    deletes.append(f)
                elif f.get("content") == FILE_CONTENT_POS_DELETES:
                    pos_deletes.append(f)
                else:
                    raise ValueError(
                        f"delete manifest entry with unknown content "
                        f"{f.get('content')!r} — refusing a malformed "
                        "table"
                    )
        return data, deletes, pos_deletes

    @staticmethod
    def _bounds_exclude(f: dict, range_filter: dict, by_name: dict) -> bool:
        lowers = {
            kv["key"]: kv["value"] for kv in (f.get("lower_bounds") or [])
        }
        uppers = {
            kv["key"]: kv["value"] for kv in (f.get("upper_bounds") or [])
        }
        for col, (lo, hi) in range_filter.items():
            fld = by_name.get(col)
            if fld is None:
                raise ValueError(f"unknown range_filter column {col!r}")
            fid, t = fld["id"], fld["type"]
            if fid in uppers and lo is not None:
                if bound_value(t, uppers[fid]) < lo:
                    return True  # whole file below the range
            if fid in lowers and hi is not None:
                if bound_value(t, lowers[fid]) > hi:
                    return True  # whole file above the range
        return False

    def data_files(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        partition_filter: dict | None = None,
        range_filter: dict | None = None,
    ) -> list[str]:
        return [
            f["file_path"]
            for f in self.live_entries(
                snapshot_id, as_of_ms, partition_filter, range_filter
            )
        ]

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        partition_filter: dict | None = None,
        range_filter: dict | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        from pyspark.sql import functions as F

        md = self.metadata()
        if ref is not None:
            # VERSION AS OF '<ref>': a tag/branch name resolves to its
            # pinned snapshot and rides the normal time-travel path
            if snapshot_id is not None or as_of_ms is not None:
                raise ValueError("pass ref OR snapshot_id/as_of_ms")
            snapshot_id = self._ref_snapshot(md, ref)
        ice = self._schema_for(md, snapshot_id, as_of_ms)
        ddl = spark_ddl_from_iceberg(ice)
        entries, del_entries, pos_del_entries = self._live(
            snapshot_id, as_of_ms, partition_filter, range_filter
        )
        # partition evolution residue: filter keys absent from some live
        # files' spec could not prune those files — apply the predicate
        # row-wise after assembly (identity keys name real data columns;
        # transform keys have no stored column and must be refused).
        residual = sorted(
            {
                k
                for f in entries + del_entries + pos_del_entries
                for k in f.get("_unpruned", [])
            }
        )
        if residual:
            data_cols = {fl["name"] for fl in ice["fields"]}
            non_identity = [k for k in residual if k not in data_cols]
            if non_identity:
                raise ValueError(
                    f"partition_filter key(s) {non_identity} are "
                    "transform fields absent from the spec of some live "
                    "files (partition evolution) — rows in those files "
                    "cannot be filtered by the transform value; filter "
                    "on the source column (range_filter / row predicate)"
                )
        if not entries:
            return spark.createDataFrame([], ddl)
        if del_entries or pos_del_entries:
            out = self._read_merged(
                spark, entries, del_entries, pos_del_entries, md, ice
            )
        else:
            out = self._assemble_data(spark, entries, md, ice)
        for k in residual:
            out = out.filter(F.col(k) == F.lit(partition_filter[k]))
        return out

    def _identity_types(self, md: dict, ice: dict) -> dict:
        """Spark type per identity partition field name, across ALL
        specs of the table (evolution can retire a field from the
        default spec while old files still reconstruct it)."""
        by_id = {f["id"]: f for f in ice["fields"]}
        out: dict[str, str] = {}
        for s in md["partition-specs"]:
            for pf in self._identity_fields(s["fields"]):
                src = by_id.get(pf["source-id"])
                if src is not None:
                    out[pf["name"]] = _spark_type_from_iceberg(src["type"])
        return out

    def _rename_drift(self, md: dict, wanted_fields: list[dict]) -> bool:
        """True when any wanted field was ever bound to a DIFFERENT name
        in an earlier schema version — the one evolution a straight
        schema'd-by-name parquet scan cannot resolve (it would null-fill
        the renamed column in pre-rename files). Adds, drops and type
        widening keep the fast path: Spark 4's parquet reader null-fills
        missing names, prunes unreferenced physical columns, and widens
        int32->int64 / float->double natively."""
        if len(md.get("schemas", [])) <= 1:
            return False
        names_of: dict[int, set[str]] = {}
        for s in md["schemas"]:
            for f in s["fields"]:
                names_of.setdefault(f["id"], set()).add(f["name"])
        return any(
            len(names_of.get(f["id"], {f["name"]})) > 1
            for f in wanted_fields
        )

    def _scan_resolved(
        self,
        spark: SparkSession,
        paths: list[str],
        wanted_fields: list[dict],
        md: dict,
        meta: bool = False,
    ) -> DataFrame:
        """FIELD-ID-resolved parquet scan of ``paths`` producing exactly
        ``wanted_fields`` (current names and types) — the spec's read
        resolution for evolved tables. Fast path (no rename in any
        wanted field's history): ONE schema'd scan, zero extra planning
        cost. Rename path: files group by their footer column names (one
        driver-side footer read per file — the same order of planning
        IO as the manifest scan that listed them, and only paid on
        renamed tables), each group reads under its physical names and
        projects physical -> current by field id; added-later fields
        null-fill, dropped physical columns prune, widened types cast
        exactly. ``meta`` rides `_metadata` (file_path, row_index)
        through as ``_fp``/``_rix``."""
        from pyspark.sql import functions as F

        def _with_meta(df):
            if meta:
                df = df.select(
                    "*",
                    _norm_path(F.col("_metadata.file_path")).alias("_fp"),
                    F.col("_metadata.row_index").alias("_rix"),
                )
            return df

        ddl = spark_ddl_from_iceberg({"fields": wanted_fields})
        if not self._rename_drift(md, wanted_fields):
            return _with_meta(spark.read.schema(ddl).parquet(*paths))
        import pyarrow.parquet as pq
        from functools import reduce

        # historical name -> field id; reuse is refused at evolution
        # time, re-checked here for externally written metadata
        id_of: dict[str, int] = {}
        for s in md["schemas"]:
            for f in s["fields"]:
                prev = id_of.setdefault(f["name"], f["id"])
                if prev != f["id"]:
                    raise ValueError(
                        f"schema history binds name {f['name']!r} to field "
                        f"ids {prev} and {f['id']} — stored files (which "
                        "carry names, not ids) cannot be resolved "
                        "unambiguously; this table needs an id-writing "
                        "reader (the iceberg-spark runtime jar)"
                    )
        groups: dict[tuple, list[str]] = {}
        for p in paths:
            groups.setdefault(tuple(pq.read_schema(p).names), []).append(p)
        pieces = []
        for phys_names, ps in sorted(groups.items()):
            bound = {
                id_of[n]: n for n in phys_names if n in id_of
            }  # field id -> this group's physical name
            read_fields, sel = [], []
            for f in wanted_fields:
                t = _spark_type_from_iceberg(f["type"])
                n = bound.get(f["id"])
                if n is None:
                    sel.append(F.lit(None).cast(t).alias(f["name"]))
                else:
                    read_fields.append(f"`{n}` {t}")
                    sel.append(F.col(n).alias(f["name"]))
            piece = _with_meta(
                spark.read.schema(", ".join(read_fields)).parquet(*ps)
            )
            if meta:
                sel = sel + [F.col("_fp"), F.col("_rix")]
            pieces.append(piece.select(*sel))
        return reduce(lambda a, b: a.unionByName(b), pieces)

    def _assemble_data(
        self, spark: SparkSession, entries: list[dict], md: dict, ice: dict
    ) -> DataFrame:
        """Scan data files grouped by (spec, identity partition tuple):
        each file reconstructs exactly the columns ITS OWN spec removed
        (hive layout), so snapshots mixing files from several partition
        specs read back whole."""
        from pyspark.sql import functions as F

        groups: dict[tuple, list[str]] = {}
        for e in entries:
            sid = e.get("_spec_id", md["default-spec-id"])
            idf = self._identity_fields(self._spec_fields(md, sid))
            pcols = tuple(f["name"] for f in idf)
            key = (sid, pcols, tuple(e["partition"][c] for c in pcols))
            groups.setdefault(key, []).append(e["file_path"])
        if all(not k[1] for k in groups):
            # no identity fields anywhere: every source column is stored
            # (transforms are not invertible) — one straight id-resolved scan
            return self._scan_resolved(
                spark,
                [p for paths in groups.values() for p in paths],
                ice["fields"],
                md,
            )
        part_types = self._identity_types(md, ice)
        names = [f["name"] for f in ice["fields"]]
        pieces = []
        for (sid, pcols, pkey), paths in sorted(
            groups.items(), key=lambda kv: str(kv[0])
        ):
            piece = self._scan_resolved(
                spark,
                paths,
                [f for f in ice["fields"] if f["name"] not in pcols],
                md,
            )
            for col, val in zip(pcols, pkey):
                piece = piece.withColumn(
                    col, F.lit(val).cast(part_types[col])
                )
            pieces.append(piece.select(*names))
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _schema_for(
        self,
        md: dict,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
    ) -> dict:
        """The schema a read resolves under: EXPLICIT time travel uses
        the snapshot's RECORDED schema-id (spec semantics — a snapshot
        taken before an add_column must not grow the new column), while
        a current-state read always uses the current schema (metadata-
        only evolution commits no snapshot, so the latest snapshot's
        recorded id may legitimately lag the table schema)."""
        if snapshot_id is None and as_of_ms is None:
            return current_schema(md)
        snap_id = self._resolve_snapshot(md, snapshot_id, as_of_ms)
        if snap_id is not None:
            snap = next(
                s for s in md["snapshots"] if s["snapshot-id"] == snap_id
            )
            sid = snap.get("schema-id")
            if sid is not None:
                return next(
                    s for s in md["schemas"] if s.get("schema-id") == sid
                )
        return current_schema(md)

    def _read_merged(
        self,
        spark: SparkSession,
        entries: list[dict],
        del_entries: list[dict],
        pos_del_entries: list[dict],
        md: dict,
        ice: dict | None = None,
        keep_position_cols: bool = False,
    ) -> DataFrame:
        """MERGE-ON-READ of delete files. Equality deletes (upserts): a
        data row survives unless some delete file with the same key and
        a STRICTLY GREATER sequence number covers it. Position deletes
        (spec content=1, ``file_path``/``pos`` rows): a data row dies
        when a delete file at a GREATER-OR-EQUAL sequence number names
        its containing file and its row ordinal — ordinals come free
        from Spark's ``_metadata.row_index`` (whole files are scanned,
        so the parquet row index IS the iceberg position). Each file's
        sequence number rides along as a literal column (metadata, no
        extra IO); delete keys collapse to one (key → max seq) row
        before a single anti-join per delete kind — at scale the delete
        side is the small one, and AQE picks a broadcast anti-join at
        runtime. Nulls in equality key columns match null (eqNullSafe),
        the spec's equality semantics."""
        from functools import reduce

        from pyspark.sql import functions as F

        ice = ice or current_schema(md)
        by_id = {f["id"]: f for f in ice["fields"]}
        # only IDENTITY partition fields were removed from data files and
        # need reconstructing as per-group constants; transform fields'
        # source columns are stored in the files themselves. With
        # partition evolution, WHICH columns a file is missing depends on
        # the spec it was written under — groups key on (spec, tuple).
        part_types = self._identity_types(md, ice)
        with_pos = bool(pos_del_entries) or keep_position_cols

        def assemble(
            file_entries: list[dict],
            wanted_fields: list[dict] | None,
            seq_col: str,
            meta: bool = False,
            raw_ddl: str | None = None,
        ):
            """Scan ``file_entries`` so every piece carries exactly the
            ``wanted_fields`` columns (identity fields of each file's
            OWN spec reconstructed from its tuple) plus ``seq_col``.
            ``raw_ddl`` bypasses spec logic for frames whose stored
            layout is spec-independent (position-delete file_path/pos
            rows)."""
            wanted_names = (
                [f["name"] for f in wanted_fields] if wanted_fields else []
            )
            groups: dict[tuple, list[str]] = {}
            for e in file_entries:
                sid = e.get("_spec_id", md["default-spec-id"])
                pcols = (
                    ()
                    if raw_ddl is not None
                    else tuple(
                        f["name"]
                        for f in self._identity_fields(
                            self._spec_fields(md, sid)
                        )
                    )
                )
                k = (
                    sid,
                    pcols,
                    tuple(e["partition"].get(c) for c in pcols),
                    int(e["_seq"]),
                )
                groups.setdefault(k, []).append(e["file_path"])
            pieces = []
            for (sid, pcols, pkey, seq), paths in sorted(
                groups.items(), key=lambda kv: str(kv[0])
            ):
                if raw_ddl is not None:
                    # spec-constant layout (position-delete file_path/pos
                    # rows) — never renamed, no id resolution needed
                    piece = spark.read.schema(raw_ddl).parquet(*paths)
                    if meta:
                        piece = piece.select(
                            "*",
                            _norm_path(
                                F.col("_metadata.file_path")
                            ).alias("_fp"),
                            F.col("_metadata.row_index").alias("_rix"),
                        )
                else:
                    piece = self._scan_resolved(
                        spark,
                        paths,
                        [f for f in wanted_fields if f["name"] not in pcols],
                        md,
                        meta=meta,
                    )
                for col, val in zip(pcols, pkey):
                    if col in wanted_names:
                        piece = piece.withColumn(
                            col, F.lit(val).cast(part_types[col])
                        )
                pieces.append(piece.withColumn(seq_col, F.lit(seq)))
            return reduce(lambda a, b: a.unionByName(b), pieces)

        data = assemble(entries, ice["fields"], "_seq", meta=with_pos)

        if del_entries:
            eq_sets = {
                tuple(f.get("equality_ids") or ()) for f in del_entries
            }
            if len(eq_sets) != 1 or not next(iter(eq_sets)):
                raise ValueError(
                    "equality delete files with differing or empty "
                    "equality_ids — the fallback merges one upsert key "
                    "per table (use the iceberg-spark runtime jar)"
                )
            key_cols = [by_id[i]["name"] for i in next(iter(eq_sets))]
            key_fields = [
                f for f in ice["fields"] if f["name"] in key_cols
            ]
            dels = (
                assemble(del_entries, key_fields, "_dseq")
                .groupBy(*key_cols)
                .agg(F.max("_dseq").alias("_dseq"))
            )
            cond = reduce(
                lambda a, b: a & b,
                [data[c].eqNullSafe(dels[c]) for c in key_cols]
                + [data["_seq"] < dels["_dseq"]],
            )
            data = data.join(dels, cond, "left_anti")

        if pos_del_entries:
            pdels = (
                assemble(
                    pos_del_entries, None, "_pdseq",
                    raw_ddl="file_path string, pos long",
                )
                .select(
                    # position-delete rows NAME their target data file —
                    # on a relocated table those path VALUES need the
                    # same mapping the manifest paths got
                    _norm_path(self._map_col(F.col("file_path"))).alias(
                        "_dfp"
                    ),
                    F.col("pos").alias("_dpos"),
                    "_pdseq",
                )
                .groupBy("_dfp", "_dpos")
                .agg(F.max("_pdseq").alias("_pdseq"))
            )
            pcond = (
                (data["_fp"] == pdels["_dfp"])
                & (data["_rix"] == pdels["_dpos"])
                & (data["_seq"] <= pdels["_pdseq"])
            )
            data = data.join(pdels, pcond, "left_anti")

        cols = [f["name"] for f in ice["fields"]]
        if keep_position_cols:
            cols += ["_fp", "_rix"]
        return data.select(*cols)

    def snapshots(self) -> list[dict]:
        return list(self.metadata().get("snapshots", []))

    # -- refs: tags + branches (spec v2 `refs` map) --------------------------
    # `main` is maintained by every commit (a branch ref tracking
    # current-snapshot-id, what the iceberg-spark runtime writes); tags
    # pin a snapshot for reads (`VERSION AS OF 'name'` in Spark SQL /
    # Trino `FOR VERSION AS OF`) and PROTECT it from expire_snapshots.
    # Scope note: reads at any ref are supported; writes land on main
    # or, for appends, on a named branch (`append(branch=...)` — the
    # write-audit-publish flow closed by `fast_forward`/`cherry_pick`
    # below). Row-level branch writes (upsert/delete) stay with the
    # jar; set_ref refuses to move `main` by hand (commit-maintained).

    def refs(self) -> dict:
        return dict(self.metadata().get("refs") or {})

    def _ref_snapshot(self, md: dict, name: str) -> int:
        ref = (md.get("refs") or {}).get(name)
        if ref is None:
            raise ValueError(
                f"unknown ref {name!r} (existing: "
                f"{sorted((md.get('refs') or {}))})"
            )
        return ref["snapshot-id"]

    def set_ref(
        self,
        name: str,
        ref_type: str = "tag",
        snapshot_id: int | None = None,
        max_ref_age_ms: int | None = None,
    ) -> dict:
        """Create a tag or branch ref at ``snapshot_id`` (default: the
        current snapshot). Refuses to reassign an existing name (drop it
        first — matching CREATE TAG vs REPLACE TAG being distinct
        statements) and to touch ``main`` (commit-maintained)."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"ref type must be tag|branch, got {ref_type!r}")
        if not name or name == "main":
            raise ValueError(
                "ref name must be non-empty and not 'main' (main tracks "
                "the current snapshot and is maintained by commits)"
            )
        md = self.metadata()
        sid = self._resolve_snapshot(md, snapshot_id=snapshot_id)
        if sid is None:
            raise ValueError("table has no snapshot to reference")
        refs = dict(md.get("refs") or {})
        if name in refs:
            raise ValueError(
                f"ref {name!r} already exists at snapshot "
                f"{refs[name]['snapshot-id']}; drop_ref() first"
            )
        entry: dict = {"snapshot-id": sid, "type": ref_type}
        if max_ref_age_ms is not None:
            entry["max-ref-age-ms"] = int(max_ref_age_ms)
        refs[name] = entry
        md["refs"] = refs
        self._commit(md, self._version() + 1)
        return entry

    def tag(self, name: str, snapshot_id: int | None = None, **kw) -> dict:
        return self.set_ref(name, "tag", snapshot_id, **kw)

    def create_branch(
        self, name: str, snapshot_id: int | None = None, **kw
    ) -> dict:
        return self.set_ref(name, "branch", snapshot_id, **kw)

    def fast_forward(self, to_ref: str, from_ref: str) -> int:
        """PUBLISH a branch (the jar's ``fast_forward`` procedure — the
        closing step of write-audit-publish): move ``to_ref`` (usually
        ``main``) to ``from_ref``'s head, but ONLY when the target's
        current head is an ancestor of the source head (pure
        fast-forward; anything else would silently drop commits — the
        jar refuses those too, pointing at cherry-pick). Returns the
        published snapshot id.

        100 TB shape: metadata-only — one pointer swap, no data or
        manifest IO; the audited files were already written by the
        branch commits."""
        md = self.metadata()
        src = self._ref_snapshot(md, from_ref)
        refs = dict(md.get("refs") or {})
        if to_ref in refs:
            if refs[to_ref].get("type") != "branch":
                raise ValueError(
                    f"cannot fast_forward {to_ref!r}: it is a tag "
                    "(tags are immutable)"
                )
            cur = refs[to_ref]["snapshot-id"]
        elif to_ref == "main":
            cur = md.get("current-snapshot-id", -1)
        else:
            raise ValueError(f"unknown ref {to_ref!r}")
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        node, is_ancestor = src, False
        while node is not None and node in by_id:
            # an expired ancestor ends the walk: refuse cleanly below
            if node == cur:
                is_ancestor = True
                break
            node = by_id[node].get("parent-snapshot-id")
        if cur not in (-1, None) and not is_ancestor:
            raise ValueError(
                f"{to_ref!r} (snapshot {cur}) is not an ancestor of "
                f"{from_ref!r} (snapshot {src}) — not a fast-forward; "
                "rebase the branch or cherry-pick with the jar"
            )
        refs[to_ref] = {"snapshot-id": src, "type": "branch"}
        md["refs"] = refs
        now = int(time.time() * 1000)
        if to_ref == "main":
            md["current-snapshot-id"] = src
            md["snapshot-log"] = md.get("snapshot-log", []) + [
                {"timestamp-ms": now, "snapshot-id": src}
            ]
        md["last-updated-ms"] = now
        self._commit(md, self._version() + 1)
        return src

    def cherry_pick(self, snapshot_id: int) -> int:
        """Apply one staged APPEND snapshot onto the current main head
        (the jar's ``cherrypick_snapshot`` procedure — the divergent-
        branch path ``fast_forward`` refuses): the staged commit's data
        files re-enter as ADDED entries of a NEW append snapshot at the
        current sequence number, so they behave exactly like rows
        committed now (earlier row-level deletes never apply to them).
        Metadata-only — no data is read or copied. Appends only:
        snapshots carrying delete files or replace/overwrite semantics
        refuse by name (their conflict detection is genuinely stateful —
        the jar's scope is the same). Returns the new snapshot id."""
        md = self.metadata()
        snap = next(
            (s for s in md.get("snapshots", [])
             if s["snapshot-id"] == snapshot_id),
            None,
        )
        if snap is None:
            raise ValueError(f"unknown snapshot id {snapshot_id}")
        op = snap.get("summary", {}).get("operation")
        if op != "append":
            raise ValueError(
                f"cherry_pick supports append snapshots only, got {op!r} "
                "(row-level / replace commits need the jar's conflict "
                "detection)"
            )
        if any(
            s["snapshot-id"] == snapshot_id for s in self._lineage(md)
        ):
            raise ValueError(
                f"snapshot {snapshot_id} is already on the main lineage "
                "— nothing to cherry-pick"
            )
        already = [
            s["snapshot-id"]
            for s in md.get("snapshots", [])
            if s.get("summary", {}).get("source-snapshot-id")
            == str(snapshot_id)
        ]
        if already:
            # the jar stamps the source id for the same reason: a
            # retried publish must not duplicate the rows
            raise ValueError(
                f"snapshot {snapshot_id} was already cherry-picked as "
                f"{already[0]} — picking it again would duplicate its "
                "rows"
            )
        data, eq_dels, pos_dels = self._added_entries(md, snap)
        if eq_dels or pos_dels:
            raise ValueError(
                "cherry_pick refuses snapshots carrying delete files"
            )
        default_spec = md["default-spec-id"]
        for f in data:
            if f.get("_spec_id", default_spec) != default_spec:
                raise ValueError(
                    "cherry_pick across partition-spec evolution is "
                    "unsupported — the staged files' tuple layout does "
                    "not match the default spec"
                )
        self._write_snapshot(
            None, "append", raw_data_files=data,
            extra_summary={"source-snapshot-id": snapshot_id},
        )
        return self.metadata()["current-snapshot-id"]

    def drop_ref(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop main")
        md = self.metadata()
        refs = dict(md.get("refs") or {})
        if name not in refs:
            raise ValueError(f"unknown ref {name!r}")
        del refs[name]
        md["refs"] = refs
        self._commit(md, self._version() + 1)

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """`refs` metadata table: one row per ref (name, type,
        snapshot_id, max_ref_age_ms) — the inspection shape the
        iceberg-spark runtime's `<table>.refs` exposes."""
        rows = [
            (n, r["type"], r["snapshot-id"], r.get("max-ref-age-ms"))
            for n, r in sorted(self.refs().items())
        ]
        return spark.createDataFrame(
            rows,
            "name string, type string, snapshot_id long, "
            "max_ref_age_ms long",
        )

    # -- metadata tables ----------------------------------------------------
    # The spec's inspection surface (the `<table>.snapshots / history /
    # files / manifests` tables the iceberg-spark runtime exposes;
    # https://iceberg.apache.org/docs/latest/spark-queries/#inspecting-tables)
    # as DataFrames. Snapshot/history/manifest rows are O(commits) —
    # inherently tiny; `files_df` materializes the manifest entries the
    # planner already holds in memory (one row per live file — the same
    # list every scan plan walks; at extreme file counts the jar
    # parallelizes manifest reads, which `_live` could adopt without
    # changing this surface).

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """`snapshots` metadata table: one row per snapshot with lineage."""
        rows = [
            (
                s["timestamp-ms"],
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s.get("summary", {}).get("operation", "append"),
                s["manifest-list"],
                s.get("sequence-number"),
            )
            for s in self.snapshots()
        ]
        return spark.createDataFrame(
            rows,
            "committed_at_ms long, snapshot_id long, parent_id long, "
            "operation string, manifest_list string, sequence_number long",
        )

    def history_df(self, spark: SparkSession) -> DataFrame:
        """`history` metadata table: the snapshot-log with an
        ``is_current_ancestor`` flag (whether the entry is on the parent
        chain of the current snapshot — rolled-back commits are not)."""
        md = self.metadata()
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        ancestors = set()
        cur = md.get("current-snapshot-id")
        while cur not in (None, -1) and cur in by_id:
            ancestors.add(cur)
            cur = by_id[cur].get("parent-snapshot-id")
        rows = [
            (
                e["timestamp-ms"],
                e["snapshot-id"],
                by_id.get(e["snapshot-id"], {}).get("parent-snapshot-id"),
                e["snapshot-id"] in ancestors,
            )
            for e in md.get("snapshot-log", [])
        ]
        return spark.createDataFrame(
            rows,
            "made_current_at_ms long, snapshot_id long, parent_id long, "
            "is_current_ancestor boolean",
        )

    def files_df(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """`files` metadata table: every live file of a snapshot
        (default current) — data files AND delete files, distinguished
        by the spec's ``content`` code (0 data, 1 position deletes,
        2 equality deletes). Partition tuples render as JSON strings so
        the schema is stable across specs."""
        data, eq_dels, pos_dels = self._live(snapshot_id)
        rows = [
            (
                int(f.get("content", CONTENT_DATA)),
                f["file_path"],
                f.get("file_format", "PARQUET"),
                json.dumps(f.get("partition") or {}, sort_keys=True),
                f["record_count"],
                f["file_size_in_bytes"],
                f.get("_seq"),
            )
            for f in data + eq_dels + pos_dels
        ]
        return spark.createDataFrame(
            rows,
            "content int, file_path string, file_format string, "
            "partition string, record_count long, file_size_in_bytes long, "
            "sequence_number long",
        )

    def partitions_df(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """`partitions` metadata table: per-partition file/row/byte
        totals of a snapshot (default current) — what a 100 TB operator
        reads to find skew, small-file pressure and compaction targets
        WITHOUT scanning any data (pure manifest metadata). With
        partition evolution, rows key on (spec_id, partition-JSON) —
        the same tuple can mean different things under different specs,
        so they never merge (the jar's partitions table keys on the
        spec-shaped struct for the same reason). Delete files are
        counted separately (their rows are retractions, adding them to
        record_count would misstate the partition size)."""
        data, eq_dels, pos_dels = self._live(snapshot_id)
        agg: dict[tuple, list] = {}
        for f in data:
            key = (
                f.get("_spec_id", 0),
                json.dumps(f.get("partition") or {}, sort_keys=True),
            )
            row = agg.setdefault(key, [0, 0, 0, 0])
            row[0] += 1
            row[1] += int(f["record_count"])
            row[2] += int(f["file_size_in_bytes"])
        for f in eq_dels + pos_dels:
            key = (
                f.get("_spec_id", 0),
                json.dumps(f.get("partition") or {}, sort_keys=True),
            )
            row = agg.setdefault(key, [0, 0, 0, 0])
            row[3] += 1
        rows = [
            (sid, part, c[0], c[1], c[2], c[3])
            for (sid, part), c in sorted(agg.items())
        ]
        return spark.createDataFrame(
            rows,
            "spec_id int, partition string, data_file_count long, "
            "record_count long, total_size_bytes long, delete_file_count long",
        )

    def manifests_df(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """`manifests` metadata table: the manifest-list entries of a
        snapshot (default current)."""
        md = self.metadata()
        recs = self._manifest_list_records(md, snapshot_id)
        rows = [
            (
                m["manifest_path"],
                m["manifest_length"],
                m["partition_spec_id"],
                m["content"],
                m["sequence_number"],
                m["min_sequence_number"],
                m["added_snapshot_id"],
                m["added_files_count"],
                m["existing_files_count"],
                m["deleted_files_count"],
                m["added_rows_count"],
            )
            for m in recs
        ]
        return spark.createDataFrame(
            rows,
            "path string, length long, partition_spec_id int, content int, "
            "sequence_number long, min_sequence_number long, "
            "added_snapshot_id long, added_files_count int, "
            "existing_files_count int, deleted_files_count int, "
            "added_rows_count long",
        )

    # -- incremental / streaming reads --------------------------------------

    @staticmethod
    def _lineage(md: dict, head_id: int | None = None) -> list[dict]:
        """The snapshot chain ending at ``head_id`` (default: the current
        snapshot), oldest first — parent-link ancestry, NOT the raw
        ``snapshots`` list, which since WAP branch writes also holds
        commits main never published."""
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        head = (
            head_id
            if head_id is not None
            else md.get("current-snapshot-id", -1)
        )
        if head in (-1, None):
            return []
        if head not in by_id:
            raise ValueError(f"unknown snapshot id {head}")
        chain: list[dict] = []
        node: int | None = head
        while node is not None and node in by_id:
            # the walk ends at the oldest RETAINED ancestor — an expired
            # parent id is history expire_snapshots legitimately dropped
            chain.append(by_id[node])
            node = by_id[node].get("parent-snapshot-id")
        chain.reverse()
        return chain

    def incremental_entries(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> list[dict]:
        """Data files ADDED by snapshots strictly after
        ``from_snapshot_id`` (exclusive; None = from table start) up to
        ``to_snapshot_id`` (inclusive; None = current) — the spec's
        incremental APPEND scan, the unit the reference's streaming
        source consumes one snapshot at a time
        (`model/source/IcebergSourceConfig.scala:39-57`). Refuses ranges
        containing non-append snapshots (overwrite/replace/upsert), as
        the Flink IncrementalAppendScan does — an incremental consumer
        would otherwise silently miss deletions."""
        md = self.metadata()
        self._spec_fields(md)
        snaps = self._lineage(md, to_snapshot_id)
        ids = [s["snapshot-id"] for s in snaps]
        lo = 0
        if from_snapshot_id is not None:
            if from_snapshot_id not in ids:
                if not any(
                    s["snapshot-id"] == from_snapshot_id
                    for s in md.get("snapshots", [])
                ):
                    raise ValueError(
                        f"unknown snapshot id {from_snapshot_id}"
                    )
                raise ValueError(
                    f"snapshot {from_snapshot_id} is not an ancestor of "
                    "the scan head (a branch commit?) — incremental "
                    "scans follow one lineage"
                )
            lo = ids.index(from_snapshot_id) + 1
        out: list[dict] = []
        for s in snaps[lo:]:
            op = s.get("summary", {}).get("operation")
            if op != "append":
                raise ValueError(
                    f"incremental append scan crossed a {op!r} snapshot "
                    f"({s['snapshot-id']}) — row-level/replace commits "
                    "need a full re-read (or the iceberg-spark runtime "
                    "jar's CDC reads)"
                )
            with open(self._map(s["manifest-list"]), "rb") as fh:
                _, manifests = AC.read_container(fh.read())
            for mf in manifests:
                if mf["added_snapshot_id"] != s["snapshot-id"]:
                    continue  # carried over from an earlier snapshot
                with open(self._map(mf["manifest_path"]), "rb") as fh:
                    _, entries = AC.read_container(fh.read())
                for e in entries:
                    if (
                        e["status"] == STATUS_ADDED
                        and e.get("snapshot_id") == s["snapshot-id"]
                    ):
                        f = dict(e["data_file"])
                        f["file_path"] = self._map(f["file_path"])
                        # which spec shaped this file's layout — the
                        # assembler reconstructs per-spec after evolution
                        f["_spec_id"] = mf.get("partition_spec_id", 0)
                        out.append(f)
        return out

    def read_incremental(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """The rows appended in (`from_snapshot_id`, `to_snapshot_id`]
        as a batch DataFrame — poll current_snapshot + read_incremental
        is the jar-free change-consumption loop."""
        md = self.metadata()
        ice = current_schema(md)
        entries = self.incremental_entries(from_snapshot_id, to_snapshot_id)
        if not entries:
            return spark.createDataFrame([], spark_ddl_from_iceberg(ice))
        return self._assemble_data(spark, entries, md, ice)

    def _added_entries(
        self, md: dict, snap: dict
    ) -> tuple[list[dict], list[dict], list[dict]]:
        """The file entries snapshot ``snap`` itself ADDED, split as
        (data, equality-delete, position-delete) dicts with ``_seq`` /
        ``_spec_id`` attached — the per-commit delta the changelog scan
        consumes (carried/EXISTING entries belong to earlier commits)."""
        data: list[dict] = []
        eq_dels: list[dict] = []
        pos_dels: list[dict] = []
        with open(self._map(snap["manifest-list"]), "rb") as fh:
            _, manifests = AC.read_container(fh.read())
        for mf in manifests:
            if mf["added_snapshot_id"] != snap["snapshot-id"]:
                continue
            with open(self._map(mf["manifest_path"]), "rb") as fh:
                _, entries = AC.read_container(fh.read())
            for e in entries:
                if (
                    e["status"] != STATUS_ADDED
                    or e.get("snapshot_id") != snap["snapshot-id"]
                ):
                    continue
                f = dict(e["data_file"])
                f["file_path"] = self._map(f["file_path"])
                f["_seq"] = (
                    e.get("sequence_number")
                    if e.get("sequence_number") is not None
                    else mf["sequence_number"]
                )
                f["_spec_id"] = mf.get("partition_spec_id", 0)
                if mf["content"] == CONTENT_DATA:
                    data.append(f)
                elif f.get("content") == FILE_CONTENT_EQ_DELETES:
                    eq_dels.append(f)
                elif f.get("content") == FILE_CONTENT_POS_DELETES:
                    pos_dels.append(f)
        return data, eq_dels, pos_dels

    def read_changelog(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        net_changes: bool = False,
    ) -> DataFrame:
        """CDC scan — the iceberg-spark runtime's ``create_changelog_view``
        procedure / Flink's changelog read, jar-free: every row-level
        change committed in (``from_snapshot_id``, ``to_snapshot_id``]
        as ONE DataFrame of the table's columns plus ``_change_type``
        ('insert' | 'delete'), ``_commit_snapshot_id`` and 1-based
        ``_commit_order``. Extends ``read_incremental`` (which refuses
        non-append ranges) to the full commit vocabulary:

        * append — the added files scan as inserts (no diffing);
        * upsert (equality deletes) — deletes are the PARENT state
          semi-joined on the delete files' key tuples (exactly the rows
          merge-on-read retracts: the keys apply to strictly smaller
          sequence numbers, and parent state is precisely the earlier
          live rows), inserts are the added files;
        * delete_where (position deletes) — deletes are the parent rows
          at the tombstoned (file, ordinal) positions, reading ONLY the
          targeted data files;
        * overwrite without delete files (a truncate-and-write) — a full
          before/after: every parent row retracts, every new row inserts;
        * replace (compaction / binpack / z-order) — logical no-op,
          emits nothing.

        100 TB shape: cost per commit is proportional to the CHANGED
        data, not the table — appends scan just their files, position
        deletes touch only target files, and an upsert pays one key
        semi-join against the parent state (the price a single
        merge-on-read read already pays). Every frame resolves under the
        CURRENT table schema by field id (the jar's changelog-view
        contract), so the scan tolerates schema evolution inside the
        range — renamed columns read back under their current name,
        later-added columns null-fill in earlier commits.

        ``net_changes=True`` (the changelog-view procedure's flag):
        intermediate states inside the range collapse — a row inserted
        then deleted (or replaced n times) emits only its NET effect,
        computed as the multiset difference of the range's two
        ENDPOINT states (one groupBy-all-columns count per side, one
        join; per-commit attribution is meaningless for a net view, so
        ``_commit_snapshot_id``/``_commit_order`` are absent)."""
        from functools import reduce

        from pyspark.sql import functions as F

        md = self.metadata()
        # walk the PUBLISHED lineage (parent links from the scan head):
        # staged WAP branch commits live in `snapshots` too but are not
        # changes any main reader ever observed
        snaps = self._lineage(md, to_snapshot_id)
        ids = [s["snapshot-id"] for s in snaps]
        lo = 0
        if from_snapshot_id is not None:
            if from_snapshot_id not in ids:
                if not any(
                    s["snapshot-id"] == from_snapshot_id
                    for s in md.get("snapshots", [])
                ):
                    raise ValueError(
                        f"unknown snapshot id {from_snapshot_id}"
                    )
                raise ValueError(
                    f"snapshot {from_snapshot_id} is not an ancestor of "
                    "the scan head — the changelog follows one lineage"
                )
            lo = ids.index(from_snapshot_id) + 1

        def _stamp(df: DataFrame, kind: str, sid: int, order: int):
            return df.select(
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(sid).alias("_commit_snapshot_id"),
                F.lit(order).alias("_commit_order"),
            )

        ice_cur = current_schema(md)

        def _state_at(snapshot_id: int) -> DataFrame:
            """The table state at a snapshot, resolved under the CURRENT
            schema (field-id resolution — time travel for lineage, not
            for the historical column names)."""
            entries, d, p = self._live(snapshot_id=snapshot_id)
            if not entries:
                return spark.createDataFrame(
                    [], spark_ddl_from_iceberg(ice_cur)
                )
            if d or p:
                return self._read_merged(spark, entries, d, p, md, ice_cur)
            return self._assemble_data(spark, entries, md, ice_cur)

        if net_changes:
            names = [f["name"] for f in ice_cur["fields"]]
            empty = spark.createDataFrame(
                [], spark_ddl_from_iceberg(ice_cur)
            )
            end_df = (
                _state_at(snaps[-1]["snapshot-id"]) if snaps else empty
            )
            start_df = (
                _state_at(snaps[lo - 1]["snapshot-id"]) if lo > 0 else empty
            )
            sc = start_df.groupBy(*names).agg(
                F.count(F.lit(1)).alias("_n0")
            )
            ec = end_df.groupBy(*names).agg(F.count(F.lit(1)).alias("_n1"))
            # eqNullSafe join: a NULL-bearing unchanged row must match
            # itself across the endpoints, not emit a phantom
            # delete+insert pair
            cond = reduce(
                lambda a, b: a & b,
                [sc[c].eqNullSafe(ec[c]) for c in names],
            )
            j = sc.join(ec, cond, "full_outer").select(
                *[F.coalesce(sc[c], ec[c]).alias(c) for c in names],
                F.coalesce(sc["_n0"], F.lit(0)).alias("_n0"),
                F.coalesce(ec["_n1"], F.lit(0)).alias("_n1"),
            )
            j = j.withColumn("_d", F.col("_n1") - F.col("_n0")).filter(
                "_d != 0"
            )
            return j.select(
                *names,
                F.when(F.col("_d") > 0, F.lit("insert"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
                F.explode(
                    F.sequence(F.lit(1), F.abs(F.col("_d")))
                ).alias("_i"),
            ).drop("_i")

        retained = {s["snapshot-id"] for s in md.get("snapshots", [])}
        frames: list[DataFrame] = []
        for order, snap in enumerate(snaps[lo:], start=1):
            sid = snap["snapshot-id"]
            op = snap.get("summary", {}).get("operation")
            parent = snap.get("parent-snapshot-id")
            if (
                order == 1
                and lo == 0
                and parent is not None
                and parent not in retained
            ):
                # truncated history: the scan's root sits after expired
                # commits, so its ADDED delta alone under-reports — emit
                # its FULL state as the bootstrap inserts (keeps the
                # replay-equals-final-state invariant a CDC consumer
                # materializing from scratch needs)
                frames.append(_stamp(_state_at(sid), "insert", sid, order))
                continue
            if op == "replace":
                continue  # rewrites change layout, never logical content
            data, eq_dels, pos_dels = self._added_entries(md, snap)
            if op == "overwrite" and not eq_dels and not pos_dels:
                # truncate-and-write: full before/after diff by definition
                if parent is not None:
                    frames.append(_stamp(
                        _state_at(parent), "delete", sid, order
                    ))
                frames.append(_stamp(_state_at(sid), "insert", sid, order))
                continue
            if eq_dels and parent is not None:
                by_id = {f["id"]: f for f in ice_cur["fields"]}
                eq_sets = {
                    tuple(f.get("equality_ids") or ()) for f in eq_dels
                }
                if len(eq_sets) != 1 or not next(iter(eq_sets)):
                    raise ValueError(
                        "changelog: equality delete files with differing "
                        "or empty equality_ids in one commit — use the "
                        "iceberg-spark runtime jar"
                    )
                eq_ids = next(iter(eq_sets))
                missing = [i for i in eq_ids if i not in by_id]
                if missing:
                    raise ValueError(
                        f"changelog: upsert commit {sid} keys on field "
                        f"id(s) {missing} that were DROPPED from the "
                        "current schema — its retractions cannot be "
                        "represented; changelog from a later snapshot, "
                        "or use the iceberg-spark runtime jar"
                    )
                key_fields = [by_id[i] for i in eq_ids]
                keys = self._scan_resolved(
                    spark, [f["file_path"] for f in eq_dels], key_fields, md
                ).dropDuplicates()
                prev = _state_at(parent)
                cond = reduce(
                    lambda a, b: a & b,
                    [
                        prev[f["name"]].eqNullSafe(keys[f["name"]])
                        for f in key_fields
                    ],
                )
                frames.append(_stamp(
                    prev.join(keys, cond, "left_semi"), "delete", sid, order
                ))
            if pos_dels and parent is not None:
                import pyarrow.parquet as pq

                # tombstone files are small by design — list their target
                # data files driver-side so the parent read touches ONLY
                # those files, not the table
                targets: set[str] = set()
                for f in pos_dels:
                    col = pq.read_table(
                        f["file_path"], columns=["file_path"]
                    ).column("file_path")
                    targets.update(
                        self._map(p) for p in col.to_pylist()
                    )
                p_data, p_eq, p_pos = self._live(snapshot_id=parent)
                touched = [
                    e for e in p_data if e["file_path"] in targets
                ]
                if touched:
                    prev_pos = self._read_merged(
                        spark, touched, p_eq, p_pos, md, ice_cur,
                        keep_position_cols=True,
                    )
                    tomb = (
                        spark.read.schema("file_path string, pos long")
                        .parquet(*[f["file_path"] for f in pos_dels])
                        .select(
                            _norm_path(
                                self._map_col(F.col("file_path"))
                            ).alias("_dfp"),
                            F.col("pos").alias("_dpos"),
                        )
                        .dropDuplicates()
                    )
                    dead = prev_pos.join(
                        tomb,
                        (prev_pos["_fp"] == tomb["_dfp"])
                        & (prev_pos["_rix"] == tomb["_dpos"]),
                        "left_semi",
                    ).drop("_fp", "_rix")
                    frames.append(_stamp(dead, "delete", sid, order))
            if data:
                frames.append(_stamp(
                    self._assemble_data(spark, data, md, ice_cur),
                    "insert", sid, order,
                ))
        if not frames:
            ddl = spark_ddl_from_iceberg(current_schema(md)) + (
                ", _change_type string, _commit_snapshot_id bigint, "
                "_commit_order int"
            )
            return spark.createDataFrame([], ddl)
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    def read_stream(self, spark: SparkSession) -> DataFrame:
        """STREAMING source over an append-only unpartitioned table —
        the reference's `streaming: true` iceberg source
        (start.strategy = earliest / table-scan-then-incremental),
        jar-free: snapshot commits only ever ADD immutable parquet files
        under data/, so Spark's file streaming source over that
        directory IS an incremental append scan (existing files first,
        then one micro-batch per newly committed file set — exactly the
        snapshot-polling cadence of the Flink source, with the poll
        interval owned by the streaming trigger).

        Honest gates, checked at stream start: every existing snapshot
        must be an append (a later overwrite/replace would leave stale
        files visible to the file source — the Flink incremental source
        refuses those commits too), no equality deletes, identity-free
        (unpartitioned) layout only. latest/snapshot-id starting
        strategies need source-side offset tracking → jar (or poll
        ``read_incremental``).

        Two operational caveats of directory tailing (documented, same
        class as Iceberg's own orphan-file guidance): (1) a writer that
        died between moving data files and committing metadata leaves
        ORPHANS no manifest references — batch reads never see them, a
        directory tail would; run ``remove_orphan_files()`` before
        starting a stream on a table with unknown write history. (2)
        commits made AFTER the stream starts must remain append-only
        (the start-time gate cannot see the future); an upsert's delete
        files are kept out of the tailed directory (``data/_deletes``),
        but its new data rows would stream in without their
        retractions — the jar's monitored source throws there, this one
        must be restarted to re-check the gate."""
        md = self.metadata()
        for s in md.get("snapshots", []):
            if s.get("summary", {}).get("operation") != "append":
                raise ValueError(
                    "streaming source requires an append-only table "
                    f"(found a {s.get('summary', {}).get('operation')!r} "
                    "snapshot); use the iceberg-spark runtime jar"
                )
        on_main = {s["snapshot-id"] for s in self._lineage(md)}
        if any(
            s["snapshot-id"] not in on_main
            for s in md.get("snapshots", [])
        ):
            raise ValueError(
                "table has STAGED branch commits (WAP) — a directory "
                "tail would stream their unpublished files to main "
                "consumers; fast_forward/cherry_pick or drop the branch "
                "and expire before streaming, or use the iceberg-spark "
                "runtime jar"
            )
        # check EVERY spec, not just the default: after partition
        # evolution, files written under an old identity spec are still
        # on disk missing their identity columns
        if any(
            self._identity_fields(s["fields"])
            for s in md["partition-specs"]
        ):
            raise ValueError(
                "jar-free streaming source cannot read IDENTITY-"
                "partitioned tables (hive-layout partition "
                "reconstruction needs per-file constants a file stream "
                "cannot attach); transform-partitioned and "
                "unpartitioned tables stream fine — their data files "
                "store every source column"
            )
        ice = current_schema(md)
        if self._rename_drift(md, ice["fields"]):
            raise ValueError(
                "jar-free streaming source cannot read tables with "
                "RENAMED columns (the file stream scans by name; "
                "pre-rename files would null-fill the renamed column); "
                "compact() rewrites every file under the current names, "
                "or use the iceberg-spark runtime jar"
            )
        prefix = os.path.abspath(self.data_dir) + os.sep
        live, _, _ = self._live()
        outside = [
            f["file_path"] for f in live
            if not os.path.abspath(f["file_path"]).startswith(prefix)
        ]
        if outside:
            raise ValueError(
                "jar-free streaming source tails the table's data/ "
                f"directory, but {len(outside)} live file(s) live "
                "outside it (add_files imports) — a directory tail "
                "would silently skip them; compact() to pull them "
                "in-tree, or use the iceberg-spark runtime jar"
            )
        ddl = spark_ddl_from_iceberg(ice)
        return (
            spark.readStream.schema(ddl)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(self.data_dir)
        )

    # -- schema evolution ----------------------------------------------------

    def add_column(self, name: str, ice_type: str) -> None:
        """ADD COLUMN (spec schema evolution): a NEW schema with a fresh
        field-id is appended to ``schemas`` and becomes current — old
        data files stay untouched and read back with nulls for the new
        column (the schema'd parquet read resolves missing columns to
        null, exactly the spec's id-based resolution for an added
        field)."""
        if ice_type not in _ICE_TO_SPARK and not str(ice_type).startswith(
            "decimal"
        ):
            raise ValueError(f"unsupported iceberg type {ice_type!r}")
        md = self.metadata()
        cur = current_schema(md)
        if any(f["name"] == name for f in cur["fields"]):
            raise ValueError(f"column {name!r} already exists")
        self._guard_name_reuse(md, name, None)
        new_id = md["last-column-id"] + 1
        new_fields = list(cur["fields"]) + [
            {"id": new_id, "name": name, "required": False, "type": ice_type}
        ]
        self._commit_schema(md, new_fields, last_column_id=new_id)

    # spec Schema Evolution: the table's columns resolve by FIELD ID, so
    # rename is free, drop hides the column, and int->long / float->double
    # widen in place — old data files are never rewritten. Our data files
    # carry no parquet field-ids (Spark's writer), so id resolution rides
    # the name-mapping discipline: every historical name stays bound to
    # its field id in schema.name-mapping.default, name REUSE for a
    # different id is refused at evolution time (it would make stored
    # files ambiguous), and renamed reads group files by their footer
    # column names (see _scan_resolved).

    @staticmethod
    def _historical_name_ids(md: dict) -> dict[str, set[int]]:
        """Every name ever bound in any schema version -> the field ids
        it was bound to (a well-formed table has exactly one per name)."""
        out: dict[str, set[int]] = {}
        for s in md.get("schemas", []):
            for f in s["fields"]:
                out.setdefault(f["name"], set()).add(f["id"])
        return out

    def _guard_name_reuse(self, md: dict, name: str, fid: int | None) -> None:
        """Refuse binding ``name`` unless it is fresh table-lifetime or
        already bound to this same field id — stored files carry only
        column NAMES (no parquet field-ids), so a reused name would make
        old files unreadable unambiguously."""
        ids = self._historical_name_ids(md).get(name, set())
        if ids and ids != ({fid} if fid is not None else set()):
            raise ValueError(
                f"column name {name!r} was bound to field id(s) "
                f"{sorted(ids)} in an earlier schema version — reusing it "
                "would make data files written under that schema ambiguous "
                "(they store names, not field ids); pick a fresh name"
            )

    def _guard_partition_source(self, md: dict, fid: int, what: str) -> None:
        for spec in md.get("partition-specs", []):
            for pf in spec["fields"]:
                if pf["source-id"] == fid:
                    raise ValueError(
                        f"cannot {what}: the column is the source of "
                        f"partition field {pf['name']!r} (spec "
                        f"{spec['spec-id']}) — evolve the partition spec "
                        "off it first"
                    )

    def _commit_schema(
        self, md: dict, new_fields: list[dict], last_column_id: int | None = None
    ) -> None:
        """Append a new schema version and make it current (metadata-only
        commit, no snapshot), refreshing the name mapping so EVERY
        historical name keeps resolving to its field id."""
        new_schema = {
            "type": "struct",
            "schema-id": max(s["schema-id"] for s in md["schemas"]) + 1,
            "fields": new_fields,
        }
        md["schemas"] = md["schemas"] + [new_schema]
        md["current-schema-id"] = new_schema["schema-id"]
        if last_column_id is not None:
            md["last-column-id"] = last_column_id
        # one mapping entry per CURRENT field, carrying every name it has
        # ever had (the spec's multi-name entries — external id-respecting
        # readers resolve old files through exactly this)
        names_of: dict[int, list[str]] = {}
        for s in md["schemas"]:
            for f in s["fields"]:
                bucket = names_of.setdefault(f["id"], [])
                if f["name"] not in bucket:
                    bucket.append(f["name"])
        mapping = []
        for f in new_fields:
            ent = {"field-id": f["id"], "names": names_of[f["id"]]}
            t = f["type"]
            if isinstance(t, dict) and t.get("type") == "list":
                ent["fields"] = [
                    {"field-id": t["element-id"], "names": ["element"]}
                ]
            mapping.append(ent)
        md["properties"]["schema.name-mapping.default"] = json.dumps(mapping)
        md["last-updated-ms"] = int(time.time() * 1000)
        self._commit(md, self._version() + 1)

    def rename_column(self, old: str, new: str) -> None:
        """RENAME COLUMN (spec schema evolution, metadata-only): free
        because resolution is by field id — no data file is touched.
        Old files keep the old physical name; reads group files by their
        footer names and project id -> current name (``_scan_resolved``).
        Refused when the new name was ever bound to a different field
        (stored-name ambiguity) or when the column feeds a partition
        spec (the spec's partition-field names are frozen in manifests
        and hive paths — evolve the spec first)."""
        md = self.metadata()
        cur = current_schema(md)
        fld = next((f for f in cur["fields"] if f["name"] == old), None)
        if fld is None:
            raise ValueError(f"no column {old!r} in the current schema")
        if any(f["name"] == new for f in cur["fields"]):
            raise ValueError(f"column {new!r} already exists")
        self._guard_name_reuse(md, new, fld["id"])
        self._guard_partition_source(md, fld["id"], f"rename {old!r}")
        new_fields = [
            {**f, "name": new} if f["id"] == fld["id"] else f
            for f in cur["fields"]
        ]
        self._commit_schema(md, new_fields)

    def drop_column(self, name: str) -> None:
        """DROP COLUMN (spec schema evolution, metadata-only): the field
        leaves the current schema; old files keep the bytes (pruned at
        scan — Spark never reads the unreferenced column), time travel
        to pre-drop snapshots still reads it, and the field id is never
        reused (``last-column-id`` only grows). Refused for partition
        sources, sort-order sources, live equality-delete key columns
        (merge-on-read must keep resolving the key), and the last
        column."""
        md = self.metadata()
        cur = current_schema(md)
        fld = next((f for f in cur["fields"] if f["name"] == name), None)
        if fld is None:
            raise ValueError(f"no column {name!r} in the current schema")
        if len(cur["fields"]) == 1:
            raise ValueError("cannot drop the only column of a table")
        self._guard_partition_source(md, fld["id"], f"drop {name!r}")
        for order in md.get("sort-orders", []):
            if any(sf["source-id"] == fld["id"] for sf in order["fields"]):
                raise ValueError(
                    f"cannot drop {name!r}: it is a sort-order source "
                    f"(order-id {order['order-id']}) — writes could no "
                    "longer honor the table's declared clustering"
                )
        if self.exists() and md.get("current-snapshot-id", -1) not in (-1, None):
            _, eq_dels, _ = self._live()
            for f in eq_dels:
                if fld["id"] in (f.get("equality_ids") or []):
                    raise ValueError(
                        f"cannot drop {name!r}: live equality-delete "
                        "files key on it — compact() the table first so "
                        "the tombstones are applied and dropped"
                    )
        new_fields = [f for f in cur["fields"] if f["id"] != fld["id"]]
        self._commit_schema(md, new_fields)

    _TYPE_PROMOTIONS = {("int", "long"), ("float", "double")}

    def update_column_type(self, name: str, new_type: str) -> None:
        """WIDEN a column's type (spec schema evolution): ``int -> long``
        and ``float -> double`` only, the spec's safe primitive
        promotions (every stored value reads back exact — Spark 4's
        parquet reader widens int32/float pages natively, so old files
        need no rewrite). Anything else refuses by name. Partition
        sources refuse: the manifests' partition-tuple type and hive
        path rendering are frozen at write time."""
        md = self.metadata()
        cur = current_schema(md)
        fld = next((f for f in cur["fields"] if f["name"] == name), None)
        if fld is None:
            raise ValueError(f"no column {name!r} in the current schema")
        old_type = fld["type"]
        if (old_type, new_type) not in self._TYPE_PROMOTIONS:
            raise ValueError(
                f"unsupported type promotion {old_type!r} -> {new_type!r}; "
                "the spec allows widening int->long and float->double only"
            )
        self._guard_partition_source(md, fld["id"], f"promote {name!r}")
        new_fields = [
            {**f, "type": new_type} if f["id"] == fld["id"] else f
            for f in cur["fields"]
        ]
        self._commit_schema(md, new_fields)

    # -- table maintenance (the ops a 100 TB table actually runs) -----------

    def compact(
        self,
        spark: SparkSession,
        target_partitions: int = 1,
        zorder: list[str] | None = None,
    ) -> None:
        """Small-file compaction: rewrite the current snapshot's live rows
        into ``target_partitions`` files and commit as a REPLACE snapshot
        (row-identical by construction — the Iceberg rewrite_data_files
        action). Old files stay on disk for time travel until
        ``expire_snapshots`` drops them.

        ``zorder=[col, ...]`` rewrites with MULTI-DIMENSIONAL clustering
        (the jar's rewrite_data_files sort strategy with a zorder sort
        order): each column normalizes to a 16-bit rank over its
        [min, max] span (one tiny agg), the ranks bit-INTERLEAVE into a
        single z-value (pure JVM shift/or expressions — whole-stage
        codegen, no Python), and the rows range-partition + sort by it.
        Every z-ordered column's per-file manifest bounds tighten
        simultaneously, so ``range_filter`` pruning works on ANY of the
        columns — a lexicographic sort only serves its leading column.
        At 100 TB this is the difference between a selective filter on
        the second dimension reading ~√F of F files vs all of them."""
        cur = self.read(spark)
        if zorder:
            z = self._zvalue(spark, cur, zorder)
            cur = (
                cur.withColumn("_z", z)
                .repartitionByRange(max(1, target_partitions), "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            cur = cur.coalesce(max(1, target_partitions))
        self._write_snapshot(cur, "replace")

    def _zvalue(self, spark: SparkSession, df: DataFrame, cols: list[str]):
        """The interleaved z-value column: per column, rank into 16 bits
        by position in the [min, max] span; interleave bit b of column j
        into output bit ``b*k + j``. Numeric / date / timestamp columns
        only (strings need byte-prefix ranking — refused by name).
        NULLs rank 0 (cluster together at the low corner)."""
        from pyspark.sql import functions as F

        if not cols:
            raise ValueError("zorder needs at least one column")
        if len(cols) > 4:
            raise ValueError(
                "zorder supports at most 4 columns (16 bits each in a "
                "64-bit z-value); more dimensions dilute clustering "
                "anyway — pick the filter columns"
            )
        ok = ("int", "bigint", "smallint", "tinyint", "float", "double",
              "date", "timestamp", "timestamp_ntz", "long")
        for c in cols:
            t = dict(df.dtypes).get(c)
            if t is None:
                raise ValueError(f"zorder column {c!r} not in the table")
            if not any(t.startswith(o) for o in ok) and not t.startswith(
                "decimal"
            ):
                raise ValueError(
                    f"zorder column {c!r} has type {t!r} — rank-encodable "
                    "types only (numeric/date/timestamp); strings need "
                    "byte-prefix ranking, unsupported here"
                )
        as_num = [F.col(c).cast("double") for c in cols]
        stats = df.agg(
            *[F.min(e).alias(f"mn{i}") for i, e in enumerate(as_num)],
            *[F.max(e).alias(f"mx{i}") for i, e in enumerate(as_num)],
        ).first()
        k = len(cols)
        ranks = []
        for i, e in enumerate(as_num):
            mn = stats[f"mn{i}"]
            mx = stats[f"mx{i}"]
            if mn is None or mx is None or mx == mn:
                ranks.append(F.lit(0))
                continue
            span = mx - mn
            r = F.floor((e - F.lit(mn)) / F.lit(span) * F.lit(65536.0))
            # NULL must be tested explicitly: least/greatest SKIP NULLs
            # (least(65535, NULL) = 65535), so a coalesce around the
            # clamp never fires and NULLs would rank at the HIGH corner
            clamped = F.greatest(
                F.lit(0), F.least(F.lit(65535), r.cast("int"))
            )
            ranks.append(
                F.when(e.isNull(), F.lit(0))
                .otherwise(clamped)
                .cast("long")
            )
        z = F.lit(0).cast("long")
        for b in range(16):
            for j, r in enumerate(ranks):
                bit = F.shiftright(r, b).bitwiseAND(F.lit(1).cast("long"))
                z = z.bitwiseOR(F.shiftleft(bit, b * k + j))
        return z

    def rewrite_small_files(
        self,
        spark: SparkSession,
        min_rows: int = 100_000,
        target_partitions: int = 1,
    ) -> int:
        """BINPACK compaction (the rewrite_data_files action's binpack
        strategy, vs ``compact``'s full rewrite): only live data files
        UNDER ``min_rows`` rows are read and rewritten; every other
        file carries forward untouched as an EXISTING manifest entry
        with its original sequence number. At 100 TB this is the
        difference between a streaming sink's nightly maintenance
        (touching minutes' worth of small commits) and rewriting the
        whole table — the selection is pure manifest metadata, the read
        touches only the small files.

        POSITION deletes are handled like the jar action: the small
        files are read MERGE-ON-READ (their tombstones applied during
        the rewrite, so the new files carry only surviving rows), and
        each live position-delete file either carries forward as an
        EXISTING entry at its original sequence number (it still names
        at least one carried data file) or is dropped (every file it
        names was rewritten — its pointers are dead). Rewritten files
        can never resurrect rows: the new data files' sequence number
        exceeds every carried delete's, so the spec's seq rule makes the
        old tombstones inapplicable to them — and their rows were
        already filtered.

        EQUALITY deletes (upsert tombstones) are applied the same way
        (r9 verdict item 5): the small files read merge-on-read under
        every live equality delete — ``_read_merged`` enforces the
        spec's strictly-greater-sequence applicability per file, exactly
        as reads do — and each equality-delete file then either carries
        forward as an EXISTING entry at its ORIGINAL sequence number
        (some carried data file has a strictly smaller sequence, so the
        tombstone may still apply to it; applicability must not widen)
        or drops (every data file it could apply to was rewritten with
        the delete folded in). The carry test is sequence-based and
        conservative: a tombstone whose only smaller-seq survivors never
        matched its keys is kept as harmless read-side work, never
        dropped. Returns the number of files rewritten (0 = nothing to
        do; a single small file is left alone)."""
        md = self.metadata()
        data, eq_dels, pos_dels = self._live()
        small = [f for f in data if int(f["record_count"]) < min_rows]
        if len(small) < 2:
            return 0
        big = [f for f in data if int(f["record_count"]) >= min_rows]
        ice = current_schema(md)
        if pos_dels or eq_dels:
            df = self._read_merged(spark, small, eq_dels, pos_dels, md, ice)
        else:
            df = self._assemble_data(spark, small, md, ice)
        df = df.coalesce(max(1, target_partitions))
        carried_dels = []
        if pos_dels:
            import pyarrow.parquet as _pq

            carried_paths = {f["file_path"] for f in big}
            for d in pos_dels:
                # delete files are small by construction — one bounded
                # column read decides carry vs drop
                targets = {
                    self._map(v)
                    for v in _pq.read_table(
                        d["file_path"], columns=["file_path"]
                    ).column("file_path").to_pylist()
                }
                if targets & carried_paths:
                    carried_dels.append(d)
        if eq_dels:
            # an equality delete applies to data files with a STRICTLY
            # smaller sequence number: carry it (original seq, EXISTING)
            # while any carried data file is still in that scope, drop
            # it once every potential target was rewritten under it
            min_big_seq = min(
                (int(f["_seq"]) for f in big), default=None
            )
            for d in eq_dels:
                if min_big_seq is not None and min_big_seq < int(d["_seq"]):
                    carried_dels.append(d)
        # new files land under the CURRENT default spec (rewrites migrate
        # data to the latest layout — the jar action's behavior too)
        self._write_snapshot(
            df, "replace", carried_entries=big,
            carried_delete_entries=carried_dels or None,
        )
        return len(small)

    def rewrite_manifests(self, min_manifests: int = 4) -> int:
        """Consolidate the current snapshot's MANIFEST FILES (the jar's
        rewrite_manifests action): every append/delete commit adds a
        manifest and carries its parent's forward, so a streaming sink
        committing every few minutes accretes hundreds of manifests —
        and every scan plan, partition pruning pass, and delete-file
        lookup reads all of them. This rewrites the live entries into
        ONE EXISTING-entry manifest per (content, partition-spec) pair
        — data and delete files untouched on disk, entries keeping
        their ORIGINAL sequence numbers and added-snapshot ids (the
        same invariants the delete-aware binpack's carried manifests
        hold, enforced by the same writer), committed as a REPLACE
        snapshot. STATUS_DELETED tombstone entries (pure history) drop.
        Older snapshots keep their own manifest lists — time travel and
        incremental reads over past ids are untouched. Returns the
        manifest count before consolidation (0 = no-op below
        ``min_manifests``). At 100 TB this is the difference between
        planning over a handful of spec-grouped manifests and paying an
        O(commits) metadata scan on every query."""
        md = self.metadata()
        manifests = self._manifest_list_records(md)
        if len(manifests) < max(2, int(min_manifests)):
            return 0
        data, eq_dels, pos_dels = self._live()
        dels = eq_dels + pos_dels
        if not data and not dels:
            return 0
        self._write_snapshot(
            None,
            "replace",
            carried_entries=data or None,
            carried_delete_entries=dels or None,
        )
        return len(manifests)

    def rewrite_position_delete_files(
        self, spark: SparkSession, min_files: int = 2
    ) -> int:
        """Consolidate live POSITION-delete files (the jar's
        rewrite_position_delete_files action): an upsert/delete-heavy
        streaming table accrues one tiny delete file per commit, and
        every merge-on-read pays a scan per file — this rewrites them
        into ranged, internally (file_path, pos)-sorted files and DROPS
        DANGLING TOMBSTONES (rows naming data files no longer live —
        left behind by compaction/overwrite, pure read-side waste).

        Safety: position tombstones identify rows by EXACT immutable
        file path + ordinal, so re-committing them at the new (higher)
        sequence number cannot change which rows they kill — the wider
        seq applicability only matters for path matches, and a new data
        file can never reuse an old file's uuid-named path (the jar
        action relies on the same property). Data files and EQUALITY
        delete files carry forward as EXISTING entries at their original
        sequence numbers (eq applicability is strictly-smaller-seq and
        must not widen). No-op below ``min_files`` live position-delete
        files. Returns the number of delete files rewritten."""
        from pyspark.sql import functions as F

        md = self.metadata()
        data, eq_dels, pos_dels = self._live()
        if len(pos_dels) < min_files:
            return 0
        spec_fields = self._spec_fields(md)
        part_cols = [f["name"] for f in spec_fields]
        pd_df = spark.read.schema("file_path string, pos bigint").parquet(
            *[d["file_path"] for d in pos_dels]
        )
        # live-target map doubles as the dangling-pointer filter (inner
        # join) and the partition-tuple assignment, exactly as in
        # delete_where
        pkey_of = {
            e["file_path"]: json.dumps(
                {c: e["partition"].get(c) for c in part_cols},
                sort_keys=True,
                separators=(",", ":"),
            )
            for e in data
        }
        files: list[dict] = []
        if pkey_of:
            map_df = spark.createDataFrame(
                list(pkey_of.items()), "file_path string, _pkey string"
            )
            # overlapping delete_where commits can tombstone the same
            # (file_path, pos) in several old files — consolidate to
            # DISTINCT positions like the jar action, or record counts
            # inflate and every merge-on-read re-pays the duplicates
            matches = pd_df.join(
                F.broadcast(map_df), "file_path"
            ).dropDuplicates(["file_path", "pos"])
            files, _ = self._write_pos_delete_parquets(
                matches, part_cols, n_targets=len(data)
            )
        # the commit drops every old position-delete manifest (they are
        # NOT carried), installs the consolidated files at the commit
        # sequence, and carries data + equality-delete entries untouched
        self._write_snapshot(
            None,
            "replace",
            pos_delete_files=files or None,
            carried_entries=data or None,
            carried_delete_entries=eq_dels or None,
        )
        return len(pos_dels)

    def remove_orphan_files(self) -> list[str]:
        """Delete parquet files under data/ that NO snapshot's manifests
        reference (the RemoveOrphanFiles maintenance action): a writer
        that died between moving data files and committing metadata
        leaves such orphans — invisible to batch reads, but a
        directory-tailing stream would emit them. Returns the deleted
        paths."""
        if self.read_only:
            raise ValueError(
                "read-only mirror: orphan GC belongs to the table owner"
            )
        md = self.metadata()
        referenced: set[str] = set()
        for snap in md.get("snapshots", []):
            with open(self._map(snap["manifest-list"]), "rb") as fh:
                _, mfs = AC.read_container(fh.read())
            for mf in mfs:
                with open(mf["manifest_path"], "rb") as fh:
                    _, entries = AC.read_container(fh.read())
                for e in entries:
                    referenced.add(e["data_file"]["file_path"])
        doomed = []
        for root, _dirs, names in os.walk(self.data_dir):
            for name in names:
                p = os.path.join(root, name)
                if name.endswith(".parquet") and p not in referenced:
                    doomed.append(p)
        for p in doomed:
            os.remove(p)
        return sorted(doomed)

    def expire_snapshots(
        self,
        keep_last: int = 1,
        older_than_ms: int | None = None,
    ) -> list[str]:
        """Drop expirable snapshots from table metadata and DELETE
        data/manifest files referenced only by them (the expire_snapshots
        maintenance action — unreferenced-file GC is what keeps a 100 TB
        table's storage bounded). ``keep_last`` newest snapshots always
        survive; ``older_than_ms`` (the jar's ``older_than`` retention
        option) additionally protects every snapshot at or after the
        cutoff, so a nightly ``expire_snapshots(keep_last=1,
        older_than_ms=now-7d)`` keeps a week of time travel. Aged REFS
        expire first (spec retention: a tag/branch with ``max-ref-age-ms``
        drops once its snapshot is older than the age; ``main`` never
        ages), then ref'd snapshots stay protected as usual. Returns the
        deleted file paths."""
        if self.read_only:
            # guard BEFORE any file deletion (the _commit guard alone
            # would fire only after files were already removed)
            raise ValueError(
                "read-only mirror: snapshot expiry belongs to the owner"
            )
        md = self.metadata()
        snaps = sorted(md["snapshots"], key=lambda s: s["sequence-number"])
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        now = int(time.time() * 1000)
        by_id = {s["snapshot-id"]: s for s in snaps}
        refs = dict(md.get("refs") or {})
        aged = [
            n
            for n, r in refs.items()
            if n != "main"
            and r.get("max-ref-age-ms") is not None
            and by_id.get(r["snapshot-id"], {}).get("timestamp-ms", now)
            + r["max-ref-age-ms"]
            < now
        ]
        for n in aged:
            del refs[n]
        if aged:
            md["refs"] = refs
        # ref'd snapshots are PROTECTED (the spec's retention rule:
        # expiration never removes a snapshot any ref points at — a tag
        # pins its snapshot until the tag is dropped or ages out)
        ref_ids = {r["snapshot-id"] for r in refs.values()}
        keep = [
            s for s in snaps
            if s in snaps[-keep_last:]
            or s["snapshot-id"] in ref_ids
            or (
                older_than_ms is not None
                and s["timestamp-ms"] >= older_than_ms
            )
        ]
        expired = [s for s in snaps if s not in keep]
        if not expired:
            if aged:
                # ref aging is itself a metadata change even when every
                # snapshot survives (the aged tag no longer pins)
                self._commit(md, self._version() + 1)
            return []

        def files_of(snap_list):
            data, manifests, mls = set(), set(), set()
            for s in snap_list:
                mls.add(s["manifest-list"])
                with open(s["manifest-list"], "rb") as fh:
                    _, mfs = AC.read_container(fh.read())
                for mf in mfs:
                    manifests.add(mf["manifest_path"])
                    with open(mf["manifest_path"], "rb") as fh:
                        _, entries = AC.read_container(fh.read())
                    for e in entries:
                        data.add(e["data_file"]["file_path"])
            return data, manifests, mls

        keep_data, keep_manifests, keep_mls = files_of(keep)
        exp_data, exp_manifests, exp_mls = files_of(expired)
        doomed = sorted(
            (exp_data - keep_data)
            | (exp_manifests - keep_manifests)
            | (exp_mls - keep_mls)
        )
        md["snapshots"] = keep
        keep_ids = {s["snapshot-id"] for s in keep}
        md["snapshot-log"] = [
            e for e in md.get("snapshot-log", [])
            if e["snapshot-id"] in keep_ids
        ]
        self._commit(md, self._version() + 1)
        for path in doomed:  # delete only after the commit point
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
        return doomed


def catalog_from_conf(conf: dict):
    """The one ``catalog.type`` route (reference
    `IcebergCommonConfig.scala:14-78`): the catalog client an Iceberg
    sink publishes through and a source resolves through, or None for a
    filesystem-only table.

    * ``hive``, ``nessie``, ``glue``: their clients;
    * ``rest``, ``iceberg``, or no type with a ``catalog.uri``: REST;
    * ``hadoop``, or no type and no ``catalog.uri``: None;
    * any other type is refused by name.

    Every client answers ``resolve(namespace, table) -> IcebergFsTable``
    and ``publish(namespace, table, fs_table, md_before)`` (register the
    table when the catalog has no entry, else advance its pointer; only
    REST reads ``md_before``, to find the snapshots a write added).
    Building a client validates its conf, so a sink calls this before
    its filesystem commit."""
    kind = str(
        conf.get("catalog.type")
        or ("rest" if conf.get("catalog.uri") else "hadoop")
    ).lower()
    if kind == "hadoop":
        return None
    if kind == "hive":
        from flinkrunner_spark.hive_metastore import hive_from_conf

        return hive_from_conf(conf)
    if kind == "nessie":
        from flinkrunner_spark.nessie_catalog import nessie_from_conf

        return nessie_from_conf(conf)
    if kind == "glue":
        from flinkrunner_spark.glue_catalog import glue_from_conf

        return glue_from_conf(conf)
    if kind in ("rest", "iceberg"):
        from flinkrunner_spark.config import strip_catalog_conf
        from flinkrunner_spark.iceberg_rest import RestCatalog

        return RestCatalog(
            conf.get("catalog.uri", ""),
            strip_catalog_conf(
                conf,
                exclude=("catalog.uri", "catalog.name", "catalog.type"),
            ),
        ).authenticate()
    raise ValueError(
        f"unknown catalog.type {conf['catalog.type']!r}: expected hive, "
        "nessie, glue, rest, iceberg or hadoop"
    )
