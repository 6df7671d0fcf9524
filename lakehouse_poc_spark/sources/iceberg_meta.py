"""Apache Iceberg v2 TABLE FORMAT implemented at the metadata level —
the same implement-the-protocol move that made the Delta log real
(``sources/deltalog.py``), now for the second lakehouse format the
north star names (reference target platform runs both; no Iceberg
JAR or pyiceberg ships in this container, re-probed every round).

Everything here follows the PUBLIC Apache Iceberg Table Spec
(iceberg.apache.org/spec, format-version 2):

- ``metadata/v{N}.metadata.json`` — table metadata: schemas with
  FIELD IDS, partition specs, snapshots, snapshot-log, metadata-log,
  last-sequence-number.
- ``metadata/snap-*.avro`` — MANIFEST LISTS: one Avro container file
  per snapshot listing manifest files with sequence numbers and
  add/exist/delete counts (``sources/avro.py`` is the codec — the
  r9 module whose bytes are cross-validated against the Avro Java
  library; Iceberg metadata is exactly Avro object container files).
- ``metadata/*-m*.avro`` — MANIFESTS: ``manifest_entry`` records
  (status added/existing/deleted + nested ``data_file`` struct with
  record counts, value/null counts and per-column LOWER/UPPER BOUNDS
  in the spec's single-value binary serialization) over the data
  files.
- Commit = write the next ``v{N}.metadata.json`` CREATE-EXCLUSIVE
  (``os.link``, the same mutual-exclusion discipline as the Delta
  backend's commit link), then swap ``version-hint.text`` — the
  HadoopTableOperations protocol. Of two racing writers exactly one
  claims N; readers fall back to scanning ``v*.metadata.json`` when
  the hint is missing or torn.

Scale shape: the metadata plane (manifest lists, manifests) is
driver-side by design — that is how Iceberg planners work; manifests
bound planning cost by live-file count, not table size. The DATA
plane is a plain ``spark.read.schema(...).parquet(*files)`` over the
planned file set — fully distributed, and ``plan_files`` prunes
files by the manifests' column bounds BEFORE any executor touches
parquet (the spec's scan-planning contract: min/max + null counts
skip files, the same job ``files_skipped_by_stats`` does for the
Delta backend).

Declared scope (fail-fast boundaries, mirroring the Delta module's
contract-note style): unpartitioned tables (partition field of the
``data_file`` record is the empty struct the spec prescribes for
spec-id 0 with no fields), primitive + decimal column types. Both
spec v2 row-level delete shapes are served merge-on-read: POSITION
deletes (content=1, ``delete_seq >= data_seq``) and EQUALITY deletes
(content=2, ``delete_seq > data_seq`` — STRICTLY greater per spec,
so a commit's own appends are never masked by its deletes; NULL
delete values match NULL row values). A content=2 entry without
``equality_ids`` is rejected loudly, never guessed.
Foreign metadata written by other implementations
is in scope: paths may be ``file:`` URIs or table-relative, manifest
Avro may carry extra fields anywhere (read through the writer schema
and matched BY NAME, never position), unknown metadata.json keys are
ignored, and both union branch orders decode (r10 avro fix).
"""

from __future__ import annotations

import io
import json
import os
import struct
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .avro import (
    _parse_fields,
    avro_file_schema,
    read_avro_file,
    write_avro_file,
)


class IcebergMetaError(RuntimeError):
    pass


# -- Spark <-> Iceberg schema (spec §Schemas: every field has an ID) --------

_SPARK_TO_ICE = {
    "bigint": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",  # session tz is pinned UTC repo-wide
}
_ICE_TO_SPARK = {v: k for k, v in _SPARK_TO_ICE.items()}


def spark_to_iceberg_schema(schema) -> dict:
    """Spark StructType → Iceberg schema JSON (schema-id 0, field ids
    assigned 1..n in column order — the id assignment a fresh Iceberg
    table gets). Primitives + decimal; nested types fail fast (the
    module's declared scope)."""
    from pyspark.sql import types as T

    fields = []
    for i, f in enumerate(schema.fields, start=1):
        if isinstance(f.dataType, T.DecimalType):
            ice = f"decimal({f.dataType.precision}, {f.dataType.scale})"
        else:
            t = f.dataType.simpleString()
            if t not in _SPARK_TO_ICE:
                raise IcebergMetaError(
                    f"iceberg_meta: unsupported Spark type {t!r} for "
                    f"column {f.name!r} (primitives and decimal are the "
                    "declared scope)"
                )
            ice = _SPARK_TO_ICE[t]
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": ice,
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def iceberg_schema_to_ddl(ice_schema: dict) -> str:
    """Iceberg schema JSON → Spark DDL string (read-side mapping)."""
    parts = []
    for f in ice_schema["fields"]:
        t = f["type"]
        if isinstance(t, str) and t.startswith("decimal("):
            spark_t = t.replace(" ", "").replace("decimal(", "decimal(")
        elif isinstance(t, str) and t in _ICE_TO_SPARK:
            spark_t = _ICE_TO_SPARK[t]
        else:
            raise IcebergMetaError(
                f"iceberg_meta: unsupported Iceberg type {t!r} for "
                f"column {f['name']!r}"
            )
        parts.append(f"`{f['name']}` {spark_t}")
    return ", ".join(parts)


# -- single-value binary serialization (spec §Appendix D) --------------------


def bound_encode(v, ice_type: str) -> bytes | None:
    """Encode a column bound per the spec's single-value binary
    serialization (little-endian numerics, UTF-8 strings, days /
    micros for date / timestamptz)."""
    if v is None:
        return None
    if ice_type == "int":
        return struct.pack("<i", int(v))
    if ice_type == "long":
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", float(v))
    if ice_type == "double":
        return struct.pack("<d", float(v))
    if ice_type == "date":
        import datetime

        return struct.pack("<i", (v - datetime.date(1970, 1, 1)).days)
    if ice_type == "timestamptz":
        import calendar

        us = calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
        return struct.pack("<q", us)
    if ice_type == "string":
        return str(v).encode("utf-8")
    return None  # undeclared types carry no bounds (never wrong, just unpruned)


def bound_decode(raw: bytes, ice_type: str):
    if raw is None:
        return None
    if ice_type == "int":
        return struct.unpack("<i", raw)[0]
    if ice_type == "long":
        return struct.unpack("<q", raw)[0]
    if ice_type == "float":
        return struct.unpack("<f", raw)[0]
    if ice_type == "double":
        return struct.unpack("<d", raw)[0]
    if ice_type == "date":
        import datetime

        return datetime.date(1970, 1, 1) + datetime.timedelta(
            days=struct.unpack("<i", raw)[0]
        )
    if ice_type == "timestamptz":
        import datetime

        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=struct.unpack("<q", raw)[0]
        )
    if ice_type == "string":
        return raw.decode("utf-8")
    return None


# -- manifest / manifest-list Avro schemas (spec §Manifests) -----------------
# field-id keys ride along in the schema JSON (our codec ignores them;
# Iceberg's Java reader requires them — conformance either way).


def _kv_map(name: str, key_id: int, value_id: int, value_type) -> dict:
    """Iceberg's int-keyed maps are stored as array<record<key,value>>
    with logicalType map (Avro maps require string keys)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": value_type, "field-id": value_id},
            ],
        },
    }


MANIFEST_LIST_SCHEMA = {
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

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "field-id": 3,
        },
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "field-id": 4,
        },
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {
                        "name": "file_format",
                        "type": "string",
                        "field-id": 101,
                    },
                    # unpartitioned spec-id 0: the empty struct the
                    # spec prescribes (partition fields would go here)
                    {
                        "name": "partition",
                        "type": {
                            "type": "record",
                            "name": "r102",
                            "fields": [],
                        },
                        "field-id": 102,
                    },
                    {
                        "name": "record_count",
                        "type": "long",
                        "field-id": 103,
                    },
                    {
                        "name": "file_size_in_bytes",
                        "type": "long",
                        "field-id": 104,
                    },
                    {
                        "name": "value_counts",
                        "type": ["null", _kv_map("k119_v120", 119, 120, "long")],
                        "field-id": 109,
                    },
                    {
                        "name": "null_value_counts",
                        "type": ["null", _kv_map("k121_v122", 121, 122, "long")],
                        "field-id": 110,
                    },
                    {
                        "name": "lower_bounds",
                        "type": [
                            "null",
                            _kv_map("k126_v127", 126, 127, "bytes"),
                        ],
                        "field-id": 125,
                    },
                    {
                        "name": "upper_bounds",
                        "type": [
                            "null",
                            _kv_map("k129_v130", 129, 130, "bytes"),
                        ],
                        "field-id": 128,
                    },
                    # spec field 135: field ids of the equality
                    # columns an equality-delete file (content=2)
                    # matches on; null for data/position-delete files
                    {
                        "name": "equality_ids",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": "int",
                                "element-id": 136,
                            },
                        ],
                        "field-id": 135,
                    },
                ],
            },
        },
    ],
}

# manifest_entry.status values (spec)
ST_EXISTING, ST_ADDED, ST_DELETED = 0, 1, 2


# -- name-based Avro record access (foreign-manifest tolerance) --------------


def _node_to_py(value, node):
    """Decoded Avro value + codec node → plain Python (records become
    name-keyed dicts so extra foreign fields never shift positions)."""
    if value is None or isinstance(node, str):
        return value
    kind = node[0]
    if kind == "union":
        return _node_to_py(value, node[1])
    if kind == "record":
        return {
            name: _node_to_py(v, sub)
            for (name, sub), v in zip(node[1], value)
        }
    if kind == "array":
        return [_node_to_py(x, node[1]) for x in value]
    if kind == "map":
        return {k: _node_to_py(v, node[1]) for k, v in value.items()}
    return value  # decimal/enum/fixed decode to scalars already


def read_avro_dicts(path: str | Path) -> list[dict]:
    """Read ANY Avro container file into name-keyed dicts using its
    own writer schema — the tolerance layer that lets foreign
    manifests carry extra fields (column_sizes, split_offsets, …)
    without breaking this reader."""
    schema, _ddl = avro_file_schema(path)
    fields, _ = _parse_fields(schema)
    out = []
    for rec in read_avro_file(path):
        out.append(
            {
                name: _node_to_py(v, node)
                for (name, _n, node), v in zip(fields, rec)
            }
        )
    return out


def _kv_to_dict(entries) -> dict:
    """array<record<key,value>> (or None) → {key: value}."""
    if not entries:
        return {}
    return {e["key"]: e["value"] for e in entries}


# -- metadata.json I/O --------------------------------------------------------


def _meta_dir(table_path: str | Path) -> Path:
    return Path(table_path) / "metadata"


def _strip_uri(p: str) -> str:
    """Foreign writers record file: URIs; local paths pass through."""
    if p.startswith("file://"):
        return p[len("file://") :]
    if p.startswith("file:"):
        return p[len("file:") :]
    return p


def _resolve(p: str, table_path: Path) -> Path:
    """Resolve a metadata-recorded location: URI-stripped, and
    non-absolute paths resolve against the TABLE location (never the
    process CWD — the same discipline as the Delta module's
    _dv_sidecar_path)."""
    raw = Path(_strip_uri(p))
    return raw if raw.is_absolute() else Path(table_path) / raw


def current_metadata_version(table_path: str | Path) -> int:
    """Highest committed metadata version, or 0 when the table does
    not exist. version-hint.text is the fast path; scanning
    ``v*.metadata.json`` is the recovery path (torn/missing hint)."""
    d = _meta_dir(table_path)
    hint = d / "version-hint.text"
    best = 0
    if hint.exists():
        try:
            v = int(hint.read_text().strip())
            if (d / f"v{v}.metadata.json").exists():
                best = v
        except ValueError:
            pass
    for f in d.glob("v*.metadata.json"):
        try:
            best = max(best, int(f.stem.split(".")[0][1:]))
        except ValueError:
            continue
    return best


def load_metadata(table_path: str | Path, version: int | None = None) -> dict:
    v = version or current_metadata_version(table_path)
    if v <= 0:
        raise IcebergMetaError(f"no Iceberg table at {table_path}")
    f = _meta_dir(table_path) / f"v{v}.metadata.json"
    md = json.loads(f.read_text())
    fv = md.get("format-version")
    if fv not in (1, 2):
        raise IcebergMetaError(
            f"unsupported Iceberg format-version {fv!r} (this module "
            "reads v1/v2 metadata)"
        )
    return md


def _current_schema(md: dict) -> dict:
    """Current schema from v2 (schemas + current-schema-id) or v1
    (inline ``schema``) metadata."""
    if "schemas" in md:
        sid = md.get("current-schema-id", 0)
        for s in md["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
        raise IcebergMetaError(f"current-schema-id {sid} not in schemas")
    if "schema" in md:
        return md["schema"]
    raise IcebergMetaError("metadata carries no schema")


def _snapshot_schema(md: dict, snapshot_id: int | None) -> dict:
    """The schema a read should use: the SNAPSHOT's recorded
    schema-id for time travel (spec: snapshots pin their schema — an
    old snapshot must not grow columns added later), else current."""
    if snapshot_id is None:
        return _current_schema(md)
    snap = _snapshot(md, snapshot_id)
    if snap is None or "schema-id" not in snap or "schemas" not in md:
        return _current_schema(md)
    for s in md["schemas"]:
        if s.get("schema-id", 0) == snap["schema-id"]:
            return s
    return _current_schema(md)


def _snapshot(md: dict, snapshot_id: int | None) -> dict | None:
    snaps = md.get("snapshots") or []
    if snapshot_id is None:
        cur = md.get("current-snapshot-id")
        if cur in (None, -1):
            return None
        snapshot_id = cur
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise IcebergMetaError(f"snapshot {snapshot_id} not found")


# -- scan planning -------------------------------------------------------------


def snapshot_entries(
    table_path: str | Path, snapshot_id: int | None = None
) -> tuple[list[dict], list[dict], list[dict]]:
    """(data_entries, position_delete_entries, equality_delete_entries)
    of a snapshot: manifest list → manifests → entries, statuses
    applied per spec (DELETED entries drop out of scans). Every
    returned entry carries ``_seq`` — its effective DATA SEQUENCE
    NUMBER (the entry's own when explicit, else inherited from its
    manifest's sequence_number per the spec's inheritance rule) —
    which decides which deletes apply to which data files. POSITION
    deletes (content == 1, r10) and EQUALITY deletes (content == 2,
    r10 — must carry ``equality_ids``, rejected loudly otherwise)
    are both in scope."""
    table_path = Path(table_path)
    md = load_metadata(table_path)
    snap = _snapshot(md, snapshot_id)
    if snap is None:
        return [], [], []
    mlist = _resolve(snap["manifest-list"], table_path)
    data: list[dict] = []
    deletes: list[dict] = []
    eq_deletes: list[dict] = []
    for m in read_avro_dicts(mlist):
        m_seq = m.get("sequence_number", 0) or 0
        mpath = _resolve(m["manifest_path"], table_path)
        for e in read_avro_dicts(mpath):
            if e.get("status", ST_ADDED) == ST_DELETED:
                continue
            df = e["data_file"]
            content = df.get("content", 0) or 0
            e = dict(e)
            e["_seq"] = (
                e.get("sequence_number")
                if e.get("sequence_number") is not None
                else m_seq
            )
            if content == 0:
                data.append(e)
            elif content == 1:
                deletes.append(e)
            elif content == 2:
                if not df.get("equality_ids"):
                    raise IcebergMetaError(
                        "equality-delete file (content=2) without "
                        "equality_ids — refusing to guess which "
                        f"columns {df.get('file_path')!r} matches on"
                    )
                eq_deletes.append(e)
            else:
                raise IcebergMetaError(
                    f"unknown data_file content {content!r} in "
                    f"{mpath} — spec defines 0 (data), 1 (position "
                    "deletes), 2 (equality deletes)"
                )
    return data, deletes, eq_deletes


def live_entries(table_path: str | Path, snapshot_id: int | None = None):
    """Back-compat: the snapshot's live DATA entries only."""
    return snapshot_entries(table_path, snapshot_id)[0]


def plan_files(
    table_path: str | Path,
    snapshot_id: int | None = None,
    predicates: list[tuple[str, str, object]] | None = None,
) -> dict:
    """Scan planning with stats pruning (the spec's planning
    contract): evaluate ``(column, op, literal)`` conjuncts — op in
    =, <, <=, >, >= — against each file's lower/upper bounds and
    null counts; a file whose bounds PROVE the predicate empty is
    skipped without any executor touching it. Returns
    {'files', 'skipped', 'scanned_rows'}."""
    table_path = Path(table_path)
    md = load_metadata(table_path)
    schema = _snapshot_schema(md, snapshot_id)
    by_name = {f["name"]: f for f in schema["fields"]}
    by_id = {f["id"]: f["name"] for f in schema["fields"]}
    entries, delete_entries, eq_entries = snapshot_entries(
        table_path, snapshot_id
    )
    files: list[str] = []
    file_meta: list[dict] = []
    skipped = 0
    scanned_rows = 0
    for e in entries:
        df = e["data_file"]
        if predicates and _prunable(df, predicates, by_name):
            skipped += 1
            continue
        resolved = str(_resolve(df["file_path"], table_path))
        files.append(resolved)
        file_meta.append(
            {
                "path": df["file_path"],
                "resolved": resolved,
                "seq": e["_seq"],
            }
        )
        scanned_rows += df["record_count"]
    return {
        "files": files,
        "file_meta": file_meta,
        "skipped": skipped,
        "scanned_rows": scanned_rows,
        "delete_files": [
            {
                "resolved": str(
                    _resolve(e["data_file"]["file_path"], table_path)
                ),
                "seq": e["_seq"],
            }
            for e in delete_entries
        ],
        "eq_delete_files": [
            {
                "resolved": str(
                    _resolve(e["data_file"]["file_path"], table_path)
                ),
                "seq": e["_seq"],
                "cols": _eq_ids_to_cols(
                    e["data_file"]["equality_ids"], by_id, e
                ),
            }
            for e in eq_entries
        ],
    }


def _eq_ids_to_cols(ids: list[int], by_id: dict, entry: dict) -> list[str]:
    """equality_ids (field ids) → column names under the scan schema;
    an id the schema no longer has (dropped column) is a loud error —
    the delete's meaning would be lost, not approximated."""
    cols = []
    for i in ids:
        if i not in by_id:
            raise IcebergMetaError(
                f"equality-delete file "
                f"{entry['data_file'].get('file_path')!r} matches on "
                f"field id {i}, which the scan schema does not carry "
                "(dropped column?) — cannot apply the delete"
            )
        cols.append(by_id[i])
    return cols


def _prunable(data_file: dict, predicates, by_name) -> bool:
    lowers = _kv_to_dict(data_file.get("lower_bounds"))
    uppers = _kv_to_dict(data_file.get("upper_bounds"))
    nulls = _kv_to_dict(data_file.get("null_value_counts"))
    values = _kv_to_dict(data_file.get("value_counts"))
    for col, op, lit in predicates:
        f = by_name.get(col)
        if f is None:
            continue
        fid, ice_t = f["id"], f["type"]
        # an all-NULL column can never satisfy a comparison
        if (
            fid in nulls
            and fid in values
            and values[fid] > 0
            and nulls[fid] == values[fid]
        ):
            return True
        lo = bound_decode(lowers.get(fid), ice_t) if fid in lowers else None
        hi = bound_decode(uppers.get(fid), ice_t) if fid in uppers else None
        if op == "=" and (
            (lo is not None and lit < lo) or (hi is not None and lit > hi)
        ):
            return True
        if op in ("<", "<=") and lo is not None and (
            lo > lit if op == "<=" else lo >= lit
        ):
            return True
        if op in (">", ">=") and hi is not None and (
            hi < lit if op == ">=" else hi <= lit
        ):
            return True
    return False


def read_iceberg(
    spark: SparkSession,
    table_path: str | Path,
    snapshot_id: int | None = None,
    predicates: list[tuple[str, str, object]] | None = None,
) -> DataFrame:
    """Read a snapshot (current by default) as a DataFrame: plan on
    the metadata plane, then one distributed parquet scan over the
    planned files with the metadata schema applied (empty snapshot →
    empty DataFrame with the right schema). ``predicates`` prune on
    stats AND re-apply as a Spark filter (pruning is an optimization,
    never a semantic)."""
    table_path = Path(table_path)
    md = load_metadata(table_path)
    ddl = iceberg_schema_to_ddl(_snapshot_schema(md, snapshot_id))
    plan = plan_files(table_path, snapshot_id, predicates)
    if not plan["files"]:
        return spark.createDataFrame([], ddl)
    if plan["delete_files"] or plan["eq_delete_files"]:
        df = _read_with_deletes(spark, ddl, plan)
    else:
        df = spark.read.schema(ddl).parquet(*plan["files"])
    if predicates:
        import operator as _op

        from pyspark.sql import functions as F

        cmp = {"=": _op.eq, "<": _op.lt, "<=": _op.le,
               ">": _op.gt, ">=": _op.ge}
        for col, op, lit in predicates:
            df = df.filter(cmp[op](F.col(col), F.lit(lit)))
    return df


# position-delete file schema per spec (reserved field ids)
POS_DELETE_DDL = "file_path string, pos long"


def _read_with_deletes(spark: SparkSession, ddl: str, plan: dict) -> DataFrame:
    """Merge-on-read scan with spec v2 row-level deletes. POSITION
    deletes (content=1): data files read with their parquet row
    index; the delete relation — (data file path, row position) rows
    from the snapshot's delete files — anti-joins matching positions
    away under the spec's ``delete_seq >= data_seq`` rule. EQUALITY
    deletes (content=2): each delete file's rows are match tuples on
    its ``equality_ids`` columns; a data row dies when a tuple
    matches null-safely AND ``delete_seq > data_seq`` (STRICTLY
    greater per spec — a commit's own appends survive its equality
    deletes). Scale shape: delete relations are the changed rows
    only (broadcast; the null-safe equality conjuncts keep the
    anti-joins hashable); the one scan over data files is the same
    scan a clean read does."""
    from pyspark.sql import functions as F

    df = spark.read.schema(ddl).parquet(*plan["files"]).select(
        "*",
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.row_index").alias("__ri"),
    )
    import pandas as pd

    # recorded-path ↔ reader-path ↔ data-sequence mapping relation
    # (metadata plane: one row per planned file)
    map_rel = spark.createDataFrame(
        pd.DataFrame(
            {
                "__rec": [m["path"] for m in plan["file_meta"]],
                "__fp": [
                    "file:" + m["resolved"] for m in plan["file_meta"]
                ],
                "__dseq": [m["seq"] for m in plan["file_meta"]],
            }
        )
    )
    if plan["delete_files"]:
        dels = None
        for d in plan["delete_files"]:
            part = spark.read.schema(POS_DELETE_DDL).parquet(
                d["resolved"]
            ).select(
                F.col("file_path").alias("__rec"),
                F.col("pos").alias("__ri"),
                F.lit(d["seq"]).alias("__dlseq"),
            )
            dels = part if dels is None else dels.unionByName(part)
        dead = (
            dels.join(F.broadcast(map_rel), "__rec")
            .filter(F.col("__dlseq") >= F.col("__dseq"))
            .select("__fp", "__ri")
            .distinct()
        )
        df = df.join(F.broadcast(dead), ["__fp", "__ri"], "left_anti")
    df = _apply_eq_deletes(spark, df, map_rel, plan["eq_delete_files"])
    return df.drop("__fp", "__ri")


def _apply_eq_deletes(
    spark: SparkSession, df: DataFrame, map_rel: DataFrame, eq_files: list
) -> DataFrame:
    """Anti-join EQUALITY-delete tuples away from ``df`` (which must
    carry ``__fp``). Files are grouped by their equality-column set;
    one broadcast anti-join per group. NULL delete values match NULL
    row values (null-safe equality per spec)."""
    from pyspark.sql import functions as F

    if not eq_files:
        return df
    df = df.join(
        F.broadcast(map_rel.select("__fp", "__dseq")), "__fp"
    )
    groups: dict[tuple, list] = {}
    for d in eq_files:
        groups.setdefault(tuple(d["cols"]), []).append(d)
    for cols, files in groups.items():
        rel = None
        for d in files:
            part = spark.read.parquet(d["resolved"]).select(
                *[F.col(c).alias(f"__eq_{c}") for c in cols],
                F.lit(d["seq"]).alias("__dlseq"),
            )
            rel = part if rel is None else rel.unionByName(part)
        cond = F.col("__dlseq") > F.col("__dseq")
        for c in cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
        df = df.join(F.broadcast(rel), cond, "left_anti")
    return df.drop("__dseq")


def snapshot_ids(table_path: str | Path) -> list[int]:
    """Snapshot ids in commit order (the snapshot-log)."""
    md = load_metadata(table_path)
    return [e["snapshot-id"] for e in md.get("snapshot-log", [])]


# -- writer --------------------------------------------------------------------


class IcebergTable:
    """Writer handle: create / append / overwrite commits with real
    v2 metadata, manifest lists and manifests; HadoopTableOperations
    commit atomicity (create-exclusive ``v{N}.metadata.json`` link +
    version-hint swap)."""

    def __init__(self, spark: SparkSession, table_path: str | Path):
        self.spark = spark
        self.path = Path(table_path)

    # -- data staging (same two-phase discipline as DeltaLogWriter) ----

    def _stage(self, df: DataFrame, ice_schema: dict | None = None) -> list[dict]:
        """Write df as parquet under ``data/`` and return data_file
        dicts with per-file stats read from the parquet FOOTERS
        (record counts, value/null counts, encoded lower/upper
        bounds) — the metadata that makes plan_files able to skip
        files. ``ice_schema`` is the TABLE schema when the table
        exists (its field IDs are authoritative once the schema has
        evolved); stats map columns by NAME against it."""
        import shutil

        import pyarrow.parquet as pq

        if ice_schema is None:
            ice_schema = spark_to_iceberg_schema(df.schema)
        job = uuid.uuid4().hex[:12]
        staging = self.path.with_name(self.path.name + f"__ice_stage.{job}")
        try:
            df.write.parquet(str(staging))
        except BaseException:
            # a failed write strands no staging dir beside the table
            shutil.rmtree(staging, ignore_errors=True)
            raise
        data_dir = self.path / "data"
        data_dir.mkdir(parents=True, exist_ok=True)
        out = []
        for i, part in enumerate(sorted(staging.glob("*.parquet"))):
            name = f"data/{job}-{i:05d}.parquet"
            tgt = self.path / name
            part.rename(tgt)
            out.append(self._data_file(tgt, name, ice_schema, pq))
        shutil.rmtree(staging, ignore_errors=True)
        return out

    @staticmethod
    def _data_file(tgt: Path, rel_name: str, ice_schema: dict, pq) -> dict:
        meta = pq.ParquetFile(str(tgt)).metadata
        names = [
            meta.row_group(0).column(c).path_in_schema
            for c in range(meta.num_columns)
        ] if meta.num_row_groups else []
        by_name = {f["name"]: f for f in ice_schema["fields"]}
        value_counts: dict[int, int] = {}
        null_counts: dict[int, int] = {}
        mins: dict[int, object] = {}
        maxs: dict[int, object] = {}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                f = by_name.get(names[c])
                if f is None:
                    continue
                fid = f["id"]
                value_counts[fid] = value_counts.get(fid, 0) + g.num_rows
                st = col.statistics
                if st is None:
                    mins[fid] = maxs[fid] = None
                    continue
                null_counts[fid] = null_counts.get(fid, 0) + (
                    st.null_count or 0
                )
                # bounds only when the footer attests exact min/max
                # AND the type is in the bound codec's domain (string
                # stats may be truncated; pyarrow cannot extract
                # decimal stats — skipped: a missing bound never
                # mis-prunes)
                if st.has_min_max and f["type"] in (
                    "int", "long", "float", "double",
                    "date", "timestamptz",
                ):
                    lo, hi = st.min, st.max
                    mins[fid] = lo if fid not in mins or (
                        mins[fid] is not None and lo < mins[fid]
                    ) else mins[fid]
                    maxs[fid] = hi if fid not in maxs or (
                        maxs[fid] is not None and hi > maxs[fid]
                    ) else maxs[fid]
                else:
                    mins[fid] = maxs[fid] = None
        kv = lambda d: [  # noqa: E731
            {"key": k, "value": v} for k, v in sorted(d.items())
        ]
        bounds = lambda d: [  # noqa: E731
            {"key": k, "value": enc}
            for k, v in sorted(d.items())
            if v is not None
            and (enc := bound_encode(v, by_name_id[k])) is not None
        ]
        by_name_id = {f["id"]: f["type"] for f in ice_schema["fields"]}
        return {
            "content": 0,
            "file_path": rel_name,  # table-relative; reader resolves
            "file_format": "PARQUET",
            "partition": {},
            "record_count": meta.num_rows,
            "file_size_in_bytes": tgt.stat().st_size,
            "value_counts": kv(value_counts),
            "null_value_counts": kv(null_counts),
            "lower_bounds": bounds(mins),
            "upper_bounds": bounds(maxs),
        }

    # -- manifest + manifest-list writing --------------------------------

    def _write_manifest(
        self,
        entries: list[dict],
        snapshot_id: int,
        seq: int,
        ice_schema: dict,
        content: int = 0,
    ) -> dict:
        mdir = _meta_dir(self.path)
        mdir.mkdir(parents=True, exist_ok=True)
        name = f"{uuid.uuid4().hex}-m0.avro"
        p = mdir / name
        # entries decoded from pre-equality_ids manifests (or foreign
        # ones) may lack the nullable field — default it rather than
        # KeyError inside the Avro encoder
        entries = [
            {**e, "data_file": {"equality_ids": None, **e["data_file"]}}
            for e in entries
        ]
        write_avro_file(p, entries, MANIFEST_ENTRY_SCHEMA, codec="deflate")
        # per-spec manifest key-value metadata rides the container
        # header; write_avro_file carries avro.schema — the Iceberg
        # keys (schema, partition-spec-id, content, format-version)
        # are appended by re-writing the header meta below
        _amend_container_meta(
            p,
            {
                "schema": json.dumps(ice_schema),
                "partition-spec": "[]",
                "partition-spec-id": "0",
                "format-version": "2",
                "content": "data" if content == 0 else "deletes",
            },
        )
        counts = {ST_ADDED: [0, 0], ST_EXISTING: [0, 0], ST_DELETED: [0, 0]}
        for e in entries:
            c = counts[e["status"]]
            c[0] += 1
            c[1] += e["data_file"]["record_count"]
        return {
            "manifest_path": f"metadata/{name}",
            "manifest_length": p.stat().st_size,
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": counts[ST_ADDED][0],
            "existing_files_count": counts[ST_EXISTING][0],
            "deleted_files_count": counts[ST_DELETED][0],
            "added_rows_count": counts[ST_ADDED][1],
            "existing_rows_count": counts[ST_EXISTING][1],
            "deleted_rows_count": counts[ST_DELETED][1],
        }

    def _write_manifest_list(
        self, manifests: list[dict], snapshot_id: int
    ) -> str:
        mdir = _meta_dir(self.path)
        name = f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
        write_avro_file(
            mdir / name, manifests, MANIFEST_LIST_SCHEMA, codec="deflate"
        )
        return f"metadata/{name}"

    # -- commits -----------------------------------------------------------

    def exists(self) -> bool:
        return current_metadata_version(self.path) > 0

    def _commit(self, md: dict, base: int | None = None) -> int:
        """CREATE-EXCLUSIVE claim of v{base+1}.metadata.json (two
        racing writers from the same base: exactly one wins, the
        loser gets IcebergMetaError — the HadoopTableOperations
        rename contract; ``base`` is the metadata version this
        commit's state was LOADED at, so a writer working from a
        stale snapshot always loses rather than silently skipping
        ahead), then the version-hint swap readers use as the fast
        path."""
        mdir = _meta_dir(self.path)
        mdir.mkdir(parents=True, exist_ok=True)
        if base is None:
            base = current_metadata_version(self.path)
        v = base + 1
        tmp = mdir / f".v{v}.{uuid.uuid4().hex[:8]}.tmp"
        tmp.write_text(json.dumps(md, indent=1))
        target = mdir / f"v{v}.metadata.json"
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise IcebergMetaError(
                f"concurrent commit at metadata version {v}"
            ) from None
        finally:
            tmp.unlink()
        hint_tmp = mdir / f".hint.{uuid.uuid4().hex[:8]}.tmp"
        hint_tmp.write_text(str(v))
        os.replace(hint_tmp, mdir / "version-hint.text")
        return v

    def _next_ids(self, md: dict | None) -> tuple[int, int]:
        """(snapshot_id, sequence_number) for the next commit."""
        sid = int.from_bytes(os.urandom(7), "big")  # positive, spec: unique
        seq = (md.get("last-sequence-number", 0) + 1) if md else 1
        return sid, seq

    def _base_metadata(self, df: DataFrame) -> dict:
        return {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": str(self.path),
            "last-sequence-number": 0,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": len(df.schema.fields),
            "current-schema-id": 0,
            "schemas": [spark_to_iceberg_schema(df.schema)],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "last-partition-id": 999,  # spec: partition ids start at 1000
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }

    def _snapshot_commit(
        self,
        md: dict,
        operation: str,
        new_manifests: list[dict],
        carried_manifests: list[dict],
        snapshot_id: int,
        seq: int,
        base: int = 0,
    ) -> int:
        mlist = self._write_manifest_list(
            new_manifests + carried_manifests, snapshot_id
        )
        now = int(time.time() * 1000)
        parent = md.get("current-snapshot-id")
        snap = {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now,
            "manifest-list": mlist,
            "summary": {"operation": operation},
            "schema-id": md.get("current-schema-id", 0),
        }
        if parent not in (None, -1):
            snap["parent-snapshot-id"] = parent
        prev_v = base
        md = dict(md)
        md["last-sequence-number"] = seq
        md["last-updated-ms"] = now
        md["current-snapshot-id"] = snapshot_id
        md["snapshots"] = list(md.get("snapshots") or []) + [snap]
        md["snapshot-log"] = list(md.get("snapshot-log") or []) + [
            {"timestamp-ms": now, "snapshot-id": snapshot_id}
        ]
        if prev_v > 0:
            md["metadata-log"] = list(md.get("metadata-log") or []) + [
                {
                    "timestamp-ms": now,
                    "metadata-file": f"metadata/v{prev_v}.metadata.json",
                }
            ]
        return self._commit(md, base=base)

    def create(self, df: DataFrame) -> int:
        if self.exists():
            raise IcebergMetaError(f"table already exists: {self.path}")
        md = self._base_metadata(df)
        sid, seq = self._next_ids(None)
        entries = [
            {
                "status": ST_ADDED,
                "snapshot_id": sid,
                "sequence_number": None,  # inherited from the manifest list
                "file_sequence_number": None,
                "data_file": d,
            }
            for d in self._stage(df)
        ]
        m = self._write_manifest(entries, sid, seq, md["schemas"][0])
        return self._snapshot_commit(md, "append", [m], [], sid, seq, base=0)

    @staticmethod
    def _refuse_new_columns(df: DataFrame, md: dict) -> None:
        """Writes never change the schema: a batch column the current
        schema lacks would be staged into the files but never read.
        Evolution is explicit, through :meth:`update_schema`."""
        known = {f["name"] for f in _current_schema(md)["fields"]}
        new = [c for c in df.columns if c not in known]
        if new:
            raise IcebergMetaError(
                f"batch carries columns the table schema lacks: {new} — "
                "add them with update_schema first"
            )

    def append(self, df: DataFrame) -> int:
        """FAST APPEND: one new manifest; prior manifests are carried
        in the new manifest list untouched (no rewrite — the property
        that makes Iceberg appends O(new files) at any table size)."""
        if not self.exists():
            return self.create(df)
        base = current_metadata_version(self.path)
        md = load_metadata(self.path, base)
        self._refuse_new_columns(df, md)
        sid, seq = self._next_ids(md)
        entries = [
            {
                "status": ST_ADDED,
                "snapshot_id": sid,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": d,
            }
            for d in self._stage(df, _current_schema(md))
        ]
        m = self._write_manifest(entries, sid, seq, _current_schema(md))
        carried = self._current_manifests(md)
        return self._snapshot_commit(
            md, "append", [m], carried, sid, seq, base=base
        )

    def overwrite(self, df: DataFrame) -> int:
        """Full-table OVERWRITE: previous live files re-enter a new
        manifest as status=DELETED (kept for incremental consumers,
        skipped by scans — the spec's overwrite shape), new files in
        a fresh added manifest."""
        if not self.exists():
            return self.create(df)
        base = current_metadata_version(self.path)
        md = load_metadata(self.path, base)
        self._refuse_new_columns(df, md)
        sid, seq = self._next_ids(md)
        schema = _current_schema(md)
        old = live_entries(self.path)
        manifests = []
        if old:
            deleted = [
                {
                    "status": ST_DELETED,
                    "snapshot_id": sid,
                    "sequence_number": e.get("sequence_number"),
                    "file_sequence_number": e.get("file_sequence_number"),
                    "data_file": e["data_file"],
                }
                for e in old
            ]
            manifests.append(
                self._write_manifest(deleted, sid, seq, schema)
            )
        adds = [
            {
                "status": ST_ADDED,
                "snapshot_id": sid,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": d,
            }
            for d in self._stage(df, schema)
        ]
        manifests.insert(0, self._write_manifest(adds, sid, seq, schema))
        return self._snapshot_commit(
            md, "overwrite", manifests, [], sid, seq, base=base
        )

    def delete_where(self, predicate) -> dict:
        """Merge-on-read DELETE via the spec's v2 POSITION-DELETE
        files (content=1): matched rows' (data file path, row
        position) pairs land in a sorted parquet delete file; the new
        snapshot's manifest list carries a DELETE manifest plus every
        prior manifest untouched — zero data-file bytes rewritten,
        the Iceberg twin of the Delta backend's deletionVectors.
        Matches evaluate against the MOR view (already-deleted rows
        cannot match again); the delete's data sequence number is the
        new snapshot's, so per the spec's ``delete_seq >= data_seq``
        rule it masks ONLY data committed at or before this point —
        later appends are untouched. NULL-predicate rows survive (SQL
        DELETE semantics). Returns {version, rows_deleted}."""
        from pyspark.sql import functions as F

        if not self.exists():
            raise IcebergMetaError(f"no Iceberg table at {self.path}")
        base = current_metadata_version(self.path)
        md = load_metadata(self.path, base)
        schema = _current_schema(md)
        ddl = iceberg_schema_to_ddl(schema)
        plan = plan_files(self.path)
        if not plan["files"]:
            return {"version": -1, "rows_deleted": 0}
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        df = self.spark.read.schema(ddl).parquet(*plan["files"]).select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.row_index").alias("__ri"),
        )
        import pandas as pd

        map_rel = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "__rec": [m["path"] for m in plan["file_meta"]],
                    "__fp": [
                        "file:" + m["resolved"] for m in plan["file_meta"]
                    ],
                    "__dseq": [m["seq"] for m in plan["file_meta"]],
                }
            )
        )
        if plan["delete_files"]:
            # MOR view: rows already position-deleted cannot re-match
            dels = None
            for d in plan["delete_files"]:
                part = self.spark.read.schema(POS_DELETE_DDL).parquet(
                    d["resolved"]
                ).select(
                    F.col("file_path").alias("__rec"),
                    F.col("pos").alias("__ri"),
                    F.lit(d["seq"]).alias("__dlseq"),
                )
                dels = part if dels is None else dels.unionByName(part)
            dead = (
                dels.join(F.broadcast(map_rel), "__rec")
                .filter(F.col("__dlseq") >= F.col("__dseq"))
                .select("__fp", "__ri")
                .distinct()
            )
            df = df.join(F.broadcast(dead), ["__fp", "__ri"], "left_anti")
        # rows already equality-deleted cannot re-match either
        df = _apply_eq_deletes(
            self.spark, df, map_rel, plan["eq_delete_files"]
        )
        matched = (
            df.filter(F.coalesce(pred, F.lit(False)))
            .join(F.broadcast(map_rel.select("__rec", "__fp")), "__fp")
            .select(
                F.col("__rec").alias("file_path"),
                F.col("__ri").alias("pos"),
            )
            .orderBy("file_path", "pos")  # spec: sorted delete files
        )
        import pyarrow.parquet as pq

        pdf = matched.toPandas()
        if pdf.empty:
            return {"version": -1, "rows_deleted": 0}
        sid, seq = self._next_ids(md)
        data_dir = self.path / "data"
        data_dir.mkdir(parents=True, exist_ok=True)
        name = f"data/{uuid.uuid4().hex}-deletes.parquet"
        tgt = self.path / name
        import pyarrow as pa

        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array(pdf["file_path"], pa.string()),
                    "pos": pa.array(pdf["pos"], pa.int64()),
                }
            ),
            str(tgt),
        )
        entry = {
            "status": ST_ADDED,
            "snapshot_id": sid,
            "sequence_number": None,  # inherits the manifest's seq
            "file_sequence_number": None,
            "data_file": {
                "content": 1,
                "file_path": name,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": len(pdf),
                "file_size_in_bytes": tgt.stat().st_size,
                "value_counts": [],
                "null_value_counts": [],
                "lower_bounds": [],
                "upper_bounds": [],
            },
        }
        m = self._write_manifest([entry], sid, seq, schema, content=1)
        carried = self._current_manifests(md)
        v = self._snapshot_commit(
            md, "delete", [m], carried, sid, seq, base=base
        )
        return {"version": v, "rows_deleted": int(len(pdf))}

    def equality_delete(self, keys: DataFrame, cols: list[str]) -> dict:
        """Merge-on-read DELETE via the spec's v2 EQUALITY-delete
        files (content=2): each distinct row of ``keys`` (projected
        to ``cols``) is a delete marker that kills every data row
        whose ``cols`` values match null-safely — the upsert/CDC
        shape (delete-by-key without knowing file positions, the
        write path streaming engines use). The manifest entry carries
        the columns as spec ``equality_ids`` (field ids); the
        delete's sequence number is the new snapshot's, and per the
        spec's STRICTLY-GREATER rule it masks only data committed
        BEFORE this snapshot — a row re-appended with the same key
        later (or in the same commit) stays visible. Zero data-file
        bytes rewritten. Returns {version, delete_markers}."""
        if not self.exists():
            raise IcebergMetaError(f"no Iceberg table at {self.path}")
        base = current_metadata_version(self.path)
        md = load_metadata(self.path, base)
        schema = _current_schema(md)
        by_name = {f["name"]: f for f in schema["fields"]}
        missing = [c for c in cols if c not in by_name]
        if missing:
            raise IcebergMetaError(
                f"equality_delete columns {missing} not in the "
                "current table schema"
            )
        markers = keys.select(*cols).distinct()
        n_markers = markers.count()
        if n_markers == 0:
            return {"version": -1, "delete_markers": 0}
        # Spark writes the delete file so column TYPES survive exactly
        # (a pandas hop would widen nullable ints to float64); one
        # sorted file per spec's recommendation for delete files
        import shutil

        job = uuid.uuid4().hex[:12]
        staging = self.path.with_name(self.path.name + f"__ice_eqdel.{job}")
        markers.orderBy(*cols).coalesce(1).write.parquet(str(staging))
        data_dir = self.path / "data"
        data_dir.mkdir(parents=True, exist_ok=True)
        name = f"data/{job}-eq-deletes.parquet"
        tgt = self.path / name
        next(iter(sorted(staging.glob("*.parquet")))).rename(tgt)
        shutil.rmtree(staging, ignore_errors=True)
        sid, seq = self._next_ids(md)
        entry = {
            "status": ST_ADDED,
            "snapshot_id": sid,
            "sequence_number": None,  # inherits the manifest's seq
            "file_sequence_number": None,
            "data_file": {
                "content": 2,
                "file_path": name,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": n_markers,
                "file_size_in_bytes": tgt.stat().st_size,
                "value_counts": [],
                "null_value_counts": [],
                "lower_bounds": [],
                "upper_bounds": [],
                "equality_ids": [by_name[c]["id"] for c in cols],
            },
        }
        m = self._write_manifest([entry], sid, seq, schema, content=2)
        carried = self._current_manifests(md)
        v = self._snapshot_commit(
            md, "delete", [m], carried, sid, seq, base=base
        )
        return {"version": v, "delete_markers": int(n_markers)}

    def _current_manifests(self, md: dict) -> list[dict]:
        snap = _snapshot(md, None)
        if snap is None:
            return []
        return read_avro_dicts(_resolve(snap["manifest-list"], self.path))

    def update_schema(
        self,
        add: list[tuple[str, str]] | None = None,
        drop: list[str] | None = None,
    ) -> int:
        """SCHEMA EVOLUTION per spec §Schemas: ``add`` appends
        (name, iceberg_type) columns with FRESH field ids
        (last-column-id advances — ids are never reused, the invariant
        every Iceberg reader relies on), ``drop`` removes columns
        (their ids retire with them). The new schema gets the next
        schema-id; all prior schemas stay in the metadata for readers
        of old snapshots. Old data files simply lack the new columns
        and read as NULL (the spec's add-column contract — no file is
        rewritten); dropped columns vanish from reads while their
        bytes stay in place. RENAME is out of declared scope: our
        data files carry no parquet field-id metadata, so a rename
        would need the spec's name-mapping fallback to re-associate
        old files — refuse rather than mis-read."""
        base = current_metadata_version(self.path)
        md = dict(load_metadata(self.path, base))
        schema = _current_schema(md)
        fields = [dict(f) for f in schema["fields"]]
        names = {f["name"] for f in fields}
        last_id = md.get("last-column-id", max(f["id"] for f in fields))
        for name in drop or []:
            if name not in names:
                raise IcebergMetaError(f"drop: no column {name!r}")
            fields = [f for f in fields if f["name"] != name]
        for name, ice_type in add or []:
            if name in names:
                raise IcebergMetaError(f"add: column {name!r} exists")
            if not (
                ice_type in _ICE_TO_SPARK
                or ice_type.startswith("decimal(")
            ):
                raise IcebergMetaError(
                    f"add: unsupported Iceberg type {ice_type!r}"
                )
            last_id += 1
            fields.append(
                {
                    "id": last_id,
                    "name": name,
                    "required": False,  # spec: added columns are optional
                    "type": ice_type,
                }
            )
        new_sid = max(s.get("schema-id", 0) for s in md["schemas"]) + 1
        new_schema = {
            "type": "struct",
            "schema-id": new_sid,
            "fields": fields,
        }
        md["schemas"] = list(md["schemas"]) + [new_schema]
        md["current-schema-id"] = new_sid
        md["last-column-id"] = last_id
        md["last-updated-ms"] = int(time.time() * 1000)
        return self._commit(md, base=base)


def _amend_container_meta(path: Path, extra: dict[str, str]) -> None:
    """Append key/value pairs to an existing Avro container file's
    header metadata map (re-writes the header block in place; data
    blocks and sync marker are untouched)."""
    from .avro import _MAGIC, _zz_dec, _zz_enc

    raw = Path(path).read_bytes()
    buf = io.BytesIO(raw)
    if buf.read(4) != _MAGIC:
        raise IcebergMetaError(f"not an Avro container file: {path}")
    meta: dict[str, bytes] = {}
    while True:
        n = _zz_dec(buf)
        if n == 0:
            break
        if n < 0:
            _zz_dec(buf)
            n = -n
        for _ in range(n):
            klen = _zz_dec(buf)
            k = buf.read(klen).decode()
            vlen = _zz_dec(buf)
            meta[k] = buf.read(vlen)
    rest = raw[buf.tell() :]  # sync marker + data blocks
    meta.update({k: v.encode() for k, v in extra.items()})
    out = bytearray(_MAGIC)
    out += _zz_enc(len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        out += _zz_enc(len(kb)) + kb + _zz_enc(len(v)) + v
    out += _zz_enc(0)
    out += rest
    Path(path).write_bytes(bytes(out))
