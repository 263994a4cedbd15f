"""Table metadata v2 (reference: src/model/table.rs:16-100).

The one top-level noun: a versioned TABLE. Matches Iceberg's
``vN.metadata.json`` document: format-version gate (v1 rejected —
table.rs:182-190), UUID identity (invalid rejected — table.rs:171-180),
schema list + current id (schema evolution), partition-spec list +
default id, sort orders, snapshots + snapshot-log (time travel),
metadata-log, named refs (branches/tags), free-form properties.
"""

from __future__ import annotations

import json
import uuid as uuid_mod
from dataclasses import dataclass, field, replace

from iceberg_rs_spark.model.partition import PartitionSpec
from iceberg_rs_spark.model.schema import IceSchema
from iceberg_rs_spark.model.snapshot import Reference, Snapshot
from iceberg_rs_spark.model.sort import SortOrder

FORMAT_VERSION = 2
MAIN_BRANCH = "main"


@dataclass(frozen=True)
class SnapshotLogEntry:
    """(timestamp, snapshot-id) history row (table.rs:92-100) — the
    structure that answers TIMESTAMP AS OF."""

    snapshot_id: int
    timestamp_ms: int

    def to_json(self) -> dict:
        return {"snapshot-id": self.snapshot_id, "timestamp-ms": self.timestamp_ms}

    @staticmethod
    def from_json(obj: dict) -> "SnapshotLogEntry":
        return SnapshotLogEntry(int(obj["snapshot-id"]), int(obj["timestamp-ms"]))


@dataclass(frozen=True)
class MetadataLogEntry:
    """Previous metadata file pointer (table.rs:82-90)."""

    metadata_file: str
    timestamp_ms: int

    def to_json(self) -> dict:
        return {"metadata-file": self.metadata_file, "timestamp-ms": self.timestamp_ms}

    @staticmethod
    def from_json(obj: dict) -> "MetadataLogEntry":
        return MetadataLogEntry(obj["metadata-file"], int(obj["timestamp-ms"]))


@dataclass(frozen=True)
class TableMetadata:
    table_uuid: str
    location: str
    last_sequence_number: int
    last_updated_ms: int
    last_column_id: int
    schemas: tuple[IceSchema, ...]
    current_schema_id: int
    partition_specs: tuple[PartitionSpec, ...]
    default_spec_id: int
    last_partition_id: int
    sort_orders: tuple[SortOrder, ...]
    default_sort_order_id: int
    properties: dict[str, str] = field(default_factory=dict)
    current_snapshot_id: int | None = None
    snapshots: tuple[Snapshot, ...] = ()
    snapshot_log: tuple[SnapshotLogEntry, ...] = ()
    metadata_log: tuple[MetadataLogEntry, ...] = ()
    refs: dict[str, Reference] = field(default_factory=dict)

    # ------------------------------------------------------------------
    # Accessors
    # ------------------------------------------------------------------

    def current_schema(self) -> IceSchema:
        return self.schema_by_id(self.current_schema_id)

    def schema_by_id(self, sid: int) -> IceSchema:
        for s in self.schemas:
            if s.schema_id == sid:
                return s
        raise KeyError(f"no schema with id {sid}")

    def default_spec(self) -> PartitionSpec:
        for s in self.partition_specs:
            if s.spec_id == self.default_spec_id:
                return s
        raise KeyError(f"no partition spec with id {self.default_spec_id}")

    def default_sort_order(self) -> SortOrder:
        for s in self.sort_orders:
            if s.order_id == self.default_sort_order_id:
                return s
        raise KeyError(f"no sort order with id {self.default_sort_order_id}")

    def snapshot_by_id(self, sid: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == sid:
                return s
        raise KeyError(f"no snapshot with id {sid}")

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Latest snapshot whose log entry is <= timestamp (the
        snapshot_log is exactly the TIMESTAMP AS OF index)."""
        candidates = [e for e in self.snapshot_log if e.timestamp_ms <= timestamp_ms]
        if not candidates:
            raise KeyError(f"no snapshot at or before timestamp {timestamp_ms}")
        return self.snapshot_by_id(max(candidates, key=lambda e: e.timestamp_ms).snapshot_id)

    def ref(self, name: str) -> Reference:
        if name == MAIN_BRANCH and name not in self.refs:
            if self.current_snapshot_id is None:
                raise KeyError("table has no snapshots yet")
            return Reference(snapshot_id=self.current_snapshot_id, type="branch")
        if name not in self.refs:
            raise KeyError(f"no ref named {name!r}")
        return self.refs[name]

    # ------------------------------------------------------------------
    # JSON (kebab-case; format-version tag gates on 2)
    # ------------------------------------------------------------------

    def to_json(self) -> dict:
        return {
            "format-version": FORMAT_VERSION,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "last-sequence-number": self.last_sequence_number,
            "last-updated-ms": self.last_updated_ms,
            "last-column-id": self.last_column_id,
            "schemas": [s.to_json() for s in self.schemas],
            "current-schema-id": self.current_schema_id,
            "partition-specs": [s.to_json() for s in self.partition_specs],
            "default-spec-id": self.default_spec_id,
            "last-partition-id": self.last_partition_id,
            "properties": dict(self.properties),
            **(
                {"current-snapshot-id": self.current_snapshot_id}
                if self.current_snapshot_id is not None
                else {}
            ),
            "snapshots": [s.to_json() for s in self.snapshots],
            "snapshot-log": [e.to_json() for e in self.snapshot_log],
            "metadata-log": [e.to_json() for e in self.metadata_log],
            "sort-orders": [s.to_json() for s in self.sort_orders],
            "default-sort-order-id": self.default_sort_order_id,
            "refs": {name: r.to_json() for name, r in self.refs.items()},
        }

    def to_json_str(self) -> str:
        return json.dumps(self.to_json())

    @staticmethod
    def from_json(obj: dict) -> "TableMetadata":
        fv = obj.get("format-version")
        if fv != FORMAT_VERSION:  # v1 rejected, matching table.rs:182-190
            raise ValueError(f"unsupported format-version: {fv!r} (only 2)")
        tuid = obj["table-uuid"]
        uuid_mod.UUID(tuid)  # invalid UUIDs rejected, matching table.rs:171-180
        return TableMetadata(
            table_uuid=tuid,
            location=obj["location"],
            last_sequence_number=int(obj["last-sequence-number"]),
            last_updated_ms=int(obj["last-updated-ms"]),
            last_column_id=int(obj["last-column-id"]),
            schemas=tuple(IceSchema.from_json(s) for s in obj["schemas"]),
            current_schema_id=int(obj["current-schema-id"]),
            partition_specs=tuple(PartitionSpec.from_json(s) for s in obj["partition-specs"]),
            default_spec_id=int(obj["default-spec-id"]),
            last_partition_id=int(obj["last-partition-id"]),
            properties={str(k): str(v) for k, v in (obj.get("properties") or {}).items()},
            current_snapshot_id=(
                int(obj["current-snapshot-id"])
                if obj.get("current-snapshot-id") is not None
                else None
            ),
            snapshots=tuple(Snapshot.from_json(s) for s in (obj.get("snapshots") or [])),
            snapshot_log=tuple(
                SnapshotLogEntry.from_json(e) for e in (obj.get("snapshot-log") or [])
            ),
            metadata_log=tuple(
                MetadataLogEntry.from_json(e) for e in (obj.get("metadata-log") or [])
            ),
            sort_orders=tuple(SortOrder.from_json(s) for s in (obj.get("sort-orders") or [])),
            default_sort_order_id=int(obj.get("default-sort-order-id", 0)),
            refs={k: Reference.from_json(v) for k, v in (obj.get("refs") or {}).items()},
        )

    @staticmethod
    def from_json_str(s: str) -> "TableMetadata":
        return TableMetadata.from_json(json.loads(s))

    def evolve(self, **changes) -> "TableMetadata":
        return replace(self, **changes)
