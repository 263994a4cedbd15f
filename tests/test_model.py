"""Metadata-model tests, mirroring the reference's three techniques
(SURVEY.md §5): serde round-trips, negative/validation cases, and
property-based round-trips — plus the reference's own full-metadata
fixture document (reference table.rs:110-160 / README.md:35-85)."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_rs_spark.model import (
    IceField,
    IceList,
    IceMap,
    IcePrimitive,
    IceSchema,
    IceStruct,
    NameMapping,
    PartitionField,
    PartitionSpec,
    Reference,
    Snapshot,
    SnapshotLogEntry,
    SortField,
    SortOrder,
    TableMetadata,
    Transform,
    ice_to_spark,
    parse_type,
    spark_to_ice,
    type_to_json,
)
from iceberg_rs_spark.model.types import max_field_id
from pyspark.sql import types as T

# The reference's own test fixture (reference: src/model/table.rs:110-160).
FULL_METADATA_JSON = """
{
    "format-version" : 2,
    "table-uuid": "fb072c92-a02b-11e9-ae9c-1bb7bc9eca94",
    "location": "s3://b/wh/data.db/table",
    "last-sequence-number" : 1,
    "last-updated-ms": 1515100955770,
    "last-column-id": 1,
    "schemas": [
        {
            "schema-id" : 1,
            "type" : "struct",
            "fields" :[
                {
                    "id": 1,
                    "name": "struct_name",
                    "required": true,
                    "type": "fixed[1]"
                }
            ]
        }
    ],
    "current-schema-id" : 1,
    "partition-specs": [
        {
            "spec-id": 1,
            "fields": [
                {
                    "source-id": 4,
                    "field-id": 1000,
                    "name": "ts_day",
                    "transform": "day"
                }
            ]
        }
    ],
    "default-spec-id": 1,
    "last-partition-id": 1000,
    "properties": {
        "commit.retry.num-retries": "1"
    },
    "metadata-log": [
        {
            "metadata-file": "s3://bucket/.../v1.json",
            "timestamp-ms": 1515100
        }
    ],
    "sort-orders": [],
    "default-sort-order-id": 0
}
"""

ALL_PRIMITIVES = [
    "boolean", "int", "long", "float", "double", "decimal(9,2)", "date",
    "time", "timestamp", "timestamptz", "string", "uuid", "fixed[8]", "binary",
]


class TestTypes:
    @pytest.mark.parametrize("name", ALL_PRIMITIVES)
    def test_primitive_round_trip(self, name):
        # mirrors reference schema.rs:357-391 (all primitives round-trip)
        t = parse_type(name)
        assert type_to_json(t) == name

    def test_timestampz_alias_accepted(self):
        assert parse_type("timestampz") == IcePrimitive("timestamptz")

    def test_decimal_scale_overflow_rejected(self):
        # reference schema.rs:301-309: scale is u8
        with pytest.raises(ValueError):
            parse_type("decimal(1,1000)")

    def test_fixed_non_integer_rejected(self):
        # reference schema.rs:345-353
        with pytest.raises(ValueError):
            parse_type("fixed[0.1]")

    def test_unknown_primitive_rejected(self):
        with pytest.raises(ValueError):
            parse_type("varchar(10)")

    def test_non_struct_tag_rejected(self):
        # reference schema.rs:274-279
        with pytest.raises(ValueError):
            IceSchema.from_json({"schema-id": 1, "type": "map", "fields": []})

    def test_nested_list_round_trip(self):
        # reference schema.rs:426-433
        j = {"type": "list", "element-id": 3, "element-required": True, "element": "string"}
        assert type_to_json(parse_type(j)) == j

    def test_nested_map_round_trip(self):
        # reference schema.rs:446-455
        j = {
            "type": "map", "key-id": 4, "key": "string",
            "value-id": 5, "value-required": False, "value": "double",
        }
        assert type_to_json(parse_type(j)) == j

    def test_deep_nesting_round_trip(self):
        j = {
            "type": "struct",
            "fields": [
                {"id": 1, "name": "m", "required": False, "type": {
                    "type": "map", "key-id": 2, "key": "string", "value-id": 3,
                    "value-required": True, "value": {
                        "type": "list", "element-id": 4, "element-required": False,
                        "element": {"type": "struct", "fields": [
                            {"id": 5, "name": "x", "required": True, "type": "decimal(10,3)",
                             "doc": "inner"},
                        ]},
                    },
                }},
            ],
        }
        assert type_to_json(parse_type(j)) == j

    def test_spark_mapping(self):
        assert ice_to_spark(parse_type("long")) == T.LongType()
        assert ice_to_spark(parse_type("timestamp")) == T.TimestampNTZType()
        assert ice_to_spark(parse_type("timestamptz")) == T.TimestampType()
        assert ice_to_spark(parse_type("decimal(10,2)")) == T.DecimalType(10, 2)
        assert ice_to_spark(parse_type("uuid")) == T.StringType()
        assert ice_to_spark(parse_type("time")) == T.LongType()
        assert ice_to_spark(parse_type("fixed[16]")) == T.BinaryType()

    def test_spark_round_trip_via_ice(self):
        st_ = T.StructType([
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.ArrayType(T.StringType(), True), True),
            T.StructField("c", T.MapType(T.StringType(), T.DoubleType(), True), True),
        ])
        ice = spark_to_ice(st_)
        back = ice_to_spark(ice)
        # nullability + shape preserved
        assert [f.name for f in back.fields] == ["a", "b", "c"]
        assert back["a"].dataType == T.LongType() and not back["a"].nullable


class TestTransforms:
    @pytest.mark.parametrize(
        "s", ["void", "identity", "year", "month", "day", "hour", "bucket[16]", "truncate[4]"]
    )
    def test_round_trip(self, s):
        # mirrors reference partition.rs:163-189 (all 8 transforms)
        assert Transform.parse(s).to_json() == s

    def test_invalid_rejected(self):
        for bad in ("bucket[a]", "truncate[]", "bucketing", "year2", ""):
            with pytest.raises(ValueError):
                Transform.parse(bad)

    def test_spec_round_trip(self):
        spec = PartitionSpec(
            spec_id=1,
            fields=(PartitionField(4, 1000, "ts_day", Transform.parse("day")),),
        )
        assert PartitionSpec.from_json(spec.to_json()) == spec


class TestSort:
    def test_round_trip(self):
        # mirrors reference sort.rs:67-100 (bucket[4], desc, nulls-last)
        j = {
            "order-id": 1,
            "fields": [
                {"source-id": 2, "transform": "bucket[4]",
                 "direction": "desc", "null-order": "nulls-last"},
            ],
        }
        assert SortOrder.from_json(j).to_json() == j

    def test_invalid_direction_rejected(self):
        with pytest.raises(ValueError):
            SortField(1, Transform.parse("identity"), "up", "nulls-first")

    def test_unsorted_is_order_zero(self):
        # reference sort.rs:53: order id 0 = unsorted
        assert SortOrder(order_id=0).is_unsorted


class TestSnapshot:
    def test_round_trip_with_refs(self):
        # mirrors reference snapshot.rs:111-173 (snapshot + branch/tag refs)
        snap = Snapshot(
            snapshot_id=3051729675574597004,
            sequence_number=0,
            timestamp_ms=1515100955770,
            manifest_list="s3://b/wh/.../snap-1.json",
            summary={"operation": "append"},
            schema_id=0,
        )
        assert Snapshot.from_json(snap.to_json()) == snap
        branch = Reference(
            snapshot_id=1, type="branch",
            min_snapshots_to_keep=10, max_snapshot_age_ms=604800000,
        )
        assert Reference.from_json(branch.to_json()) == branch
        tag = Reference(snapshot_id=1, type="tag", max_ref_age_ms=10000000)
        assert Reference.from_json(tag.to_json()) == tag

    def test_unknown_operation_rejected(self):
        with pytest.raises(ValueError):
            Snapshot.from_json({
                "snapshot-id": 1, "sequence-number": 0, "timestamp-ms": 0,
                "manifest-list": "x", "summary": {"operation": "compact-ish"},
            })

    def test_tag_with_branch_retention_rejected(self):
        with pytest.raises(ValueError):
            Reference(snapshot_id=1, type="tag", min_snapshots_to_keep=3)


class TestTableMetadata:
    def test_reference_fixture_parses_and_round_trips(self):
        md = TableMetadata.from_json_str(FULL_METADATA_JSON)
        assert md.table_uuid == "fb072c92-a02b-11e9-ae9c-1bb7bc9eca94"
        assert md.location == "s3://b/wh/data.db/table"
        assert md.properties["commit.retry.num-retries"] == "1"
        assert md.current_schema().field_by_id(1).type == IcePrimitive("fixed[1]")
        assert md.default_spec().fields[0].transform == Transform.parse("day")
        # full round-trip equality (reference table.rs:162-165)
        assert TableMetadata.from_json(md.to_json()) == md

    def test_v1_rejected(self):
        # reference table.rs:182-190
        bad = json.loads(FULL_METADATA_JSON)
        bad["format-version"] = 1
        with pytest.raises(ValueError):
            TableMetadata.from_json(bad)

    def test_invalid_uuid_rejected(self):
        # reference table.rs:171-180
        bad = json.loads(FULL_METADATA_JSON)
        bad["table-uuid"] = "xxxx"
        with pytest.raises(ValueError):
            TableMetadata.from_json(bad)


# ---------------------------------------------------------------------------
# Property-based round-trips (reference uses proptest — sort.rs:103-171)
# ---------------------------------------------------------------------------

transforms_st = st.one_of(
    st.sampled_from(["void", "identity", "year", "month", "day", "hour"]),
    st.integers(min_value=0, max_value=2**32 - 1).map(lambda n: f"bucket[{n}]"),
    st.integers(min_value=0, max_value=2**32 - 1).map(lambda w: f"truncate[{w}]"),
)

sort_fields_st = st.builds(
    SortField,
    source_id=st.integers(min_value=1, max_value=1000),
    transform=transforms_st.map(Transform.parse),
    direction=st.sampled_from(["asc", "desc"]),
    null_order=st.sampled_from(["nulls-first", "nulls-last"]),
)


@settings(max_examples=200, deadline=None)
@given(transforms_st)
def test_transform_round_trip_prop(s):
    assert Transform.parse(s).to_json() == s


@settings(max_examples=100, deadline=None)
@given(st.lists(sort_fields_st, min_size=1, max_size=10), st.integers(1, 100))
def test_sort_order_round_trip_prop(fields, order_id):
    so = SortOrder(order_id=order_id, fields=tuple(fields))
    assert SortOrder.from_json(so.to_json()) == so


primitive_names_st = st.one_of(
    st.sampled_from(ALL_PRIMITIVES),
    st.tuples(st.integers(1, 38), st.integers(0, 38)).map(lambda ps: f"decimal({ps[0]},{ps[1]})"),
    st.integers(1, 4096).map(lambda l: f"fixed[{l}]"),
)


@settings(max_examples=200, deadline=None)
@given(primitive_names_st)
def test_primitive_round_trip_prop(name):
    assert type_to_json(parse_type(name)) == name


# ---------------------------------------------------------------------------
# Per-case behavior of the model's mappings, validators and accessors
# ---------------------------------------------------------------------------


class TestSparkMapping:
    @pytest.mark.parametrize(
        "name, spark_type",
        [
            ("boolean", T.BooleanType()),
            ("int", T.IntegerType()),
            ("long", T.LongType()),
            ("float", T.FloatType()),
            ("double", T.DoubleType()),
            ("decimal(9,2)", T.DecimalType(9, 2)),
            ("date", T.DateType()),
            ("time", T.LongType()),
            ("timestamp", T.TimestampNTZType()),
            ("timestamptz", T.TimestampType()),
            ("string", T.StringType()),
            ("uuid", T.StringType()),
            ("fixed[8]", T.BinaryType()),
            ("binary", T.BinaryType()),
        ],
    )
    def test_primitive_to_spark(self, name, spark_type):
        assert name in ALL_PRIMITIVES
        assert ice_to_spark(parse_type(name)) == spark_type

    @pytest.mark.parametrize(
        "spark_type, name",
        [
            (T.BooleanType(), "boolean"),
            (T.ByteType(), "int"),
            (T.ShortType(), "int"),
            (T.IntegerType(), "int"),
            (T.LongType(), "long"),
            (T.FloatType(), "float"),
            (T.DoubleType(), "double"),
            (T.DecimalType(10, 2), "decimal(10,2)"),
            (T.DateType(), "date"),
            (T.TimestampNTZType(), "timestamp"),
            (T.TimestampType(), "timestamptz"),
            (T.StringType(), "string"),
            (T.BinaryType(), "binary"),
        ],
    )
    def test_spark_to_primitive(self, spark_type, name):
        assert spark_to_ice(spark_type) == IcePrimitive(name)

    @pytest.mark.parametrize(
        "spark_type",
        [T.NullType(), T.DayTimeIntervalType(), T.YearMonthIntervalType(), T.CharType(4)],
        ids=["null", "day_time_interval", "year_month_interval", "char"],
    )
    def test_unmapped_spark_type_rejected(self, spark_type):
        with pytest.raises(ValueError, match="no Iceberg mapping"):
            spark_to_ice(spark_type)

    @pytest.mark.parametrize("required", [True, False])
    def test_list_element_nullability(self, required):
        t = IceList(element_id=1, element_required=required, element=IcePrimitive("int"))
        assert ice_to_spark(t) == T.ArrayType(T.IntegerType(), containsNull=not required)

    @pytest.mark.parametrize("required", [True, False])
    def test_map_value_nullability(self, required):
        t = IceMap(
            key_id=1, key=IcePrimitive("string"),
            value_id=2, value_required=required, value=IcePrimitive("double"),
        )
        assert ice_to_spark(t) == T.MapType(
            T.StringType(), T.DoubleType(), valueContainsNull=not required
        )

    @pytest.mark.parametrize(
        "name, marker",
        [("time", "time"), ("uuid", "uuid"), ("fixed[4]", "fixed[4]"),
         ("long", None), ("string", None)],
    )
    def test_gap_type_marker_in_field_metadata(self, name, marker):
        # Spark has no time/uuid/fixed type: the struct field keeps the
        # Iceberg name so the original type survives a Spark round trip.
        st_ = ice_to_spark(IceStruct((IceField(7, "c", False, parse_type(name)),)))
        assert st_["c"].metadata.get("iceberg.type") == marker
        assert st_["c"].metadata["iceberg.id"] == 7

    def test_doc_travels_as_comment_both_ways(self):
        ice = IceStruct((IceField(1, "a", True, IcePrimitive("long"), doc="the key"),))
        spark_st = ice_to_spark(ice)
        assert spark_st["a"].metadata["comment"] == "the key"
        assert not spark_st["a"].nullable
        assert spark_to_ice(spark_st) == ice

    def test_ids_assigned_top_down_then_depth_first(self):
        st_ = T.StructType([
            T.StructField("a", T.StructType([T.StructField("x", T.LongType())])),
            T.StructField("b", T.ArrayType(T.StringType())),
            T.StructField("c", T.MapType(T.StringType(), T.ArrayType(T.IntegerType()))),
        ])
        ice = spark_to_ice(st_)
        a, b, c = ice.fields
        # The three direct fields take ids 1-3 before any nested id.
        assert (a.id, b.id, c.id) == (1, 2, 3)
        assert a.type.fields[0].id == 4
        assert b.type.element_id == 5
        assert (c.type.key_id, c.type.value_id, c.type.value.element_id) == (6, 7, 8)
        assert max_field_id(ice) == 8


class TestPrimitiveParsing:
    @pytest.mark.parametrize(
        "raw, canonical",
        [("decimal(10, 2)", "decimal(10,2)"), ("decimal(010,02)", "decimal(10,2)"),
         ("fixed[008]", "fixed[8]"), ("decimal(38,38)", "decimal(38,38)")],
    )
    def test_parameterized_forms_canonicalised(self, raw, canonical):
        assert type_to_json(parse_type(raw)) == canonical

    @pytest.mark.parametrize(
        "bad",
        ["decimal(39,0)", "decimal(a,b)", "decimal", "decimal(10)",
         "fixed[]", "fixed[-1]", "fixed"],
    )
    def test_malformed_parameterized_rejected(self, bad):
        with pytest.raises(ValueError):
            parse_type(bad)

    @pytest.mark.parametrize("tag", ["union", None])
    def test_unknown_nested_tag_rejected(self, tag):
        with pytest.raises(ValueError, match="unknown nested type tag"):
            parse_type({"type": tag})

    @pytest.mark.parametrize("obj", [5, None, ["int"]], ids=["int", "none", "list"])
    def test_non_json_type_rejected(self, obj):
        with pytest.raises(ValueError, match="cannot parse type"):
            parse_type(obj)

    @pytest.mark.parametrize(
        "name, precision_scale, length",
        [("decimal(10,2)", (10, 2), None), ("fixed[16]", None, 16),
         ("long", None, None), ("binary", None, None)],
    )
    def test_primitive_parameters(self, name, precision_scale, length):
        p = parse_type(name)
        assert p.decimal_precision_scale == precision_scale
        assert p.fixed_length == length


class TestMaxFieldId:
    @pytest.mark.parametrize(
        "t, expected",
        [
            (IcePrimitive("long"), 0),
            (IceStruct(), 0),
            (IceStruct((IceField(3, "a", True, IcePrimitive("int")),
                        IceField(9, "b", True, IcePrimitive("int")))), 9),
            (IceList(12, True, IcePrimitive("int")), 12),
            (IceMap(2, IcePrimitive("string"), 3, False,
                    IceStruct((IceField(40, "z", False, IcePrimitive("int")),))), 40),
        ],
        ids=["primitive", "empty_struct", "struct", "list", "map_nested_struct"],
    )
    def test_max_field_id(self, t, expected):
        assert max_field_id(t) == expected


class TestTransformParts:
    @pytest.mark.parametrize(
        "s, kind, param",
        [("void", "void", None), ("identity", "identity", None), ("year", "year", None),
         ("month", "month", None), ("day", "day", None), ("hour", "hour", None),
         ("bucket[16]", "bucket", 16), ("truncate[4]", "truncate", 4)],
    )
    def test_kind_and_param(self, s, kind, param):
        t = Transform.parse(s)
        assert (t.kind, t.param) == (kind, param)

    @pytest.mark.parametrize(
        "bad", ["bucket[-1]", "Bucket[4]", "identity ", "truncate[4", "day[1]", "hours"]
    )
    def test_invalid_rejected(self, bad):
        with pytest.raises(ValueError, match="invalid transform"):
            Transform.parse(bad)

    def test_bucket_width_canonicalised(self):
        assert Transform.parse("bucket[007]").to_json() == "bucket[7]"

    @pytest.mark.parametrize(
        "transforms, unpartitioned",
        [((), True), (("void",), True), (("void", "identity"), False), (("day",), False)],
        ids=["no_fields", "void_only", "void_and_identity", "day"],
    )
    def test_is_unpartitioned(self, transforms, unpartitioned):
        spec = PartitionSpec(
            spec_id=0,
            fields=tuple(
                PartitionField(i + 1, 1000 + i, f"p{i}", Transform.parse(t))
                for i, t in enumerate(transforms)
            ),
        )
        assert spec.is_unpartitioned is unpartitioned

    def test_field_with_bad_transform_rejected(self):
        with pytest.raises(ValueError):
            PartitionField.from_json(
                {"source-id": 1, "field-id": 1000, "name": "p", "transform": "bucket"}
            )


_DIR_NULLS = [("asc", "nulls-first"), ("asc", "nulls-last"),
              ("desc", "nulls-first"), ("desc", "nulls-last")]


class TestSortFields:
    def test_invalid_null_order_rejected(self):
        with pytest.raises(ValueError, match="null order"):
            SortField(1, Transform.parse("identity"), "asc", "nulls-middle")

    @pytest.mark.parametrize("direction, null_order", _DIR_NULLS)
    def test_round_trip(self, direction, null_order):
        f = SortField(3, Transform.parse("truncate[2]"), direction, null_order)
        assert SortField.from_json(f.to_json()) == f

    @pytest.mark.parametrize(
        "order_id, n_fields, unsorted", [(0, 1, True), (5, 0, True), (5, 1, False)]
    )
    def test_is_unsorted(self, order_id, n_fields, unsorted):
        fields = (SortField(1, Transform.parse("identity"), "asc", "nulls-first"),) * n_fields
        assert SortOrder(order_id=order_id, fields=fields).is_unsorted is unsorted

    @pytest.mark.parametrize("direction, null_order", _DIR_NULLS)
    def test_apply_orders_rows(self, spark, direction, null_order):
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(2,), (None,), (1,), (3,)], "v int")
        f = SortField(1, Transform.parse("identity"), direction, null_order)
        got = [r.v for r in df.orderBy(f.apply(F.col("v"))).collect()]
        values = sorted([1, 2, 3], reverse=direction == "desc")
        expected = [None] + values if null_order == "nulls-first" else values + [None]
        assert got == expected


class TestSnapshotFields:
    @pytest.mark.parametrize("op", ["append", "replace", "overwrite", "delete"])
    def test_every_operation_accepted(self, op):
        snap = Snapshot.from_json({
            "snapshot-id": 1, "sequence-number": 0, "timestamp-ms": 0,
            "manifest-list": "x", "summary": {"operation": op},
        })
        assert snap.operation == op

    def test_missing_operation_is_none(self):
        snap = Snapshot.from_json({
            "snapshot-id": 1, "sequence-number": 0, "timestamp-ms": 0, "manifest-list": "x",
        })
        assert snap.operation is None and snap.summary == {}

    def test_unset_optionals_omitted_from_json(self):
        j = Snapshot(1, 0, 0, "x").to_json()
        assert "parent-snapshot-id" not in j and "schema-id" not in j

    def test_parent_round_trip(self):
        snap = Snapshot(2, 1, 10, "y", parent_snapshot_id=1, summary={"operation": "delete"})
        assert Snapshot.from_json(snap.to_json()) == snap

    @pytest.mark.parametrize("bad", ["Branch", "head", ""])
    def test_invalid_ref_type_rejected(self, bad):
        with pytest.raises(ValueError, match="branch|tag"):
            Reference(snapshot_id=1, type=bad)

    def test_tag_with_snapshot_age_rejected(self):
        with pytest.raises(ValueError):
            Reference(snapshot_id=1, type="tag", max_snapshot_age_ms=1000)

    def test_branch_json_omits_unset_retention(self):
        assert Reference(snapshot_id=4, type="branch").to_json() == {
            "snapshot-id": 4, "type": "branch",
        }


def _schema() -> IceSchema:
    return IceSchema(
        schema_id=3,
        struct=IceStruct((
            IceField(1, "id", True, IcePrimitive("long")),
            IceField(2, "name", False, IcePrimitive("string"), doc="display name"),
        )),
        identifier_field_ids=(1,),
        name_mapping=(NameMapping(1, ("id", "rid")), NameMapping(2, ("name",))),
    )


class TestSchema:
    def test_name_mapping_round_trip(self):
        m = NameMapping(field_id=5, names=("a", "alias_a"))
        assert m.to_json() == {"field-id": 5, "names": ["a", "alias_a"]}
        assert NameMapping.from_json(m.to_json()) == m

    def test_round_trip_with_identifiers_and_mapping(self):
        s = _schema()
        j = s.to_json()
        assert j["identifier-field-ids"] == [1]
        assert IceSchema.from_json(j) == s

    def test_unset_optionals_omitted_from_json(self):
        j = IceSchema(schema_id=0, struct=IceStruct()).to_json()
        assert j == {"type": "struct", "schema-id": 0, "fields": []}

    def test_lookup_by_id_and_name(self):
        s = _schema()
        assert s.field_by_id(2).name == "name"
        assert s.field_by_name("id").id == 1
        assert s.column_names() == ["id", "name"]

    @pytest.mark.parametrize("lookup", ["id", "name"])
    def test_missing_field_is_none(self, lookup):
        s = _schema()
        assert (s.field_by_id(99) if lookup == "id" else s.field_by_name("nope")) is None

    def test_to_spark_carries_field_ids(self):
        sp = _schema().to_spark()
        assert [f.metadata["iceberg.id"] for f in sp.fields] == [1, 2]
        assert not sp["id"].nullable and sp["name"].nullable


def _md_with_history() -> TableMetadata:
    base = TableMetadata.from_json_str(FULL_METADATA_JSON)
    snaps = (
        Snapshot(11, 1, 1000, "m1", summary={"operation": "append"}),
        Snapshot(12, 2, 2000, "m2", parent_snapshot_id=11, summary={"operation": "overwrite"}),
    )
    return base.evolve(
        snapshots=snaps,
        current_snapshot_id=12,
        snapshot_log=(SnapshotLogEntry(11, 1000), SnapshotLogEntry(12, 2000)),
        refs={"v1": Reference(snapshot_id=11, type="tag")},
    )


class TestTableAccessors:
    @pytest.mark.parametrize(
        "ts, snapshot_id",
        [(1000, 11), (1500, 11), (2000, 12), (10**12, 12)],
        ids=["at_first", "between", "at_second", "after_last"],
    )
    def test_snapshot_as_of(self, ts, snapshot_id):
        assert _md_with_history().snapshot_as_of(ts).snapshot_id == snapshot_id

    def test_snapshot_as_of_before_history_raises(self):
        with pytest.raises(KeyError):
            _md_with_history().snapshot_as_of(999)

    def test_unknown_snapshot_id_raises(self):
        with pytest.raises(KeyError):
            _md_with_history().snapshot_by_id(13)

    def test_main_defaults_to_current_snapshot(self):
        main = _md_with_history().ref("main")
        assert (main.snapshot_id, main.type) == (12, "branch")

    def test_explicit_main_ref_wins(self):
        md = _md_with_history()
        md = md.evolve(refs={**md.refs, "main": Reference(snapshot_id=11, type="branch")})
        assert md.ref("main").snapshot_id == 11

    def test_named_tag(self):
        assert _md_with_history().ref("v1") == Reference(snapshot_id=11, type="tag")

    def test_unknown_ref_raises(self):
        with pytest.raises(KeyError):
            _md_with_history().ref("dev")

    def test_main_without_snapshots_raises(self):
        with pytest.raises(KeyError, match="no snapshots"):
            TableMetadata.from_json_str(FULL_METADATA_JSON).ref("main")

    @pytest.mark.parametrize(
        "change, accessor",
        [({"current_schema_id": 7}, "current_schema"),
         ({"default_spec_id": 7}, "default_spec"),
         ({}, "default_sort_order")],
        ids=["schema", "spec", "sort_order"],
    )
    def test_dangling_default_id_raises(self, change, accessor):
        # The fixture lists no sort orders, so its default order id 0
        # already dangles.
        md = TableMetadata.from_json_str(FULL_METADATA_JSON).evolve(**change)
        with pytest.raises(KeyError):
            getattr(md, accessor)()

    def test_evolve_leaves_original_unchanged(self):
        md = TableMetadata.from_json_str(FULL_METADATA_JSON)
        md2 = md.evolve(last_sequence_number=9)
        assert (md.last_sequence_number, md2.last_sequence_number) == (1, 9)

    def test_history_round_trip(self):
        md = _md_with_history()
        assert md.to_json()["current-snapshot-id"] == 12
        assert TableMetadata.from_json(md.to_json()) == md

    def test_no_current_snapshot_omitted_from_json(self):
        md = TableMetadata.from_json_str(FULL_METADATA_JSON)
        assert "current-snapshot-id" not in md.to_json()

    @pytest.mark.parametrize("fv", [None, 3, "2"], ids=["missing", "v3", "string"])
    def test_other_format_versions_rejected(self, fv):
        bad = json.loads(FULL_METADATA_JSON)
        if fv is None:
            del bad["format-version"]
        else:
            bad["format-version"] = fv
        with pytest.raises(ValueError, match="format-version"):
            TableMetadata.from_json(bad)

    def test_property_values_coerced_to_strings(self):
        doc = json.loads(FULL_METADATA_JSON)
        doc["properties"] = {"write.target-file-size-bytes": 1024, "flag": True}
        md = TableMetadata.from_json(doc)
        assert md.properties == {"write.target-file-size-bytes": "1024", "flag": "True"}

    def test_optional_sections_default_empty(self):
        doc = json.loads(FULL_METADATA_JSON)
        for key in ("properties", "metadata-log", "sort-orders", "default-sort-order-id"):
            del doc[key]
        md = TableMetadata.from_json(doc)
        assert md.properties == {} and md.metadata_log == () and md.sort_orders == ()
        assert md.default_sort_order_id == 0
        assert md.snapshots == () and md.snapshot_log == () and md.refs == {}
