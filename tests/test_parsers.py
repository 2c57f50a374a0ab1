"""Parser golden tests, modeled on the reference's parser_test.go fixtures
(FIXTURES.md F1): one JSON sample covering every coercion path, expected
values per (field x target type x nullable).
"""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from clickhouse_sinker_nali_spark import faithful
from clickhouse_sinker_nali_spark.parsers import (
    infer_internal_type,
    parse_csv,
    parse_json,
    with_parse_errors,
)
from clickhouse_sinker_nali_spark.schema import ColumnSpec, InternalType, TableSchema

UTC = dt.timezone.utc
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)

SAMPLE = {
    "null": None,
    "bool_true": True,
    "bool_false": False,
    "num_int": 123,
    "num_float": 123.321,
    "str": 'escaped_"ws',
    "str_int": "123",
    "str_float": "123.321",
    "str_date_1": "2009-07-13",
    "str_time_rfc3339_1": "2009-07-13T09:07:13Z",
    "str_time_rfc3339_2": "2009-07-13T09:07:13.123+08:00",
    "str_time_clickhouse_1": "2009-07-13 09:07:13",
    "str_time_clickhouse_2": "2009-07-13 09:07:13.123",
    "obj": {"i": [1, 2, 3], "f": [1.1, 2.2, 3.3], "s": ["aa", "bb", "cc"], "e": []},
    "array_empty": [],
    "array_null": [None],
    "array_bool": [True, False],
    "array_num_int": [-9223372036854775808, 0, 9223372036854775807],
    "array_num_float": [1.1, 2.2, 3.3],
    "array_str": ["aa", "bb", "cc"],
    "array_str_time": ["2009-07-13 09:07:13", "2009-07-14 09:07:13"],
}
SAMPLE_JSON = json.dumps(SAMPLE)


def _one_row_df(spark, value: str):
    return spark.createDataFrame([(value,)], ["value"])


def _parse_one(spark, specs, value=SAMPLE_JSON):
    schema = TableSchema(columns=specs)
    return parse_json(_one_row_df(spark, value), schema).collect()[0]


# ---------------------------------------------------------------------------
# faithful (bug-level) getter semantics — pure python, no Spark needed
# ---------------------------------------------------------------------------

class TestFaithfulGetters:
    def spec(self, ch, name="x", source=None):
        return ColumnSpec(name=name, ch_type=ch, source_name=source or "")

    @pytest.mark.parametrize(
        "field,ch,expected",
        [
            ("null", "Int64", 0),
            ("null", "Nullable(Int64)", None),
            ("bool_true", "Int64", 1),
            ("bool_false", "Int64", 0),
            ("num_int", "Int64", 123),
            ("num_float", "Int64", 0),      # float for Int target -> default
            ("str_int", "Int64", 0),        # fastjson: string token -> default
            ("num_int", "UInt8", 123),
            ("num_int", "Float64", 123.0),
            ("num_float", "Float64", 123.321),
            ("bool_true", "Float64", 0.0),  # bool rejected for Float target
            ("str", "String", 'escaped_"ws'),
            ("num_int", "String", "123"),   # raw JSON text
            ("bool_true", "String", "true"),
            ("null", "String", ""),
            ("null", "Nullable(String)", None),
            ("null", "UUID", faithful.ZERO_UUID),
            ("missing_key", "Int64", 0),
            ("missing_key", "Nullable(Float64)", None),
        ],
    )
    def test_scalar(self, field, ch, expected):
        got = faithful.coerce_value(SAMPLE.get(field), self.spec(ch))
        assert got == expected

    def test_string_target_serializes_object(self):
        got = faithful.coerce_value(SAMPLE["obj"], self.spec("String"))
        assert json.loads(got) == SAMPLE["obj"]

    def test_int_overflow_clamps(self):
        # reference clamps at the declared CH type's borders
        assert faithful.coerce_value(300, self.spec("UInt8")) == 255
        assert faithful.coerce_value(-1, self.spec("UInt8")) == 0
        assert faithful.coerce_value(2**40, self.spec("Int32")) == 2**31 - 1
        assert faithful.coerce_value(-(2**40), self.spec("Int32")) == -(2**31)

    @pytest.mark.parametrize(
        "value,expected_utc",
        [
            ("2009-07-13", dt.datetime(2009, 7, 13, tzinfo=UTC)),
            ("13/07/2009", dt.datetime(2009, 7, 13, tzinfo=UTC)),
            ("2009-07-13T09:07:13Z", dt.datetime(2009, 7, 13, 9, 7, 13, tzinfo=UTC)),
            (
                "2009-07-13T09:07:13.123+08:00",
                dt.datetime(2009, 7, 13, 1, 7, 13, 123000, tzinfo=UTC),
            ),
            ("2009-07-13 09:07:13", dt.datetime(2009, 7, 13, 9, 7, 13, tzinfo=UTC)),
            (
                "2009-07-13 09:07:13.123",
                dt.datetime(2009, 7, 13, 9, 7, 13, 123000, tzinfo=UTC),
            ),
            (1247475133, dt.datetime(2009, 7, 13, 8, 52, 13, tzinfo=UTC)),
            (-5, EPOCH),          # below Epoch -> clamp
            (2**33, EPOCH),       # above 2^32 s -> clamp
            ("not a date", EPOCH),
        ],
    )
    def test_datetime(self, value, expected_utc):
        got = faithful.coerce_value(value, self.spec("DateTime"))
        assert got == expected_utc

    def test_datetime_time_unit(self):
        # ms-scale input with time_unit 1e-3
        got = faithful.coerce_value(
            1247475133000, self.spec("DateTime"), time_unit=1e-3
        )
        assert got == dt.datetime(2009, 7, 13, 8, 52, 13, tzinfo=UTC)

    @pytest.mark.parametrize(
        "field,ch,expected",
        [
            ("array_empty", "Array(Int64)", []),
            ("array_null", "Array(Int64)", [0]),
            ("array_null", "Array(String)", [""]),
            ("array_bool", "Array(Int64)", [1, 0]),
            ("array_num_int", "Array(Int64)", [-(2**63), 0, 2**63 - 1]),
            ("array_num_float", "Array(Float64)", [1.1, 2.2, 3.3]),
            ("array_str", "Array(String)", ["aa", "bb", "cc"]),
            ("num_int", "Array(Int64)", []),  # non-array -> default
            ("array_str", "Array(Int64)", [0, 0, 0]),
        ],
    )
    def test_arrays(self, field, ch, expected):
        got = faithful.coerce_value(SAMPLE.get(field), self.spec(ch))
        assert got == expected

    def test_elastic_datetime(self):
        got = faithful.coerce_value("2009-07-13T09:07:13Z", self.spec("ElasticDateTime"))
        assert got == 1247476033

    def test_whole_message_unparseable(self):
        specs = [self.spec("Int64", name="a", source="a")]
        assert faithful.parse_message("{not json", specs) is None
        assert faithful.parse_message("[1,2,3]", specs) is None


# ---------------------------------------------------------------------------
# native (JVM) path — lenient; checks shared semantics on Spark
# ---------------------------------------------------------------------------

class TestNativeJsonParse:
    def test_scalars_and_defaults(self, spark):
        specs = [
            ColumnSpec(name="i", ch_type="Int64", source_name="num_int"),
            ColumnSpec(name="i_from_float", ch_type="Int64", source_name="num_float"),
            ColumnSpec(name="i_bool", ch_type="Int64", source_name="bool_true"),
            ColumnSpec(name="f", ch_type="Float64", source_name="num_float"),
            ColumnSpec(name="s", ch_type="String", source_name="str"),
            ColumnSpec(name="s_obj", ch_type="String", source_name="obj"),
            ColumnSpec(name="missing_int", ch_type="Int64", source_name="nope"),
            ColumnSpec(name="missing_nullable", ch_type="Nullable(Int64)", source_name="nope"),
            ColumnSpec(name="null_str", ch_type="String", source_name="null"),
        ]
        row = _parse_one(spark, specs)
        assert row.i == 123
        assert row.i_from_float == 0  # float rejected for Int target
        assert row.i_bool == 1
        assert row.f == pytest.approx(123.321)
        assert row.s == 'escaped_"ws'
        assert json.loads(row.s_obj) == SAMPLE["obj"]
        assert row.missing_int == 0
        assert row.missing_nullable is None
        assert row.null_str == ""

    def test_datetimes(self, spark):
        specs = [
            ColumnSpec(name="d1", ch_type="DateTime", source_name="str_date_1"),
            ColumnSpec(name="d2", ch_type="DateTime", source_name="str_time_rfc3339_2"),
            ColumnSpec(name="d3", ch_type="DateTime", source_name="str_time_clickhouse_2"),
            ColumnSpec(name="bad", ch_type="DateTime", source_name="str"),
            ColumnSpec(name="bad_nullable", ch_type="Nullable(DateTime)", source_name="str"),
        ]
        row = _parse_one(spark, specs)
        assert row.d1 == dt.datetime(2009, 7, 13)  # session tz = UTC
        assert row.d2 == dt.datetime(2009, 7, 13, 1, 7, 13, 123000)
        assert row.d3 == dt.datetime(2009, 7, 13, 9, 7, 13, 123000)
        assert row.bad == dt.datetime(1970, 1, 1)
        assert row.bad_nullable is None

    def test_arrays(self, spark):
        specs = [
            ColumnSpec(name="ab", ch_type="Array(Int64)", source_name="array_bool"),
            ColumnSpec(name="ai", ch_type="Array(Int64)", source_name="array_num_int"),
            ColumnSpec(name="af", ch_type="Array(Float64)", source_name="array_num_float"),
            ColumnSpec(name="as_", ch_type="Array(String)", source_name="array_str"),
            ColumnSpec(name="an", ch_type="Array(Int64)", source_name="array_null"),
            ColumnSpec(name="amiss", ch_type="Array(Int64)", source_name="nope"),
            ColumnSpec(name="at", ch_type="Array(DateTime)", source_name="array_str_time"),
        ]
        row = _parse_one(spark, specs)
        assert row.ab == [1, 0]
        assert row.ai == [-(2**63), 0, 2**63 - 1]
        assert row.af == pytest.approx([1.1, 2.2, 3.3])
        assert row.as_ == ["aa", "bb", "cc"]
        assert row.an == [0]
        assert row.amiss == []
        assert row.at[0] == dt.datetime(2009, 7, 13, 9, 7, 13)

    def test_nested_source_path(self, spark):
        specs = [
            ColumnSpec(name="inner", ch_type="Array(Int64)", source_name="obj.i"),
        ]
        row = _parse_one(spark, specs)
        assert row.inner == [1, 2, 3]

    def test_parse_error_flag(self, spark):
        df = spark.createDataFrame(
            [("{}",), ("{bad",), (SAMPLE_JSON,)], ["value"]
        )
        flagged = with_parse_errors(df)
        errs = {r.value: r["__parse_error"] for r in flagged.collect()}
        assert errs["{bad"] is True
        assert errs["{}"] is False
        assert errs[SAMPLE_JSON] is False

    def test_parse_error_flags_non_object_json(self, spark):
        # valid JSON that is not an OBJECT is still a parse error: the
        # reference parser returns nil for scalars/arrays and the row is
        # dropped-but-acked (faithful.parse_message parity)
        df = spark.createDataFrame(
            [("7",), ("[1,2,3]",), ('"str"',), ("{}",)], ["value"]
        )
        errs = {r.value: r["__parse_error"] for r in with_parse_errors(df).collect()}
        assert errs["7"] is True
        assert errs["[1,2,3]"] is True
        assert errs['"str"'] is True
        assert errs["{}"] is False

    def test_escaped_dot_nested_path(self, spark):
        # a nested path whose FIRST segment contains a literal dot must
        # produce a bracket segment directly after $ — "$.['a.b'].c" is
        # rejected by Spark's JsonPath parser and silently NULLs all rows
        specs = [
            ColumnSpec(
                name="deep", ch_type="Int64", source_name="meta\\.x.y"
            ),
        ]
        df = spark.createDataFrame(
            [('{"meta.x": {"y": 42}}',)], ["value"]
        )
        schema = TableSchema(columns=specs)
        row = parse_json(df, schema).collect()[0]
        assert row.deep == 42

    def test_no_metadata_passthrough(self, spark):
        # Kafka metadata reaches the output ONLY via explicit __kafka*
        # dims; silent topic/partition/offset passthrough broke JDBC
        # inserts into tables without those columns
        df = spark.createDataFrame(
            [("t1", 3, 42, '{"v": 1}')], ["topic", "partition", "offset", "value"]
        )
        schema = TableSchema.from_dims([{"name": "v", "type": "Int64"}])
        assert parse_json(df, schema).columns == ["v"]

    def test_conflicting_raw_types_fail_loudly(self, spark):
        # one source feeding both array and scalar raw-path targets would
        # silently mistype one of them under first-spec-wins
        specs = [
            ColumnSpec(name="raw", ch_type="String", source_name="my-tags"),
            ColumnSpec(
                name="tags", ch_type="Array(String)", source_name="my-tags"
            ),
        ]
        df = spark.createDataFrame([('{"my-tags": ["a"]}',)], ["value"])
        with pytest.raises(ValueError, match="array and scalar"):
            parse_json(df, TableSchema(columns=specs)).collect()

    def test_kafka_virtual_columns(self, spark):
        df = spark.createDataFrame(
            [("t1", 3, 42, '{"v": 1}')], ["topic", "partition", "offset", "value"]
        )
        schema = TableSchema.from_dims(
            [
                {"name": "v", "type": "Int64"},
                {"name": "__kafka_topic", "type": "String"},
                {"name": "__kafka_partition", "type": "Int64"},
                {"name": "__kafka_offset", "type": "Int64"},
            ]
        )
        row = parse_json(df, schema).collect()[0]
        assert (row.v, row["__kafka_topic"], row["__kafka_partition"], row["__kafka_offset"]) == (
            1, "t1", 3, 42,
        )


class TestCsvParse:
    def test_basic(self, spark):
        schema = TableSchema.from_dims(
            [
                {"name": "time", "type": "DateTime"},
                {"name": "name", "type": "String"},
                {"name": "value", "type": "Float64"},
                {"name": "tags", "type": "Array(String)"},
            ]
        )
        line = '2009-07-13 09:07:13,hello,1.5,"[""a"",""b""]"'
        df = spark.createDataFrame([(line,)], ["value"])
        row = parse_csv(df, schema, ["time", "name", "value", "tags"]).collect()[0]
        assert row.time == dt.datetime(2009, 7, 13, 9, 7, 13)
        assert row.name == "hello"
        assert row.value == 1.5
        assert row.tags == ["a", "b"]

    def test_missing_and_bad_cells(self, spark):
        schema = TableSchema.from_dims(
            [
                {"name": "a", "type": "Int64"},
                {"name": "b", "type": "Float64"},
                {"name": "not_in_csv", "type": "String"},
            ]
        )
        df = spark.createDataFrame([("xyz,,",)], ["value"])
        row = parse_csv(df, schema, ["a", "b", "c"]).collect()[0]
        assert row.a == 0
        assert row.b == 0.0
        assert row.not_in_csv == ""


# The three DateTime routes share one staging: a flat JSON field (variant
# path), a nested JSON path (raw-text path) and a CSV cell must agree on
# every layout, including those only the _clean-gated cascade matches.
@pytest.mark.parametrize(
    "text,expected",
    [
        ("2009-07-13 09:07:13", dt.datetime(2009, 7, 13, 9, 7, 13)),
        ("13/07/2009 09:07:13", dt.datetime(2009, 7, 13, 9, 7, 13)),
        ("Mon, 13 Jul 2009 09:07:13 GMT", dt.datetime(2009, 7, 13, 9, 7, 13)),
        ("Fri Jul  3 09:07:13 2009", dt.datetime(2009, 7, 3, 9, 7, 13)),
        ("Mon, 13 Jul 2009 09:07:13 -0700", dt.datetime(2009, 7, 13, 16, 7, 13)),
        ("not a time", dt.datetime(1970, 1, 1)),
    ],
)
def test_datetime_routes_agree(spark, text, expected):
    json_schema = TableSchema(
        columns=[
            ColumnSpec(name="flat", ch_type="DateTime", source_name="t"),
            ColumnSpec(name="nested", ch_type="DateTime", source_name="o.t"),
        ]
    )
    msg = json.dumps({"t": text, "o": {"t": text}})
    row = parse_json(_one_row_df(spark, msg), json_schema).collect()[0]
    csv_schema = TableSchema.from_dims([{"name": "cell", "type": "DateTime"}])
    line = '"' + text.replace('"', '""') + '",x'
    cell = parse_csv(_one_row_df(spark, line), csv_schema, ["cell", "pad"])
    assert (row.flat, row.nested, cell.collect()[0].cell) == (expected,) * 3


class TestTypeInference:
    @pytest.mark.parametrize(
        "value,expected",
        [
            (None, InternalType.UNKNOWN),
            (True, InternalType.INT),
            (123, InternalType.INT),
            (123.0, InternalType.INT),     # integral float -> Int
            (123.321, InternalType.FLOAT),
            ("hello", InternalType.STRING),
            ("2009-07-13 09:07:13", InternalType.DATETIME),
            ({"a": 1}, InternalType.STRING),
            ([], InternalType.UNKNOWN),
            ([None], InternalType.UNKNOWN),
            ([1, 2], InternalType.INT_ARRAY),
            ([1.5], InternalType.FLOAT_ARRAY),
            (["a"], InternalType.STRING_ARRAY),
            (["2009-07-13"], InternalType.DATETIME_ARRAY),
            ([{"a": 1}], InternalType.STRING_ARRAY),
        ],
    )
    def test_infer(self, value, expected):
        assert infer_internal_type(value) is expected
