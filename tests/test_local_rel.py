"""Contract pins for functions/local_rel.local_rows (VERDICT r13 items 2-3,
ADVICE r13 items 1-2): the >512-row fallback must stay a SINGLE Python
partition (one worker round trip, not a defaultParallelism unpickle fleet),
top-level nullability must match the declared schema, malformed positional
rows must error instead of silently truncating, and the literal must equal
createDataFrame's rows and schema at a row-count-independent py4j cost."""

import datetime
import decimal

import pytest

from plenario_mapper_spark.functions.local_rel import _MAX_LITERAL_ROWS, local_rows


def test_large_fallback_is_one_python_partition(spark):
    n = _MAX_LITERAL_ROWS + 88
    df = local_rows(spark, [(i, f"s{i}") for i in range(n)], "a int, b string")
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == n
    # order preserved
    head = df.take(3)
    assert [r["a"] for r in head] == [0, 1, 2]


def test_nullability_matches_declared_schema(spark):
    ddl = "a int, b string"
    lit = local_rows(spark, [(1, "x")], ddl)
    classic = spark.createDataFrame([(1, "x")], ddl)
    assert [f.nullable for f in lit.schema.fields] == [
        f.nullable for f in classic.schema.fields
    ]
    assert lit.schema.simpleString() == classic.schema.simpleString()
    assert lit.collect() == classic.collect()


def test_empty_honors_non_nullable_schema(spark):
    from pyspark.sql import types as T

    nn = T.StructType(
        [
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b", T.StringType(), True),
        ]
    )
    df = local_rows(spark, [], nn)
    assert [f.nullable for f in df.schema.fields] == [False, True]
    assert df.count() == 0


def test_positional_arity_mismatch_raises(spark):
    with pytest.raises(Exception):
        local_rows(spark, [(1,)], "a int, b string").collect()
    with pytest.raises(Exception):
        local_rows(spark, [(1, "x", "extra")], "a int, b string").collect()


def test_pin_local_skips_already_local_frames(spark):
    from plenario_mapper_spark import metadata

    df = local_rows(spark, [("s1", {"k": "f.p"})], "name string, observed_properties map<string,string>")
    assert getattr(df, "_plenario_local", False)
    assert metadata._pin_local(df) is df

    classic = spark.createDataFrame([(1, "x")], "a int, b string")
    pinned = metadata._pin_local(classic)
    assert pinned is not classic
    assert getattr(pinned, "_plenario_local", False)
    assert pinned.collect() == classic.collect()


_FIDELITY_CASES = {
    "strings": (
        "s string",
        [("it's",), ("back\\slash",), ("ünïcødé ✓ 😀",), ("nl\nt\tab",), ("",), (None,),
         # the SQL parser's variable substitution must not reach a value
         ("${env:HOME}",), ("${spark.app.name}",), ("a${system:user.name}b",)],
    ),
    "int_bounds": (
        "i int, l bigint",
        [(2**31 - 1, 2**63 - 1), (-(2**31), -(2**63)), (0, None)],
    ),
    "double_bool_null": (
        "d double, ok boolean",
        [(-0.0, True), (1e308, False), (5e-324, None), (float("inf"), True), (None, None)],
    ),
    "date_ts_decimal_binary": (
        "dt date, ts timestamp, dec decimal(10,2), bin binary",
        [
            (datetime.date(2024, 2, 29), datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
             decimal.Decimal("12345678.90"), b"\x00\xffab"),
            (datetime.date(1900, 1, 1), datetime.datetime(1969, 12, 31, 23, 59, 59, 1),
             decimal.Decimal("-0.05"), bytearray(b"q'\\")),
            (None, None, None, None),
        ],
    ),
    "nested": (
        "m map<string,array<int>>, a array<struct<x:int,y:string>>, "
        "st struct<p:map<string,double>,q:array<string>>",
        [
            ({"k": [1, None, 3], "e": []}, [(1, "a"), None, {"x": 2, "y": None}],
             ({"z": 1.5}, ["u", None])),
            ({}, [], ({}, [])),
            (None, None, None),
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(_FIDELITY_CASES))
def test_literal_fidelity_matches_create_dataframe(spark, case):
    """The literal path (not its createDataFrame fallback) must give exactly
    createDataFrame's rows and schema — nested nullability included — and
    keep the same rows on the driver. repr compares -0.0, decimals and
    timestamps exactly."""
    ddl, rows = _FIDELITY_CASES[case]
    lit = local_rows(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert getattr(lit, "_plenario_local", False), "fell back to createDataFrame"
    assert lit.schema == ref.schema
    got = lit.collect()
    assert repr(got) == repr(ref.collect())
    # == here: collect() returns maps in hash order
    assert lit._plenario_rows == got


def test_literal_py4j_calls_do_not_grow_with_rows(spark):
    """The literal is one serialized SQL text: building it for 500 rows costs
    the same py4j round trips as for 1 row (the per-value Column form cost
    several per value)."""
    from tests.conftest import count_py4j_calls

    ddl = "name string, observed_properties map<string,string>"

    def calls(n: int) -> int:
        rows = [(f"s{i}", {"k": "f.p", "K'": None}) for i in range(n)]
        with count_py4j_calls(spark) as count:
            df = local_rows(spark, rows, ddl)
        assert getattr(df, "_plenario_local", False)
        return count[0]

    one, many = calls(1), calls(500)
    assert abs(many - one) <= 2, (one, many)


def test_dollar_field_name_falls_back(spark):
    """A field name is the one piece of text the literal does not hex-encode;
    one holding `$` takes the createDataFrame route, names intact."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("${spark.app.name}", T.StringType())])
    df = local_rows(spark, [("v",)], schema)
    assert not getattr(df, "_plenario_local", False)
    assert df.columns == ["${spark.app.name}"]
    assert df.collect() == spark.createDataFrame([("v",)], schema).collect()
