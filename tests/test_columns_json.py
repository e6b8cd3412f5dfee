"""functions/columns.py and operators/json_ops.py unit tests, including
the urllib.parse.quote parity sweep the round-1 advice asked for."""

from __future__ import annotations

import urllib.parse

import pytest
from pyspark.sql import functions as F

from tf_prisma_api_data_ingestion_spark.functions.columns import (
    derive_ts_columns,
    url_encode_path,
    with_literal_columns,
)
from tf_prisma_api_data_ingestion_spark.operators.json_ops import (
    array_first,
    flatten_array_of_structs,
    json_rows,
    parse_json_col,
    select_json_fields,
)

TRICKY = [
    "a b+c/d", "~user/*glob*", "100% sure?", "x&y=z", "a,b;c:d",
    "paren(the)sis", "quote'this\"", "<tag>", "[idx]", "@at!bang",
    "Amazon EC2", "unicode-café", "trailing space ", "#frag",
]


def test_url_encode_path_parity_with_urllib_quote(spark):
    df = spark.createDataFrame([(s,) for s in TRICKY], "s STRING")
    got = [r.e for r in df.select(url_encode_path(F.col("s")).alias("e")).collect()]
    want = [urllib.parse.quote(s) for s in TRICKY]
    assert got == want


def test_derive_ts_columns(spark):
    df = spark.createDataFrame([(1718000000000,)], "ts_ms LONG")
    got = derive_ts_columns(df, {"ts_ms": "t"}).first()
    assert got.t == "2024-06-10 06:13:20"  # UTC session timezone


def test_with_literal_columns(spark):
    df = spark.createDataFrame([(1,)], "id INT")
    got = with_literal_columns(df, {"a": "x", "n": 7}).first()
    assert got.a == "x" and got.n == 7


def test_flatten_array_of_structs(spark):
    df = spark.createDataFrame(
        [(1, [{"s": "ec2", "c": 3}, {"s": "s3", "c": 1}])],
        "id INT, aggs ARRAY<STRUCT<s STRING, c INT>>")
    got = flatten_array_of_structs(df, "aggs").collect()
    assert [(r.id, r.s, r.c) for r in got] == [(1, "ec2", 3), (1, "s3", 1)]


def test_array_first_null_safe_on_empty(spark):
    df = spark.createDataFrame([(1, ["g1"]), (2, [])],
                               "id INT, groups ARRAY<STRING>")
    got = {r.id: r.g for r in
           df.select("id", array_first("groups").alias("g")).collect()}
    assert got == {1: "g1", 2: None}  # reference IndexErrors here (§2.5.6)


def test_parse_json_and_select_fields(spark):
    df = spark.createDataFrame([(1, '{"k": 42, "v": "x"}')], "id INT, j STRING")
    parsed = parse_json_col(df, "j", "k INT, v STRING").first()
    assert parsed.parsed.k == 42
    got = select_json_fields(df, "j", "k INT, v STRING", ["k"], keep=["id"]).first()
    assert (got.id, got.k) == (1, 42)


def test_parse_json_corrupt_is_null_not_crash(spark):
    df = spark.createDataFrame([(1, "not json at all")], "id INT, j STRING")
    got = parse_json_col(df, "j", "k INT").first()
    assert got.parsed is None or got.parsed.k is None


def test_variant_schemaless_parse_and_typed_get(spark):
    from tf_prisma_api_data_ingestion_spark.operators.json_ops import (
        variant_field,
        variant_json_col,
    )
    # heterogeneous payloads: a fixed from_json schema would null row 2's
    # extra field and row 3 entirely; Variant keeps everything navigable
    df = spark.createDataFrame(
        [(1, '{"k": 7}'), (2, '{"k": 8, "extra": [1, 2]}'),
         (3, "not json"), (4, None)],
        "id INT, j STRING")
    v = variant_json_col(df, "j", out="v")
    got = {r.id: r.k for r in
           v.select("id", variant_field("v", "$.k", "int").alias("k")).collect()}
    assert got == {1: 7, 2: 8, 3: None, 4: None}
    arr = v.filter("id = 2").select(
        variant_field("v", "$.extra[1]", "int").alias("e")).first()
    assert arr.e == 2


def test_variant_type_drift_is_null_not_crash(spark):
    # a type-drifted field must null out row-locally, never fail the job
    from tf_prisma_api_data_ingestion_spark.operators.json_ops import (
        variant_field,
        variant_json_col,
    )
    df = spark.createDataFrame(
        [(1, '{"k": 7}'), (2, '{"k": [1, 2]}'), (3, '{"k": {"x": 1}}')],
        "id INT, j STRING")
    v = variant_json_col(df, "j", out="v")
    got = {r.id: r.k for r in
           v.select("id", variant_field("v", "$.k", "int").alias("k")).collect()}
    assert got == {1: 7, 2: None, 3: None}


def test_json_rows_object_and_list(spark):
    ddl = "a LONG, b STRING"
    one = json_rows(spark, {"a": 1, "b": "x", "unknown": [1]}, ddl)
    assert one.schema.simpleString() == "struct<a:bigint,b:string>"
    assert [tuple(r) for r in one.collect()] == [(1, "x")]
    many = json_rows(spark, [{"a": 1, "b": "x"}, {"b": "y"}], ddl)
    assert [tuple(r) for r in many.collect()] == [(1, "x"), (None, "y")]
    assert json_rows(spark, [], ddl).count() == 0


def test_json_rows_type_drift_fails_the_write(spark, tmp_path):
    """FAILFAST: a string in a LONG field fails the action that reads
    the frame; it never parses to a null row."""
    drifted = json_rows(spark, [{"a": 1}, {"a": "14"}], "a LONG")
    out = str(tmp_path / "drifted")
    with pytest.raises(Exception, match="(?i)malformed"):
        drifted.write.mode("overwrite").csv(out)
    with pytest.raises(Exception, match="(?i)malformed"):
        json_rows(spark, {"a": "x"}, "a LONG").collect()
