"""Schema drift detection (operators/drift.py): every change kind,
nested recursion, the widening whitelist, and the batch-boundary
parquet gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    DateType,
)

from spotify_etl_aws_spark.operators.drift import (
    SchemaDriftError,
    _nullable_everywhere,
    assert_no_breaking_drift,
    diff_schemas,
)


def _s(*fields):
    return StructType(list(fields))


def test_added_removed_and_nullability():
    old = _s(
        StructField("a", IntegerType(), True),
        StructField("b", StringType(), True),
    )
    new = _s(
        StructField("a", IntegerType(), False),   # nullable -> required
        StructField("c", StringType(), True),     # added nullable
        StructField("d", StringType(), False),    # added required
    )
    by = {(c.path, c.kind): c for c in diff_schemas(old, new)}
    assert by[("c", "added")].breaking is False
    assert by[("d", "added")].breaking is True
    assert by[("b", "removed")].breaking is True
    assert by[("a", "nullability_changed")].breaking is True
    # the reverse direction: required -> nullable is compatible
    rev = {c.kind: c for c in diff_schemas(new, old) if c.path == "a"}
    assert rev["nullability_changed"].breaking is False


def test_widening_whitelist():
    cases = [
        (IntegerType(), LongType(), False),
        (IntegerType(), DoubleType(), False),
        (LongType(), IntegerType(), True),      # narrowing
        (DoubleType(), LongType(), True),
        (StringType(), IntegerType(), True),
        (DateType(), TimestampType(), False),
        (TimestampType(), DateType(), True),
        (DecimalType(10, 2), DecimalType(12, 2), False),
        (DecimalType(10, 2), DecimalType(12, 4), False),
        (DecimalType(12, 2), DecimalType(10, 2), True),
        (DecimalType(10, 2), DecimalType(11, 4), True),  # int digits shrink
    ]
    for old_t, new_t, breaking in cases:
        old = _s(StructField("x", old_t, True))
        new = _s(StructField("x", new_t, True))
        (c,) = diff_schemas(old, new)
        assert c.kind == "type_changed"
        assert c.breaking is breaking, (old_t, new_t)


def test_nested_struct_array_recursion():
    old = _s(
        StructField(
            "items",
            ArrayType(
                _s(
                    StructField("id", IntegerType(), True),
                    StructField("tag", StringType(), True),
                ),
                True,
            ),
            True,
        )
    )
    new = _s(
        StructField(
            "items",
            ArrayType(
                _s(
                    StructField("id", LongType(), True),      # widened
                    StructField("score", DoubleType(), True), # added
                ),
                True,
            ),
            True,
        )
    )
    by = {(c.path, c.kind): c for c in diff_schemas(old, new)}
    assert by[("items[].id", "type_changed")].breaking is False
    assert by[("items[].score", "added")].breaking is False
    assert by[("items[].tag", "removed")].breaking is True


def test_assert_raises_with_breaking_listing():
    old = _s(StructField("a", IntegerType(), True))
    new = _s(StructField("a", StringType(), True))
    with pytest.raises(SchemaDriftError, match=r"BREAKING.*a: int -> string"):
        assert_no_breaking_drift(old, new)
    # identical / additive-only passes and returns the change list
    assert assert_no_breaking_drift(old, old) == []
    add = _s(
        StructField("a", IntegerType(), True),
        StructField("b", StringType(), True),
    )
    changes = assert_no_breaking_drift(old, add)
    assert [c.kind for c in changes] == ["added"]


def _append_gate(spark, landed_path, batch):
    # the check incremental_bronze runs before each append
    return assert_no_breaking_drift(
        _nullable_everywhere(spark.read.parquet(landed_path).schema),
        _nullable_everywhere(batch.schema),
    )


def test_drift_gate_against_landed_parquet(spark, tmp_path):
    landed = str(tmp_path / "bronze")
    w1 = spark.range(5).select(
        F.col("id"), F.lit("x").alias("name")
    )
    w1.write.mode("overwrite").parquet(landed)
    # additive wave: extra column -> allowed, reported. The batch's
    # schema is all-non-nullable (literals, range id) — the gate must
    # not mistake that for required-ness drift vs the all-nullable
    # parquet footer schema.
    w2 = spark.range(5).select(
        F.col("id"), F.lit("y").alias("name"), F.lit(1.0).alias("score")
    )
    changes = _append_gate(spark, landed, w2)
    assert [(c.path, c.kind, c.breaking) for c in changes] == [
        ("score", "added", False)
    ]
    # breaking wave: name retyped -> refused before any write
    w3 = spark.range(5).select(F.col("id"), F.lit(3).alias("name"))
    with pytest.raises(SchemaDriftError):
        _append_gate(spark, landed, w3)
