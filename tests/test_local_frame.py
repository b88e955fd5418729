"""Driver-resident frames (core.frames.local_frame) and the HLL units'
tokenize-once plan.

``local_frame`` replaced every ``createDataFrame(<python list>, ddl)``
in the package: it must give the same rows and schema for every DDL
those call sites used, as a JVM ``LocalRelation`` with no RDD leaf.
The HLL counting units must tokenize each document once: no explode
generator may carry the tokenizer's ``regexp_replace``.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

from streamtasks_spark.core.frames import local_frame
from streamtasks_spark.media.container import (
    _PACKET_ROW_SCHEMA,
    PACKET_SCHEMA,
    packet_frame,
)
from streamtasks_spark.streaming.metrics import METRICS_SCHEMA

# every DDL a replaced createDataFrame(list, ddl) call site used
CALL_SITE_DDLS = [
    "__cell int, __cv array<double>, __cn double",           # cluster_prune twin
    "batch_id bigint, n_buckets_hit bigint, __est double",   # HLL twin report
    "batch_id bigint, token_total bigint, n_heavy_cells bigint",  # CMS twin
    METRICS_SCHEMA,                                          # metrics_df
    "ts double, samples array<double>",                      # capture
    _PACKET_ROW_SCHEMA,                                      # demux packets
    "__pos bigint",                                          # bloom history
    "node bigint, component bigint",                         # components
    "node string, component string",
    "word string, freq bigint, seq string",                  # BPE vocab
    "merge_rank int, x string, y string, merged string, cnt bigint",
    "__t string, __c bigint",                                # quality vocab
    "__b bigint, __ct bigint, __cr bigint",                  # DSIR counts
    "query_id bigint, doc_id bigint, cosine double, approx double, "
    "rank int",                                              # empty PQ result
    "__m int, __j int, __cv array<double>",                  # PQ codebooks
    "__cell long, __cv array<double>, __cn double",          # IVF centroids
]

_SAMPLE = {
    IntegerType: [7, -(2**31)],
    LongType: [2**40, -3],
    DoubleType: [0.5, -0.0],
    StringType: ["x y", ""],
    BinaryType: [b"\x00\xff", b""],
    BooleanType: [True, False],
}


def _value(dtype, i: int):
    if isinstance(dtype, ArrayType):
        return [_value(dtype.elementType, i), None, _value(dtype.elementType, 1)]
    return _SAMPLE[type(dtype)][i % 2]


def _rows(schema: StructType) -> list[tuple]:
    fields = schema.fields
    full = tuple(_value(f.dataType, 0) for f in fields)
    other = tuple(_value(f.dataType, 1) for f in fields)
    nulls = tuple(None for _ in fields)
    mixed = tuple(None if j % 2 else v for j, v in enumerate(full))
    return [full, other, nulls, mixed]


@pytest.mark.parametrize("ddl", CALL_SITE_DDLS)
def test_local_frame_matches_create_dataframe(spark, ddl):
    schema = StructType.fromDDL(ddl)
    for rows in (_rows(schema), []):
        got = local_frame(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()


def test_local_frame_is_a_jvm_local_relation(spark):
    df = local_frame(spark, [(1, "a"), (2, None)], "k bigint, v string")
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().startswith("LocalRelation"), (
        qe.analyzed().toString()
    )
    physical = qe.executedPlan().toString()
    assert "ExistingRDD" not in physical, physical
    assert "LocalTableScan" in physical, physical
    empty = local_frame(spark, [], StructType.fromDDL("k bigint"))
    assert "LocalRelation" in empty._jdf.queryExecution().analyzed().toString()


def test_packet_frame_converts_float_seconds(spark):
    # the rows a PyAV demux loop builds: ts = pts * time_base, a float,
    # which a timestamp column rejects outright
    rows = [
        ("audio0", 0.5, 0, 0.02, b"\x01\x02", True),
        ("video1", 1.25, 1, 0.04, b"", False),
    ]
    with pytest.raises(TypeError, match="float"):
        spark.createDataFrame(rows, PACKET_SCHEMA)
    df = packet_frame(spark, rows)
    assert df.schema == StructType.fromDDL(PACKET_SCHEMA)
    got = df.selectExpr(
        "track", "unix_micros(ts) AS us", "seq", "duration", "data",
        "is_keyframe",
    ).collect()
    assert [tuple(r) for r in got] == [
        ("audio0", 500_000, 0, 0.02, bytearray(b"\x01\x02"), True),
        ("video1", 1_250_000, 1, 0.04, bytearray(b""), False),
    ]
    assert packet_frame(spark, []).schema == StructType.fromDDL(PACKET_SCHEMA)


def _generators(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if "Generate " in ln]


def test_hll_units_tokenize_once_per_row(spark, tables):
    from streamtasks_spark.llmdata.textstats import (
        _hll_registers,
        _hll_units,
        approx_distinct_hll,
    )

    docs = tables["documents"]
    stream_like = local_frame(
        spark, [(1, "a b c d"), (2, None)], "doc_id bigint, text string"
    )
    for df in (
        approx_distinct_hll(docs, n=3, p=8),
        # the streaming twin's per-batch register frame
        _hll_registers(_hll_units(stream_like, "doc_id", "text", 3), 8),
    ):
        gens = _generators(df)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert gens and "regexp_replace" in plan, plan
        assert not [g for g in gens if "regexp_replace" in g], gens
