"""Finalize UDFs over keyed sketch blobs: every distributed finalizer
answers exactly what decoding the same ``sketch_agg`` blobs on the
driver answers, with the declared schema; keyed quantiles decode each
blob once; a null blob finalizes to null."""

import io
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import types as T

from stream_lib_spark.agg import SketchSpec, sketch_agg, sketch_from_bytes
from stream_lib_spark.sketches import HllPlusPlus, TDigest

SF = "/root/testdata/sf0.001"
KEYS = ["event_type"]


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def _driver_rows(merged, answer):
    """(key, *answer(decoded sketch)) per merged row, decoded on the driver."""
    return sorted(
        (r["event_type"], *answer(sketch_from_bytes(bytes(r["sketch"]))))
        for r in merged.collect())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_keyed_quantiles_match_driver_decode(events):
    from stream_lib_spark.functions import approx_quantiles

    qs = [0.1, 0.5, 0.9]
    names = ["q_0_1", "q_0_5", "q_0_9"]
    out = approx_quantiles(events, "value", qs, keys=KEYS)
    merged = sketch_agg(events, KEYS, "value", SketchSpec("tdigest", compression=100.0))
    want = _driver_rows(merged, lambda sk: [float(sk.quantile(q)) for q in qs])
    assert _rows(out) == want
    assert out.schema == T.StructType(
        [merged.schema["event_type"]] + [T.StructField(n, T.DoubleType()) for n in names])


def test_keyed_topk_matches_driver_decode(events):
    from stream_lib_spark.functions import approx_topk

    out = approx_topk(events, "user_id", k=3, capacity=4096, keys=KEYS)
    merged = sketch_agg(events, KEYS, "user_id", SketchSpec("spacesaving", capacity=4096))
    want = sorted(
        (r["event_type"], str(item), int(cnt), int(err), rank)
        for r in merged.collect()
        for rank, (item, cnt, err) in enumerate(
            sketch_from_bytes(bytes(r["sketch"])).top_k(3), 1))
    assert _rows(out) == want
    assert out.schema == T.StructType([
        merged.schema["event_type"],
        T.StructField("item", T.StringType()),
        T.StructField("count", T.LongType()),
        T.StructField("error", T.LongType()),
        T.StructField("rank", T.IntegerType()),
    ])


@pytest.mark.parametrize("finalizer", ["hll_cardinality", "quantile_udf", "approx_count_distinct"])
def test_blob_udfs_match_driver_decode(events, finalizer):
    from stream_lib_spark import functions as fn

    name = "est"
    if finalizer == "quantile_udf":
        merged = sketch_agg(events, KEYS, "value", SketchSpec("tdigest", compression=100.0))
        udf, answer = fn.quantile_udf(0.5), lambda sk: [float(sk.quantile(0.5))]
    else:
        merged = sketch_agg(events, KEYS, "user_id", SketchSpec("hll", p=12))
        udf, answer = fn.hll_cardinality, lambda sk: [float(sk.cardinality())]
    if finalizer == "approx_count_distinct":
        name = "approx_distinct"
        out = fn.approx_count_distinct(events, "user_id", keys=KEYS, p=12)
    else:
        out = merged.select("event_type", udf("sketch").alias(name))
    assert _rows(out) == _driver_rows(merged, answer)
    assert out.schema == T.StructType(
        [merged.schema["event_type"], T.StructField(name, T.DoubleType())])


def test_keyed_quantiles_decode_each_blob_once(events):
    """All quantiles of a key come from one UDF call on its blob: one
    ArrowEvalPython node holding one UDF, however many qs."""
    from stream_lib_spark.functions import approx_quantiles

    out = approx_quantiles(events, "value", [0.1, 0.5, 0.9], keys=KEYS)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain()
    nodes = [ln for ln in buf.getvalue().splitlines() if "ArrowEvalPython" in ln]
    assert len(nodes) == 1, buf.getvalue()
    assert nodes[0].count("pythonUDF") == 1, nodes[0]


def test_null_blob_finalizes_to_null(spark):
    from stream_lib_spark.functions import hll_cardinality, quantile_udf
    from stream_lib_spark.sketches.wire_export import reference_wire_udf, to_reference_wire

    hll = HllPlusPlus.new(p=12).update_hashed(np.arange(1, 101, dtype=np.int64) * 0x9E3779B1)
    td = TDigest.from_values(np.arange(100, dtype=np.float64))
    df = spark.createDataFrame(
        [(hll.to_bytes(), td.to_bytes()), (None, None)], "h binary, t binary")
    got = df.select(
        hll_cardinality("h").alias("card"),
        quantile_udf(0.5)("t").alias("p50"),
        reference_wire_udf("hll")("h").alias("wire"),
    ).collect()
    assert tuple(got[0]) == (float(hll.cardinality()), float(td.quantile(0.5)),
                             to_reference_wire("hll", hll.to_bytes()))
    assert tuple(got[1]) == (None, None, None)
