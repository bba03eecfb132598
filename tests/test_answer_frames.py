"""Global ``approx_*`` answers and ``cms_frequencies``' probe frame are
rows held on the driver, handed to Spark as one Arrow table
(``agg._local_frame``): each plans a ``LocalTableScan``, collecting it
starts no Spark job, its schema is the declared one and its values are
the collected sketch's answers."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F, types as T

from stream_lib_spark import functions as fn
from stream_lib_spark.agg import SketchSpec, collect_sketch, sketch_agg

QS = [0.1, 0.5, 0.9]

# name: (the public call, its column, its spec, the rows one sketch
# answers, the declared schema)
CASES = {
    "count": (lambda df: fn.approx_count_distinct(df, "user_id", p=12), "user_id",
              SketchSpec("hll", p=12), lambda sk: [(float(sk.cardinality()),)],
              T.StructType([T.StructField("approx_distinct", T.DoubleType())])),
    "quantiles": (lambda df: fn.approx_quantiles(df, "value", QS, kind="kll"), "value",
                  SketchSpec("kll", k=200), lambda sk: [tuple(float(sk.quantile(q)) for q in QS)],
                  T.StructType([T.StructField(n, T.DoubleType()) for n in ("q_0_1", "q_0_5", "q_0_9")])),
    "topk": (lambda df: fn.approx_topk(df, "user_id", 3, capacity=4096), "user_id",
             SketchSpec("spacesaving", capacity=4096),
             lambda sk: [(str(i), int(c), int(e), r) for r, (i, c, e) in enumerate(sk.top_k(3), 1)],
             T.StructType([T.StructField("item", T.StringType()), T.StructField("count", T.LongType()),
                           T.StructField("error", T.LongType()), T.StructField("rank", T.IntegerType())])),
}


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _collect_without_job(spark, df) -> list:
    """``df.collect()`` as tuples, asserting that it started no Spark job."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rows = [tuple(r) for r in df.collect()]
    assert set(tracker.getJobIdsForGroup(None)) == before, "the collect started a Spark job"
    return rows


@pytest.mark.parametrize("case", CASES)
def test_global_answer_is_a_local_relation(spark, events, case):
    call, col, spec, rows, schema = CASES[case]
    out = call(events)
    plan = _plan(out)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert out.schema == schema
    assert _collect_without_job(spark, out) == rows(collect_sketch(sketch_agg(events, [], col, spec)))


def test_empty_input_global_answers(spark, events):
    """No input rows: the count and the quantiles are one row of the
    empty sketch's answers, the top-k is no row."""
    empty = events.where(F.lit(False))
    counts, quantiles, topk = (_collect_without_job(spark, CASES[c][0](empty)) for c in CASES)
    assert counts == [(0.0,)]
    assert len(quantiles) == 1 and len(quantiles[0]) == len(QS)
    assert topk == []


def test_cms_probe_frame_is_a_local_relation(spark, events):
    probes = ["click", "view", "no-such-event"]
    out = fn.cms_frequencies(events, "event_type", probes)
    plan = _plan(out)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    exact = {r["event_type"]: r["count"] for r in events.groupBy("event_type").count().collect()}
    got = dict(out.collect())
    assert sorted(got) == sorted(probes)
    assert all(got[p] >= exact.get(p, 0) for p in probes)  # CMS never under-counts
