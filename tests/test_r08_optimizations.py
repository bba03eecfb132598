"""Round-8 optimization invariants.

Each r8 performance change must be result-invisible; these tests pin
that directly:

- the driver-side global fold (`collect_sketch` fast path) must produce
  byte-identical state to executing the distributed merge DataFrame;
- the global fast paths of approx_topk / approx_quantiles /
  approx_count_distinct must return the same rows the distributed
  finalize returns;
- `_spread_serial_scan` must spread provably-serial scans and leave
  multi-row-group inputs alone (and never change results);
- the reworked minhash narrow pair join must agree with a direct
  signature-similarity recomputation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stream_lib_spark.agg import (
    STATE_COL,
    SketchSpec,
    collect_sketch,
    merge_partials,
    sketch_agg,
    sketch_from_bytes,
    sketch_partials,
)


@pytest.fixture(scope="module")
def events(spark):
    rows = [(i, f"user-{i % 97}", f"t{i % 5}", float(i % 31)) for i in range(5000)]
    return spark.createDataFrame(rows, "event_id long, user_id string, event_type string, value double")


def _distributed_blob(merged) -> bytes:
    # force the distributed merge path by executing the DataFrame itself
    row = merged.select(STATE_COL).collect()
    assert len(row) == 1
    return bytes(row[0][0])


@pytest.mark.parametrize("spec", [
    SketchSpec("hll", p=12),
    SketchSpec("cms", eps=1e-3, confidence=0.99),
    SketchSpec("tdigest", compression=100.0),
    SketchSpec("kll", k=200),
    SketchSpec("spacesaving", capacity=64),
])
def test_driver_fold_matches_distributed_merge(events, spec):
    col = "value" if spec.kind in ("tdigest", "kll") else "user_id"
    merged = sketch_agg(events, [], col, spec)
    assert hasattr(merged, "_slp_driver_fold"), "global sub-fan-in agg must carry the fold marker"
    driver_bytes = collect_sketch(merged).to_bytes()
    assert driver_bytes == _distributed_blob(merged)


def test_driver_fold_empty_input(events):
    merged = sketch_agg(events.where("event_id < 0"), [], "user_id", SketchSpec("hll", p=12))
    assert collect_sketch(merged).cardinality() == 0.0


def test_fan_in_level_disables_driver_fold(events):
    partials = sketch_partials(events, [], "user_id", SketchSpec("hll", p=12))
    forced = merge_partials(partials.repartition(96), [], SketchSpec("hll", p=12))
    assert not hasattr(forced, "_slp_driver_fold")
    # and the distributed result still matches the no-fan-in fold
    plain = merge_partials(partials, [], SketchSpec("hll", p=12))
    assert _distributed_blob(forced) == collect_sketch(plain).to_bytes()


def test_global_topk_fast_path_matches_distributed(events):
    from stream_lib_spark.functions import approx_topk

    fast = approx_topk(events, "event_type", k=3, capacity=64).toPandas()
    # distributed reference: same merged sketch, explode via the sketch itself
    sk = collect_sketch(sketch_agg(events, [], "event_type", SketchSpec("spacesaving", capacity=64)))
    ref = pd.DataFrame(
        [(str(i), c, e, r) for r, (i, c, e) in enumerate(sk.top_k(3), 1)],
        columns=["item", "count", "error", "rank"],
    )
    pd.testing.assert_frame_equal(
        fast.astype({"count": "int64", "error": "int64", "rank": "int32"}),
        ref.astype({"count": "int64", "error": "int64", "rank": "int32"}),
    )


def test_global_quantiles_fast_path_matches_sketch(events):
    from stream_lib_spark.functions import approx_quantiles

    out = approx_quantiles(events, "value", [0.5, 0.9]).collect()[0]
    sk = collect_sketch(sketch_agg(events, [], "value", SketchSpec("tdigest", compression=100.0)))
    assert out["q_0_5"] == float(sk.quantile(0.5))
    assert out["q_0_9"] == float(sk.quantile(0.9))


def test_global_count_distinct_fast_path(events):
    from stream_lib_spark.functions import approx_count_distinct

    out = approx_count_distinct(events, "user_id", p=12).collect()[0]
    sk = collect_sketch(sketch_agg(events, [], "user_id", SketchSpec("hll", p=12)))
    assert out["approx_distinct"] == float(sk.cardinality())


def test_minhash_narrow_join_pairs_match_signature_similarity(spark):
    from stream_lib_spark.textops import minhash_lsh_pairs, minhash_signatures

    base = [
        "the quick brown fox jumps over the lazy dog again and again ok",
        "pack my box with five dozen liquor jugs for the long trip home",
        "sphinx of black quartz judge my vow said the tired old man now",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((2 * i, t))
        rows.append((2 * i + 1, t + " tail"))  # near-dup partner
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(docs, threshold=0.5).toPandas()
    sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(docs).collect()}
    assert len(pairs) >= 3  # each near-dup partner found
    from decimal import ROUND_HALF_UP, Decimal

    for _, p in pairs.iterrows():
        est = np.mean(np.array(sigs[p.id_a]) == np.array(sigs[p.id_b]))
        # Spark's round() is HALF_UP; Python's round() is banker's
        expect = float(Decimal(repr(float(est))).quantize(Decimal("0.0001"), ROUND_HALF_UP))
        assert expect == p.est_jaccard
        assert est >= 0.5


def test_minhash_pair_join_plan_shape(spark):
    """The re-attach joins carry no forced strategy (r8 second session):
    the band self-join stays the analyzed shuffle_hash, and nothing in
    the plan degenerates to a cartesian/nested-loop product whatever
    strategy Catalyst or AQE picks for the signature re-attach."""
    from stream_lib_spark.textops import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}") for i in range(40)],
        "doc_id long, text string")
    df = minhash_lsh_pairs(docs, threshold=0.5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    tree = plan.split("\n\n")[0]
    assert tree.count("ShuffledHashJoin") == 1, tree  # the band self-join only
    assert "CartesianProduct" not in tree and "BroadcastNestedLoopJoin" not in tree, tree
