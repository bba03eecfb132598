"""Output pins for the Python text and vector kernels: a sha256 of each
kernel's rows on a seeded fixture.  The digests were recorded on the
pandas-boundary kernels; the Arrow-boundary kernels must reproduce them
bit for bit (cosines and GEMM results are hashed unrounded, through
``repr``, which round-trips every float64 exactly)."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from stream_lib_spark.similarity import (
    _brute_partials,
    _cos_udf,
    _normalize,
    brute_force_topk,
    hyperplane_signature,
    ivf_assign,
    ivf_centroids,
    ivf_probe_lists,
)
from stream_lib_spark.textops import md5_word_hash, minhash_signatures, simhash64, winnowing_fingerprints

VOCAB = ("the a and of to in is it fox dog cat der und nicht le et les el los que "
         "alpha beta gamma delta omega sigma river stone cloud light night storm").split()
DIM = 16


def _sha(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def docs(spark):
    """400 documents: empty, whitespace-only and null texts, docs shorter
    than a shingle, long docs, mixed case and runs of whitespace, and
    near-duplicates (a copy of an earlier doc with one word changed)."""
    rng = np.random.default_rng(17)
    rows = []
    for i in range(400):
        kind = i % 10
        if kind == 0:
            text = (None, "", "   ")[i // 10 % 3]
        elif kind == 1 and i > 20:
            words = (rows[int(rng.integers(0, i - 1))][1] or "x").split() or ["x"]
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            text = " ".join(words)
        else:
            n = int(rng.integers(1, 5)) if kind == 2 else int(rng.integers(5, 60))
            words = [str(w).upper() if rng.random() < 0.1 else str(w) for w in rng.choice(VOCAB, n)]
            text = ("  " if kind == 3 else " ").join(words)
        rows.append((i * 7 + 3, text))
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(3)


@pytest.fixture(scope="module")
def emb(spark):
    """240 seeded float32 vectors (one all-zero, one repeated) and the
    (id, normalized vector) of five of them as queries."""
    rng = np.random.default_rng(29)
    m = rng.standard_normal((240, DIM)).astype(np.float32)
    m[5] = 0.0
    m[9] = m[8]
    rows = [(i * 3 + 1, [float(x) for x in v]) for i, v in enumerate(m)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = [rows[i] for i in (0, 8, 9, 77, 200)]
    return corpus, queries


def test_minhash_signatures_golden(docs):
    assert _sha(_rows(minhash_signatures(docs))) == "0e7457aaa46c346b"


def test_simhash64_golden(docs):
    assert _sha(_rows(simhash64(docs))) == "dcf508d36a70d9a8"
    assert _sha(_rows(simhash64(docs, word_hash=md5_word_hash))) == "52207b8bdd4813bb"


def test_winnowing_fingerprints_golden(docs):
    assert _sha(_rows(winnowing_fingerprints(docs))) == "45aec20c045eca50"


def test_hyperplane_signature_golden(emb):
    corpus, _ = emb
    sigs = hyperplane_signature(corpus, DIM, n_planes=8, n_bands=4).select("vec_id", "lsh_sigs")
    assert _sha(_rows(sigs)) == "7e440575bae37db7"


def test_ivf_assign_and_probe_golden(emb):
    corpus, _ = emb
    cents = ivf_centroids(corpus, 12)
    assigned = ivf_assign(corpus, cents).select("vec_id", "list_id")
    probed = ivf_probe_lists(corpus, cents, n_probe=3).select("vec_id", "probe_lists")
    assert _sha(_rows(assigned)) == "90eb35c00906add1"
    assert _sha(_rows(probed)) == "db5adb3e6e8e39cf"


def test_brute_force_topk_golden(emb):
    corpus, queries = emb
    assert _sha(_rows(brute_force_topk(corpus, queries, k=5))) == "3a5f2dda696be92f"
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    partials = _brute_partials(corpus, lambda: (q_ids, q_mat), 5, "vec_id", "embedding", True)
    assert _sha(_rows(partials)) == "63c01b5cab19ba6e"  # unrounded cosines


def test_cosine_golden(emb):
    corpus, _ = emb
    pairs = corpus.alias("a").join(corpus.alias("b"), F.col("a.vec_id") + 3 == F.col("b.vec_id"))
    cos = pairs.select("a.vec_id", _cos_udf(F.col("a.embedding"), F.col("b.embedding")))
    assert _sha(_rows(cos)) == "a017c41fa35298bc"
