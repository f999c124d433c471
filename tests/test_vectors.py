"""Similarity-search operators vs DuckDB oracle."""

import pytest

from hive_spark.operators import vectors
from tests.oracle_check import compare


@pytest.mark.parametrize("name", sorted(vectors.REGISTRY))
def test_vectors_oracle(spark, sf_dir, name):
    spec = vectors.REGISTRY[name]
    assert spec.oracle is not None
    compare(spec.fn(spark, sf_dir), spec.oracle, sf_dir)


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    """Bucketed ANN must return a subset ranking consistent with brute
    force within each bucket (recall sanity, not exact parity)."""
    bf = {
        (r.query_id, r.neighbor_id)
        for r in vectors.knn_brute_force(spark, sf_dir).collect()
    }
    lsh_rows = vectors.knn_lsh_bucketed(spark, sf_dir).collect()
    assert len(lsh_rows) > 0
    # every LSH neighbor pair is a valid (query, neighbor) pair by id
    for r in lsh_rows:
        assert r.query_id != r.neighbor_id


def test_embedding_cosine_dedup_merges_duplicates(spark, sf_dir):
    """Constructed exact duplicates (vec_id + 100000) must merge into the
    original's cluster; raw vectors keep themselves (no near-dups in the
    corpus)."""
    from pyspark.sql import functions as F

    from hive_spark.operators import views
    from hive_spark.session import state

    views(spark, sf_dir)
    emb = spark.table("embeddings")
    emb.unionAll(
        emb.withColumn("vec_id", F.col("vec_id") + 100000)
    ).createOrReplaceTempView("embeddings")
    try:
        rows = {
            r.vec_id: r for r in vectors.dedup_embedding_cosine(spark, sf_dir).collect()
        }
        originals = [v for v in rows if v < 100000]
        assert originals
        for v in originals:
            assert rows[v + 100000].cluster_id == rows[v].cluster_id == v
            assert rows[v].kept and not rows[v + 100000].kept
    finally:
        state(spark).views = None
        views(spark, sf_dir)


def test_lsh_oracle_adapts_to_corpus_size(spark):
    """r3 gap closed: the DuckDB twin used to bake lsh_cfg(500) — the
    sf0.01 corpus — so oracling at any other SF silently diverged. The
    SQL now derives its band width from its own COUNT(*) (integer-exact
    lsh_cfg mirror), so a different scale factor must STILL hash-match
    the Spark side, which derives width from the live row count."""
    for sf in ("/root/testdata/sf0.001",):
        for name in ("knn_lsh_bucketed", "dedup_embedding_cosine"):
            spec = vectors.REGISTRY[name]
            compare(spec.fn(spark, sf), spec.oracle, sf)


def test_lsh_cfg_scales_with_corpus():
    """The bucket space must grow with N (the r2 scale gap): expected
    band-bucket occupancy stays ~TARGET, so bits/band is log2(N/TARGET)
    and the total signature reaches >=20 bits at web-corpus scale."""
    from hive_spark.operators.vectors import lsh_cfg

    assert lsh_cfg(500) == (3, 4)
    assert lsh_cfg(10**6)[0] == 14
    assert lsh_cfg(10**9)[0] == 24
    assert lsh_cfg(10**9)[0] * lsh_cfg(10**9)[1] >= 20
    # monotone in N, capped so the expression stays bounded
    widths = [lsh_cfg(n)[0] for n in (10**2, 10**4, 10**6, 10**8, 10**10)]
    assert widths == sorted(widths) and widths[-1] <= 28


def test_lsh_candidate_pairs_shrink_with_bits(spark, sf_dir):
    """The O(N*K) gate, measured: widening each band cuts candidate
    pairs (~2x per bit in expectation), and at the default width the
    pair count respects the occupancy bound N * BANDS * 2*TARGET —
    enumeration is linear in N, not (N/const)^2."""
    from hive_spark.operators.vectors import (
        _N_BANDS,
        _TARGET_BUCKET,
        lsh_candidate_pairs,
        lsh_cfg,
    )

    from hive_spark.operators import views

    views(spark, sf_dir)
    n = spark.table("embeddings").count()
    p3 = lsh_candidate_pairs(spark, sf_dir, bits=3)
    p5 = lsh_candidate_pairs(spark, sf_dir, bits=5)
    assert p3 > 0 and p5 > 0
    assert p5 < p3 * 0.6, (p3, p5)  # ~4x expected shrink for +2 bits
    bits, bands = lsh_cfg(n)
    p_default = lsh_candidate_pairs(spark, sf_dir, bits=bits, bands=bands)
    assert p_default <= n * _N_BANDS * 2 * _TARGET_BUCKET


def test_kmeans_objective_non_decreasing(spark, sf_dir):
    """Lloyd's algorithm invariant: the within-cluster inner-product
    objective cannot get worse round over round (each E-step picks the
    argmax cell, each M-step recenters). Checked over three depths."""
    from pyspark.sql import functions as F

    from hive_spark.operators.vectors import kmeans_refine

    objectives = []
    for rounds in (1, 3, 5):
        assign = kmeans_refine(spark, sf_dir, rounds=rounds)
        obj = assign.agg(F.sum(F.col("dq").cast("decimal(38,0)")).alias("o")).collect()[0].o
        objectives.append(int(obj))
    assert objectives[0] <= objectives[1] <= objectives[2], objectives
    # assignment is total and unique
    assign = kmeans_refine(spark, sf_dir, rounds=2)
    n_vec = spark.table("embeddings").count()
    assert assign.count() == n_vec
    assert assign.select("vec_id").distinct().count() == n_vec


def test_ivf_probe_subset_of_brute_force(spark, sf_dir):
    """Probe-search results are exact cosines over a cell-restricted
    candidate set: every returned pair must carry the same cosine the
    brute-force baseline computes, and probing fewer cells can only
    shrink the candidate pool (recall <= 1, never different values)."""
    from hive_spark.operators.vectors import knn_brute_force, knn_ivf_probe

    bf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in knn_brute_force(spark, sf_dir).collect()
    }
    probed = knn_ivf_probe(spark, sf_dir).collect()
    assert len(probed) > 0
    # values agree wherever both rank the same neighbor
    for r in probed:
        if (r.query_id, r.neighbor_id) in bf:
            assert r.cosine == bf[(r.query_id, r.neighbor_id)]


def test_pq_codebook_vectors_encode_to_themselves(spark, sf_dir):
    """PQ identity invariant: every codebook vector's nearest codeword in
    every subspace is its own subvector — code = (cid,)*M with exact
    reconstruction distance 0; non-codebook vectors must carry a
    positive distance (the corpus has no duplicates of the seeds)."""
    from hive_spark.operators.vectors import _PQ_K, _PQ_M, vec_pq_encode

    rows = {r.vec_id: r for r in vec_pq_encode(spark, sf_dir).collect()}
    for cid in range(_PQ_K):
        r = rows[cid]
        assert r.pq_code == ",".join([str(cid)] * _PQ_M)
        assert int(r.recon_qdist) == 0
    others = [r for v, r in rows.items() if v >= _PQ_K]
    assert others and all(int(r.recon_qdist) > 0 for r in others)


def test_pq_adc_matches_numpy_recomputation(spark, sf_dir):
    """End-to-end ADC check: for every returned (query, neighbor) pair,
    recompute the asymmetric distance in numpy from the neighbor's PQ
    code and the query's raw subvectors — sum over subspaces of the
    quantized L2 to the CODEWORD the neighbor encoded to. Any drift in
    encode, table build, or lookup breaks the equality."""
    import numpy as np

    from hive_spark.operators import views
    from hive_spark.operators.vectors import (
        _PQ_K,
        _PQ_M,
        knn_pq_adc,
        vec_pq_encode,
    )

    views(spark, sf_dir)
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.table("embeddings").collect()
    }
    codes = {
        r.vec_id: [int(c) for c in r.pq_code.split(",")]
        for r in vec_pq_encode(spark, sf_dir).collect()
    }

    def sub(v, m):
        return v[m * 8 : m * 8 + 8]

    def qd(a, b):
        d = a - b
        return int(np.floor(d * d * 1e12).astype(np.int64).sum())

    rows = knn_pq_adc(spark, sf_dir).collect()
    assert rows
    for r in rows:
        expect = sum(
            qd(sub(emb[r.query_id], m), sub(emb[codes[r.neighbor_id][m]], m))
            for m in range(_PQ_M)
        )
        assert int(r.adc_qdist) == expect, (r.query_id, r.neighbor_id)
        assert all(c < _PQ_K for c in codes[r.neighbor_id])
