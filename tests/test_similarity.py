"""Similarity-search operators: brute-force exactness, LSH recall,
embedding near-dup pairs."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from raster_join_spark.operators import similarity as S


@pytest.fixture(scope="module")
def emb_pdf():
    """Clustered embeddings (10 centers, small intra-cluster noise) —
    the structure real embedding spaces have and that LSH exploits."""
    rng = np.random.RandomState(3)
    centers = rng.normal(size=(10, 16))
    labels = rng.randint(0, 10, size=300)
    vecs = (centers[labels] + rng.normal(scale=0.25, size=(300, 16))).astype(
        np.float32
    )
    # plant near-duplicates: 250<->0, 251<->1 (tiny perturbation)
    vecs[250] = vecs[0] + rng.normal(scale=1e-3, size=16).astype(np.float32)
    vecs[251] = vecs[1] + rng.normal(scale=1e-3, size=16).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(300, dtype=np.int64),
            "embedding": [v for v in vecs],
            "label": labels.astype(np.int32),
        }
    )


@pytest.fixture(scope="module")
def emb(spark, emb_pdf):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
            T.StructField("label", T.IntegerType(), False),
        ]
    )
    return spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding], int(r.label)) for r in emb_pdf.itertuples()],
        schema,
    )


def _np_topk(emb_pdf, q, k):
    M = np.stack(emb_pdf["embedding"].to_numpy()).astype(np.float64)
    scores = M @ np.asarray(q, dtype=np.float64)
    order = np.lexsort((emb_pdf["vec_id"].to_numpy(), -scores))[:k]
    return emb_pdf["vec_id"].to_numpy()[order].tolist()


def test_brute_force_topk_exact(spark, emb, emb_pdf):
    rng = np.random.RandomState(9)
    q = rng.normal(size=16)
    got = S.brute_force_topk(emb, q, k=10).toPandas().sort_values("rank")
    assert got["vec_id"].tolist() == _np_topk(emb_pdf, q, 10)
    assert got["rank"].tolist() == list(range(1, 11))


def test_non_finite_coefficients_rejected(spark, emb):
    """inf/NaN would render as ``infD``/``nanD`` SQL text; the operators
    reject them up front with the bad input named."""
    q = np.ones(16)
    q[3] = np.nan
    with pytest.raises(ValueError, match="dot-product vector.*element 3 is nan"):
        S.brute_force_topk(emb, q)
    planes = np.ones((4, 16))
    planes[2, 5] = np.inf
    with pytest.raises(ValueError, match="hyperplane 2.*element 5 is inf"):
        S.lsh_bucket_col("embedding", planes)


def test_lsh_topk_recall(spark, emb, emb_pdf):
    """ANN with multi-probe: recall@10 >= 0.6 vs brute force on this
    fixture (seeded, deterministic)."""
    rng = np.random.RandomState(4)
    centers = np.stack(
        [emb_pdf[emb_pdf.label == l].embedding.iloc[0] for l in range(5)]
    ).astype(np.float64)
    recalls = []
    for qi in range(5):
        q = centers[qi] + rng.normal(scale=0.1, size=16)
        exact = set(_np_topk(emb_pdf, q, 10))
        got = set(
            S.lsh_topk(spark, emb, q, k=10, n_planes=6, n_probes=10)
            .toPandas()["vec_id"]
            .tolist()
        )
        recalls.append(len(got & exact) / 10)
    assert np.mean(recalls) >= 0.6, recalls


def test_embedding_neardup_pairs(spark, emb):
    pairs = S.embedding_neardup_pairs(
        emb, n_planes=6, seed=11, min_cos_x100=99
    ).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert (0, 250) in got and (1, 251) in got
    assert (pairs.cos_u6 >= 990000).all()
    # no self pairs, canonical order
    assert (pairs.id_a < pairs.id_b).all()


def test_embedding_neardup_sql_parity(spark, emb, emb_pdf):
    """The generated-SQL twin reproduces the Spark pairs bit-for-bit."""
    import duckdb

    got = (
        S.embedding_neardup_pairs(emb, n_planes=6, seed=11, min_cos_x100=95, dim=16)
        .toPandas()
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )
    con = duckdb.connect()
    con.register("embeddings", emb_pdf)
    exp = (
        con.sql(S.embedding_neardup_sql(n_planes=6, seed=11, min_cos_x100=95, dim=16))
        .df()
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert len(got) > 0


def test_embedding_neardup_hot_bucket_cap(spark):
    """A degenerate bucket (identical boilerplate embeddings) is DROPPED
    when its size exceeds max_bucket — the broadcast anti-join guard that
    keeps the pair expansion from going O(n^2) on web boilerplate — and
    kept untouched when at or under the cap."""
    n = 60
    rows = [(i, [1.0] * 8 + [0.0] * 8) for i in range(n)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    emb = spark.createDataFrame(rows, schema)
    metrics: dict = {}
    dropped = S.embedding_neardup_pairs(
        emb, n_planes=4, min_cos_x100=99, dim=16, max_bucket=10, metrics=metrics
    ).toPandas()
    assert len(dropped) == 0  # hot bucket gone, not quadratically expanded
    # the drop counters (round-4 verdict item 6): one boilerplate bucket,
    # all 60 docs affected
    assert metrics == {"dropped_buckets": 1, "affected_docs": 60}
    kept = S.embedding_neardup_pairs(
        emb, n_planes=4, min_cos_x100=99, dim=16, max_bucket=60
    ).toPandas()
    assert len(kept) == 60 * 59 // 2


def test_ivf_topk_recall(spark, emb, emb_pdf):
    """IVF with n_probe=4 of 8 lists: recall@10 >= 0.7 on the clustered
    fixture (queries near centers land in probed lists)."""
    rng = np.random.RandomState(6)
    centers = np.stack(
        [emb_pdf[emb_pdf.label == l].embedding.iloc[0] for l in range(5)]
    ).astype(np.float64)
    recalls = []
    for qi in range(5):
        q = centers[qi] + rng.normal(scale=0.1, size=16)
        exact = set(_np_topk(emb_pdf, q, 10))
        got = set(
            S.ivf_topk(spark, emb, q, k=10, n_lists=8, n_probe=4, train_sample=300)
            .toPandas()["vec_id"].tolist()
        )
        recalls.append(len(got & exact) / 10)
    assert np.mean(recalls) >= 0.7, recalls


def test_ivf_pruned_store_matches_inplan_and_prunes(spark, emb, emb_pdf, tmp_path):
    """The at-rest IVF layout must (a) return EXACTLY what the in-plan
    ivf_topk returns (same centroids -> same candidates -> same IEEE
    rerank) and (b) physically scan only the probed list directories."""
    rng = np.random.RandomState(11)
    q = rng.normal(size=16)
    base = str(tmp_path / "ivfstore")
    cent = S.ivf_write_store(emb, base, n_lists=8, train_sample=300)
    assert cent.shape == (8, 16)
    report: dict = {}
    got = (
        S.ivf_topk_pruned(spark, base, q, k=10, n_probe=4, report=report)
        .toPandas()
        .reset_index(drop=True)
    )
    exp = (
        S.ivf_topk(spark, emb, q, k=10, n_lists=8, n_probe=4, train_sample=300)
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    # the prune: 4 of the lists on disk, and only those dirs were listed
    assert report["scanned_partitions"] == 4
    assert report["total_partitions"] >= 4
    assert sorted(report["probes"])[:1] != []  # probes recorded
    # the scan's input files all live under probed directories
    probed = {f"ivf_list={p}" for p in report["probes"]}
    files = S.ivf_topk_pruned(spark, base, q, k=10, n_probe=4).inputFiles()
    assert files, "scan should have concrete input files"
    for f in files:
        assert any(seg in f for seg in probed), f"unprobed file scanned: {f}"


def test_ivf_pruned_empty_probes_typed_empty(spark, emb, tmp_path):
    """Every probed list absent on disk -> zero candidates is the exact
    answer; ivf_topk_pruned must return a TYPED empty (id, rank, score)
    frame instead of crashing on spark.read.parquet() with no paths
    (ADVICE r6)."""
    import shutil

    rng = np.random.RandomState(11)
    q = rng.normal(size=16)
    base = str(tmp_path / "ivfstore_empty")
    S.ivf_write_store(emb, base, n_lists=8, train_sample=300)
    report: dict = {}
    S.ivf_topk_pruned(spark, base, q, k=5, n_probe=2, report=report).collect()
    # delete exactly the probed list directories: the same query now has
    # zero candidate paths while OTHER lists still exist on disk
    for p in report["probes"]:
        d = os.path.join(base, "data", f"ivf_list={p}")
        if os.path.isdir(d):
            shutil.rmtree(d)
    rep2: dict = {}
    out = S.ivf_topk_pruned(spark, base, q, k=5, n_probe=2, report=rep2)
    assert rep2["scanned_partitions"] == 0 and rep2["probes"] == report["probes"]
    assert [f.name for f in out.schema.fields] == ["vec_id", "rank", "score"]
    assert out.schema["vec_id"].dataType.typeName() == "long"
    assert out.count() == 0
    # store entirely empty: the LongType fallback path also stays typed
    shutil.rmtree(os.path.join(base, "data"))
    os.makedirs(os.path.join(base, "data"))
    out2 = S.ivf_topk_pruned(spark, base, q, k=5, n_probe=2)
    assert out2.count() == 0
    assert [f.name for f in out2.schema.fields] == ["vec_id", "rank", "score"]
