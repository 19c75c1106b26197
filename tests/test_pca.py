"""PCA projection: numpy ground-truth agreement + algebraic invariants
(the pytest oracle for the rows-only embedding_pca_project)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.queries.pca_reduce import (
    _R,
    corpus_mean_cov,
    embedding_pca_project,
    pca_project,
    principal_components,
)


def _emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


def _collect_matrix(emb):
    rows = emb.orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    return ids, np.array([r["e"] for r in rows], dtype=np.float64)


def test_pca_matches_numpy_reference(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    ids, x = _collect_matrix(emb)
    dim = x.shape[1]

    out = embedding_pca_project(spark, sf_dir).collect()
    got = {r["vec_id"]: np.array([r[f"p{i}"] for i in range(_R)]) for r in out}
    assert set(got) == set(ids)

    # straight numpy PCA of the same corpus
    mu = x.mean(axis=0)
    cov = np.cov((x - mu).T, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:_R]
    comps = vecs[:, order].T
    proj = (x - mu) @ comps.T
    for i, vid in enumerate(ids):
        for c in range(_R):
            # sign per component is a convention; compare |.|
            assert abs(abs(got[vid][c]) - abs(proj[i, c])) < 1e-6


def test_components_orthonormal_and_variance_ordered(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    dim = len(emb.first()["e"])
    _, vals, comps = pca_project(emb, dim)
    gram = comps @ comps.T
    assert np.allclose(gram, np.eye(_R), atol=1e-8)
    assert all(vals[i] >= vals[i + 1] - 1e-12 for i in range(_R - 1))
    assert vals[-1] >= 0.0  # covariance PSD


def test_projected_variance_equals_eigenvalues(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    dim = len(emb.first()["e"])
    out, vals, _ = pca_project(emb, dim)
    pdf = out.toPandas()
    for i in range(_R):
        assert abs(pdf[f"p{i}"].var(ddof=0) - vals[i]) < 1e-8


def test_more_components_never_increase_reconstruction_error(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    ids, x = _collect_matrix(emb)
    mu, cov, n = corpus_mean_cov(emb, x.shape[1])
    assert n == len(ids)
    errs = []
    for r in (2, 4, _R):
        _, comps = principal_components(cov, r)
        xc = x - mu
        recon = xc @ comps.T @ comps
        errs.append(float(((xc - recon) ** 2).sum()))
    assert errs[0] >= errs[1] >= errs[2]


def test_distributed_moments_match_numpy(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    ids, x = _collect_matrix(emb)
    mu, cov, n = corpus_mean_cov(emb.repartition(7), x.shape[1])
    assert n == x.shape[0]
    assert np.allclose(mu, x.mean(axis=0), atol=1e-10)
    assert np.allclose(cov, np.cov(x.T, bias=True), atol=1e-8)


def test_incremental_moments_equal_full_pass(spark, sf_dir, tmp_path):
    """Folding the corpus through update_moments in 3 batches must
    yield the same (mean, cov, n) as the single full pass — the
    mergeable-moments property the incremental path exists for. Also:
    re-deriving components from the persisted artifact matches."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyspark_big_data_spark.queries.pca_reduce import (
        _R,
        corpus_mean_cov,
        principal_components,
        update_moments,
    )

    emb = _emb(spark, sf_dir)
    dim = len(emb.first()["e"])
    path = str(tmp_path / "moments")

    for shard in range(3):
        mean_i, cov_i, n_i = update_moments(
            emb.filter(F.col("vec_id") % 3 == shard), dim, path
        )

    mean_f, cov_f, n_f = corpus_mean_cov(emb, dim)
    assert n_i == n_f
    assert np.allclose(mean_i, mean_f, atol=1e-10)
    assert np.allclose(cov_i, cov_f, atol=1e-8)

    # persisted artifact re-derives the same components
    row = spark.read.parquet(path).collect()[0]
    n = row["n"]
    s = np.array(row["s"])
    m2 = np.array(row["m2"]).reshape(dim, dim)
    cov_p = m2 / n - np.outer(s / n, s / n)
    _, comps_p = principal_components(cov_p, _R)
    _, comps_f = principal_components(cov_f, _R)
    assert np.allclose(np.abs(comps_p), np.abs(comps_f), atol=1e-7)


def test_failed_moments_swap_keeps_previous_moments(
    spark, sf_dir, tmp_path, monkeypatch, fail_move_in
):
    """A failed move-in must leave the previous moments readable and
    unchanged, so the next batch folds onto them instead of silently
    restarting from zero."""
    from pyspark_big_data_spark.queries.pca_reduce import corpus_mean_cov, update_moments

    emb = _emb(spark, sf_dir)
    dim = len(emb.first()["e"])
    path = str(tmp_path / "moments")
    for shard in range(2):
        update_moments(emb.filter(F.col("vec_id") % 3 == shard), dim, path)
    before = spark.read.parquet(path).collect()

    last = emb.filter(F.col("vec_id") % 3 == 2)
    fail_move_in()
    with pytest.raises(RuntimeError, match="could not move"):
        update_moments(last, dim, path)
    monkeypatch.undo()

    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).collect() == before
    # the retried batch folds onto the kept moments: full-pass result
    mean_i, cov_i, n_i = update_moments(last, dim, path)
    mean_f, cov_f, n_f = corpus_mean_cov(emb, dim)
    assert n_i == n_f
    assert np.allclose(mean_i, mean_f, atol=1e-10)
    assert np.allclose(cov_i, cov_f, atol=1e-8)
