"""Similarity search over the embeddings table (ArrayType(Float), dim 64).

North-star extension (SURVEY.md §7 M6): approximate-nearest-neighbor and
near-duplicate detection for training-data pipelines.

Three tiers:
- brute-force cosine top-k (the exactness baseline; probes broadcast
  against the full corpus — at 100 TB you shard probes and corpus by
  range and this becomes a broadcast-nested-loop per shard);
- all-pairs near-dup above a cosine threshold (self-join; at scale this
  MUST be blocked/bucketed first — the LSH tier below is that path);
- sign-random-projection LSH bucketing (the scale path: candidates only
  form within a bucket, turning O(n^2) into O(sum of bucket^2)).

All three have exact DuckDB oracles: the hyperplane constants are
md5-derived and inlined identically into the Spark plan and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pyspark_big_data_spark.functions import vectors as V
from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.queries.registry import register

_PROBE_MOD = 50  # vec_id % 50 == 0 -> 2% of corpus are probes
_TOP_K = 5
_NEAR_DUP_COS = 0.40
_LSH_CAND_COS = 0.25
# OR-amplified SRP-LSH: N_TABLES independent 4-plane band tables; a pair
# is a candidate if it co-buckets in ANY table. Per-table recall for a
# pair at angle θ is (1-θ/π)^4, so 8 tables lift cos=0.43 (the hardest
# planted truth pairs in the testdata) from ~17% to ~1-(1-0.17)^8 ≈ 77%,
# while random (cos≈0) pairs still collide at only 1/16 per table.
# Measured recall per tier is recorded in PERFORMANCE.md (recall table,
# tools/recall_report.py).
_LSH_PLANES_PER_TABLE = 4
_LSH_N_TABLES = 8
_LSH_TABLES = [
    V.random_hyperplanes(
        n_planes=_LSH_PLANES_PER_TABLE, dim=64, seed=f"pyspark-big-data-lsh:t{t}"
    )
    for t in range(_LSH_N_TABLES)
]

# O(n^2) baselines refuse to run beyond this input size: they exist as
# exactness oracles for the bucketed scale twins (ann_lsh_bucketed,
# ann_topk_ivf), and an all-pairs plan silently launched on a 100 TB
# table is an outage, not a query.
ALLPAIRS_MAX_ROWS = 50_000


def guard_allpairs(df: DataFrame, what: str, max_rows: int | None = None) -> DataFrame:
    """Fail fast if an all-pairs baseline is about to run on an input too
    big for O(n^2).

    The probe is ``limit(max_rows + 1).count()`` — a BOUNDED job that
    early-terminates once the limit is hit, not a full scan of the
    input (on a 100 TB table the old full ``count()`` pre-scan would
    cost as much as a real query before the guard could even fire).
    The guard only needs to know "more than max_rows or not", never the
    exact count."""
    cap = ALLPAIRS_MAX_ROWS if max_rows is None else max_rows
    n_bound = df.limit(cap + 1).count()
    if n_bound > cap:
        raise ValueError(
            f"{what}: refusing all-pairs plan on >{cap} rows; "
            "use the bucketed scale twin "
            "(ann_lsh_bucketed / ann_topk_ivf / simhash_near_pairs)"
        )
    return df

_DD_V = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings"
_DD_COS = (
    "list_dot_product(a.e, b.e) / "
    "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"
)

_ANN_ORACLE = f"""
WITH v AS ({_DD_V}),
pairs AS (
    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, {_DD_COS} AS cos
    FROM (SELECT * FROM v WHERE vec_id % {_PROBE_MOD} = 0) a
    JOIN v b ON b.vec_id <> a.vec_id
), ranked AS (
    SELECT probe_id, neighbor_id, cos,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC
           ) AS BIGINT) AS rnk
    FROM pairs
)
SELECT probe_id, neighbor_id, ROUND(cos, 6) AS cosine, rnk
FROM ranked WHERE rnk <= {_TOP_K}
ORDER BY probe_id, rnk
"""


@register("ann_topk_bruteforce", oracle=_ANN_ORACLE, driver=False)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", V.to_double_array(F.col("embedding")).alias("e")
    )
    dim_row = emb.select(F.size("e").alias("d")).first()
    dim = dim_row["d"] if dim_row else 0
    # flat columns keep the per-pair dot inside JIT-able codegen (see
    # functions/vectors.py::dot_flat's cliff note); norms computed
    # once per row on the array form — identical doubles either way
    with_norm = V.flatten_vec(
        emb.withColumn("nrm", V.norm(F.col("e"))), "e", dim, "_x", ["vec_id", "nrm"]
    )
    probes = guard_allpairs(
        with_norm.filter(F.col("vec_id") % _PROBE_MOD == 0).select(
            F.col("vec_id").alias("probe_id"),
            F.col("nrm").alias("pn"),
            *[F.col(f"_x{i}").alias(f"_p{i}") for i in range(dim)],
        ),
        "ann_topk_bruteforce probes",
    )
    # probes are a small fraction: broadcast them, stream the corpus once
    pairs = with_norm.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id")).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        (V.dot_flat("_p", "_x", dim) / (F.col("pn") * F.col("nrm"))).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _TOP_K)
        .select("probe_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rnk")
        .orderBy("probe_id", "rnk")
    )


# Auto-shard the probe matrix past this many probes: bounds the broadcast
# (shard x dim doubles) and the per-batch BLAS output (batch x shard).
_PROBES_PER_SHARD = 100_000


def _probe_shards(pids, pmat, n_shards: int | None):
    """Split the (ids, matrix) probe set into contiguous shards.

    ``n_shards=None`` auto-sizes from _PROBES_PER_SHARD (1 shard at test
    scale); $SPARK_GRAFT_PROBE_SHARDS overrides for tests/ops."""
    import math
    import os

    import numpy as np  # noqa: F401 — pmat is ndarray; keep the dep explicit

    if n_shards is None:
        env = os.environ.get("SPARK_GRAFT_PROBE_SHARDS")
        n_shards = int(env) if env else max(1, math.ceil(len(pids) / _PROBES_PER_SHARD))
    n_shards = max(1, min(n_shards, len(pids)))
    step = math.ceil(len(pids) / n_shards)
    for lo in range(0, len(pids), step):
        yield pids[lo : lo + step], pmat[lo : lo + step]


def _batch_topk_scan(emb: DataFrame, pids, pmat, k: int) -> DataFrame:
    """One corpus scan: per Arrow batch, BLAS cosine vs the given probe
    matrix, emit per-batch top-k candidates (exact global top-k is the
    caller's window over the union of batches/shards)."""
    import numpy as np
    import pandas as pd

    b_probes = emb.sparkSession.sparkContext.broadcast((pids, pmat))

    def search(batches):
        probe_ids, pm = b_probes.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["e"].to_numpy())
            x = x / np.linalg.norm(x, axis=1, keepdims=True)
            sims = x @ pm.T  # batch x probes
            ids = pdf["vec_id"].to_numpy()
            sims[ids[:, None] == probe_ids[None, :]] = -np.inf  # exclude self
            kk = min(k, sims.shape[0])
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # kk x probes
            cos = np.take_along_axis(sims, top, axis=0)
            keep = np.isfinite(cos).ravel(order="F")
            yield pd.DataFrame(
                {
                    "probe_id": np.repeat(probe_ids, kk)[keep],
                    "neighbor_id": ids[top].ravel(order="F")[keep],
                    "cosine": cos.ravel(order="F")[keep],
                }
            )

    return emb.mapInPandas(search, schema="probe_id long, neighbor_id long, cosine double")


@register("ann_topk_bruteforce_np", driver=False)  # fast scale tier; driver-verified via
# ann_bruteforce_np_agreement (the witness below), recall-gated in pytest
def ann_topk_bruteforce_np(
    spark: SparkSession, sf_dir: str, probe_shards: int | None = None
) -> DataFrame:
    """Vectorized fast tier of ann_topk_bruteforce: Arrow-batched
    mapInPandas with a BLAS matrix multiply per batch (batch x probes),
    per-batch top-k, then an exact global top-k window over the tiny
    candidate set (batches x probes x k rows).

    Why it exists: the exact tier's dot product is a SQL higher-order
    function (F.aggregate/zip_with) — HOFs are CodegenFallback in Spark,
    i.e. interpreted per row, which dominates wall time once pairs hit
    the millions (measured ~66 s for 8M pairs at the 10x stress SF vs
    ~2 s here; PERFORMANCE.md). numpy changes float summation order, so
    this tier is recall-gated against the exact oracled query
    (tests/test_similarity_np.py) instead of hash-compared.

    Scale notes: probes are collected to the driver and broadcast in
    SHARDS (probe_shards / $SPARK_GRAFT_PROBE_SHARDS, auto-sized past
    _PROBES_PER_SHARD): each shard is an independent mapInPandas pass
    over the corpus with only that shard's probe matrix resident, and
    the shard results union before the exact global top-k window. Peak
    driver/executor memory is one shard's matrix, never the full probe
    set; the corpus is scanned once per shard with no re-shuffle."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", V.to_double_array(F.col("embedding")).alias("e")
    )
    probes_pd = guard_allpairs(
        emb.filter(F.col("vec_id") % _PROBE_MOD == 0), "ann_topk_bruteforce_np probes"
    ).toPandas()
    pids = probes_pd["vec_id"].to_numpy()
    pmat = np.stack(probes_pd["e"].to_numpy())
    pmat = pmat / np.linalg.norm(pmat, axis=1, keepdims=True)

    cand = None
    for s_pids, s_pmat in _probe_shards(pids, pmat, probe_shards):
        shard_cand = _batch_topk_scan(emb, s_pids, s_pmat, _TOP_K)
        cand = shard_cand if cand is None else cand.unionByName(shard_cand)
    k = _TOP_K
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rnk")
        .orderBy("probe_id", "rnk")
    )


# Cosine tolerance for np-vs-exact agreement: BLAS vs sequential-fold
# float summation differs in last ulps; after 6dp rounding any real
# divergence is >= 1e-6, any summation-order artifact is < 2e-6.
_AGREE_TOL = 2e-6

_BF_AGREE_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST({_TOP_K} AS BIGINT) AS k,
       CAST(COUNT(*) * {_TOP_K} AS BIGINT) AS n_agreeing
FROM embeddings WHERE vec_id % {_PROBE_MOD} = 0
"""


def np_agreement_witness(exact: DataFrame, fast: DataFrame, k: int) -> DataFrame:
    """Cross-tier agreement witness: join the BLAS tier to the exact
    oracled tier on (probe_id, rnk) and count rank positions whose
    cosines agree within _AGREE_TOL. Comparing COSINE AT RANK (not
    neighbor_id) deliberately treats rank permutations within float-tied
    cosines as agreement — tied neighbors are interchangeable, exactly
    the rule tests/test_similarity_np.py applies.

    The single output row (n_probes, k, n_agreeing) has the trivially
    derivable truth n_agreeing = n_probes * k, which makes the np scale
    tiers verifiable by the external driver through a plain SQL oracle —
    the reference's own cross-API-agreement methodology
    (/root/reference/README.md:131-140, rdd/sql/df differential runs)
    applied across execution tiers. An inner join means a dropped probe
    or missing rank shrinks BOTH counts and goes red; a cosine
    divergence shrinks only n_agreeing."""
    ex = exact.select("probe_id", "rnk", F.col("cosine").alias("cos_exact"))
    fa = fast.select("probe_id", "rnk", F.col("cosine").alias("cos_np"))
    return (
        fa.join(ex, ["probe_id", "rnk"])
        .agg(
            F.countDistinct("probe_id").cast("long").alias("n_probes"),
            F.sum(
                F.when(F.abs(F.col("cos_np") - F.col("cos_exact")) < _AGREE_TOL, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_agreeing"),
        )
        .select("n_probes", F.lit(k).cast("long").alias("k"), "n_agreeing")
    )


@register("ann_bruteforce_np_agreement", oracle=_BF_AGREE_ORACLE)
def ann_bruteforce_np_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable witness for the BLAS brute-force tier: every
    (probe, rank) of ann_topk_bruteforce_np must carry the same cosine
    as the exact oracled tier (rank permutations within float ties
    allowed). See np_agreement_witness for the contract."""
    return np_agreement_witness(
        ann_topk_bruteforce(spark, sf_dir), ann_topk_bruteforce_np(spark, sf_dir), _TOP_K
    )


_NEAR_DUP_ORACLE = f"""
WITH v AS ({_DD_V})
SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({_DD_COS}, 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {_DD_COS} >= {_NEAR_DUP_COS}
ORDER BY id_a, id_b
"""


@register("embedding_near_dup", oracle=_NEAR_DUP_ORACLE)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine near-dup (exactness baseline). O(n^2): correct at
    test scale, intentionally superseded by the LSH tier for scale —
    mirrored by the reference's own worst-plan demonstration
    (forced cartesian, ``results/query3.txt:92-94``). Input-size guarded:
    refuses to run past ALLPAIRS_MAX_ROWS."""
    emb = guard_allpairs(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", V.to_double_array(F.col("embedding")).alias("e")
        ),
        "embedding_near_dup",
    )
    dim_row = emb.select(F.size("e").alias("d")).first()
    dim = dim_row["d"] if dim_row else 0
    flat = V.flatten_vec(
        emb.withColumn("nrm", V.norm(F.col("e"))), "e", dim, "_x", ["vec_id", "nrm"]
    )
    a = flat.select(
        F.col("vec_id").alias("id_a"),
        F.col("nrm").alias("na"),
        *[F.col(f"_x{i}").alias(f"_a{i}") for i in range(dim)],
    )
    b = flat.select(
        F.col("vec_id").alias("id_b"),
        F.col("nrm").alias("nb"),
        *[F.col(f"_x{i}").alias(f"_b{i}") for i in range(dim)],
    )
    cos = V.dot_flat("_a", "_b", dim) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= _NEAR_DUP_COS)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def _dd_bucket(planes: list[list[float]]) -> str:
    terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(w) for w in plane) + "]"
        terms.append(f"(CASE WHEN list_dot_product(e, {lit}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


_LSH_TABLE_SELECTS = "\n    UNION ALL ".join(
    f"SELECT vec_id, e, {t} AS t, {_dd_bucket(planes)} AS bucket FROM v"
    for t, planes in enumerate(_LSH_TABLES)
)

_LSH_ORACLE = f"""
WITH v AS ({_DD_V}),
tb AS (
    {_LSH_TABLE_SELECTS}
), cand AS (
    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
    FROM tb x JOIN tb y
      ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.id_a, c.id_b, ROUND({_DD_COS}, 6) AS cosine
FROM cand c
JOIN v a ON a.vec_id = c.id_a
JOIN v b ON b.vec_id = c.id_b
WHERE {_DD_COS} >= {_LSH_CAND_COS}
ORDER BY id_a, id_b
"""


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct candidate id pairs from the OR-amplified band join (the
    pre-verification stage whose volume IS the scale cost).

    Each vector gets one bucket id per band table (posexplode →
    (table, bucket) rows); candidates form via equi-join on
    (table, bucket) — a key-partitioned shuffle, never a cartesian —
    then a groupBy dedups pairs that co-bucket in several tables.
    Ids ONLY through the join and dedup shuffle (16 B/row); the caller
    re-attaches vectors from a broadcast side, so Σ bucket² rows never
    drag ~1 KB arrays through an exchange."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", V.to_double_array(F.col("embedding")).alias("e")
    )
    buckets = F.array(*[V.simhash_bucket(F.col("e"), planes) for planes in _LSH_TABLES])
    tabled = emb.select("vec_id", F.posexplode(buckets).alias("t", "bucket"))
    a = tabled.select(F.col("vec_id").alias("id_a"), "t", "bucket")
    b = tabled.select(
        F.col("vec_id").alias("id_b"),
        F.col("t").alias("t_b"),
        F.col("bucket").alias("bucket_b"),
    )
    return (
        a.join(
            b,
            (F.col("t") == F.col("t_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )


@register("ann_lsh_bucketed", oracle=_LSH_ORACLE)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: OR-amplified sign-random-projection LSH
    (_LSH_N_TABLES band tables x _LSH_PLANES_PER_TABLE planes).
    Candidates only form within a (table, bucket) group — an equi-join,
    so cost is Σ bucket², never n² — then exact cosine verifies each
    distinct candidate once, against broadcast flat-column vector sides
    (JIT-able dot, no array-laden shuffle). At 100 TB: planes/table
    grows with log(n) to keep buckets bounded, tables grow to hold
    recall (the standard LSH (r, b) trade; measured recall in
    PERFORMANCE.md)."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", V.to_double_array(F.col("embedding")).alias("e")
    )
    dim_row = emb.select(F.size("e").alias("d")).first()
    dim = dim_row["d"] if dim_row else 0
    ea = V.flatten_vec(
        emb.select(F.col("vec_id").alias("id_a"), "e", V.norm(F.col("e")).alias("na")),
        "e", dim, "_a", ["id_a", "na"],
    )
    eb = V.flatten_vec(
        emb.select(F.col("vec_id").alias("id_b"), "e", V.norm(F.col("e")).alias("nb")),
        "e", dim, "_b", ["id_b", "nb"],
    )
    cos = V.dot_flat("_a", "_b", dim) / (F.col("na") * F.col("nb"))
    return (
        lsh_candidate_pairs(spark, sf_dir)
        .join(F.broadcast(ea), "id_a")
        .join(F.broadcast(eb), "id_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= _LSH_CAND_COS)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Recall witness: the LSH tier's recall, measured as an oracled query
# ---------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH v AS ({_DD_V}),
truth AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {_DD_COS} >= {_NEAR_DUP_COS}
),
tb AS (
    {_LSH_TABLE_SELECTS}
), cand AS (
    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
    FROM tb x JOIN tb y
      ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
),
hit AS (
    SELECT t.id_a FROM truth t JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
       ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / (SELECT COUNT(*) FROM truth), 6) AS recall
"""


@register("lsh_recall_witness", oracle=_RECALL_ORACLE, driver=False)
def lsh_recall_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tier's RECALL as a first-class oracled query: candidate
    pairs from the OR-amplified band join, truth pairs from the guarded
    exact all-pairs baseline, one row (n_truth, n_candidates, n_hit,
    recall). Promotes the offline recall report
    (tools/recall_report.py, PERFORMANCE.md table) into the
    differential-verification surface — the recall KNOB (tables x
    planes) is now externally checkable, not just quoted in docs.

    Shape: the truth side is the O(n^2) exactness baseline, so this
    witness is input-size guarded like every all-pairs plan here; at
    scale recall is estimated on a guarded hash-sample of vectors
    (same query over sample_hash_bucket's deterministic slice). The
    candidate side is ids-only through the band equi-join; the final
    assembly joins three one-row aggregates."""
    truth = embedding_near_dup(spark, sf_dir).select("id_a", "id_b")
    cand = lsh_candidate_pairs(spark, sf_dir)
    counts = truth.join(cand.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit"),
    )
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    return counts.crossJoin(F.broadcast(n_cand)).select(
        "n_truth",
        "n_candidates",
        "n_hit",
        F.round(F.col("n_hit").cast("double") / F.col("n_truth"), 6).alias("recall"),
    )
