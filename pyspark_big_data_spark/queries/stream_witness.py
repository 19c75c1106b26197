"""Streaming replay witness: the first CORRECTNESS-surface row whose
Spark side actually RUNS a Structured Streaming loop.

Stream==batch agreement for the incremental dedup pipeline has been
pytest-only since round 3 (tests/test_streaming.py's 3-batch replay) —
inherent to a batch ``queries()`` contract. This query externalizes it:
it replays the corpus through the real availableNow foreachBatch loop
(streaming/incremental_dedup.py — JSONL drop dir, one file per
micro-batch, persisted band index, pairs sink) INSIDE the query
function, then reduces "streamed pair set == full-recompute pair set"
to a one-row digest the DuckDB oracle can pin: n_full is independently
recomputed from the full MinHash pipeline SQL, and n_stream/n_agreeing
must equal it — a dropped, duplicated, or extra pair anywhere in the
micro-batch replay flips the row red.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.queries.dedup import _MINHASH_ORACLE, dedup_minhash_lsh
from pyspark_big_data_spark.queries.registry import multiset_equal, register

_REPLAY_BATCHES = 3

_REPLAY_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_full,
       CAST(COUNT(*) AS BIGINT) AS n_stream,
       CAST(COUNT(*) AS BIGINT) AS n_agreeing
FROM ({_MINHASH_ORACLE})
"""


def _drop_jsonl_batches(docs: DataFrame, root: str, id_col: str = "doc_id") -> str:
    """Write ``docs`` into ``{root}/drop`` as {_REPLAY_BATCHES} JSONL
    files (``id_col`` mod split), so a maxFilesPerTrigger=1 availableNow
    stream replays the corpus one micro-batch per file. Returns the
    drop dir."""
    import glob
    import os
    import shutil

    drop_dir = f"{root}/drop"
    os.makedirs(drop_dir)
    for i in range(_REPLAY_BATCHES):
        stage = f"{root}/stage{i}"
        docs.filter(F.col(id_col) % _REPLAY_BATCHES == i).coalesce(1).write.mode(
            "overwrite"
        ).json(stage)
        (part,) = glob.glob(f"{stage}/part-*.json")
        shutil.move(part, f"{drop_dir}/batch{i}.json")
    return drop_dir


def replay_corpus_through_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop the documents table into a JSONL directory as
    {_REPLAY_BATCHES} files, run the availableNow incremental-dedup
    stream over it (maxFilesPerTrigger=1 → one micro-batch per file),
    and return the accumulated pairs sink. Fresh temp state per call —
    the witness must exercise the cold-start index path too."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.streaming.incremental_dedup import run_dedup_stream

    root = session_tmpdir("dedup_replay_")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    drop_dir = _drop_jsonl_batches(docs, root)
    q = run_dedup_stream(
        spark,
        drop_dir,
        docs.schema,
        index_dir=f"{root}/index",
        pairs_dir=f"{root}/pairs",
        checkpoint_dir=f"{root}/ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    return spark.read.parquet(f"{root}/pairs")


@register("streaming_dedup_replay_witness", oracle=_REPLAY_ORACLE)
def streaming_dedup_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row digest (n_full, n_stream, n_agreeing) of the micro-batch
    replay against the full recompute. Agreement = identical (id_a,
    id_b) key AND identical estimator value (both sides are the same
    md5 signature arithmetic, so est_jaccard must match exactly — the
    1e-9 tolerance only absorbs the 16-way division's representation).
    The streamed set must be exactly the full set: any batch
    partitioning of the corpus yields old x new plus new x new pairs
    covering every pair once (the determinism contract of
    streaming/incremental_dedup.py, here driver-verified)."""
    stream_pairs = replay_corpus_through_stream(spark, sf_dir).select(
        "id_a", "id_b", F.col("est_jaccard").alias("_est_stream")
    )
    full_pairs = dedup_minhash_lsh(spark, sf_dir).select(
        "id_a", "id_b", F.col("est_jaccard").alias("_est_full")
    )
    both = F.col("_est_full").isNotNull() & F.col("_est_stream").isNotNull()
    agree = both & (F.abs(F.col("_est_full") - F.col("_est_stream")) < 1e-9)
    return (
        full_pairs.join(stream_pairs, ["id_a", "id_b"], "full_outer")
        .agg(
            F.count("_est_full").cast("long").alias("n_full"),
            F.count("_est_stream").cast("long").alias("n_stream"),
            F.sum(F.when(agree, 1).otherwise(0)).cast("long").alias("n_agreeing"),
        )
    )


def _cms_replay_oracle() -> str:
    from pyspark_big_data_spark.queries.sketch_freq import _cms_cells_sql

    return f"""
WITH {_cms_cells_sql()}
SELECT CAST(seed AS BIGINT) AS seed,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(cell AS BIGINT) AS cell
FROM cells ORDER BY seed, bucket
"""


@register("streaming_cms_replay_witness", oracle=_cms_replay_oracle(), driver=False)
def streaming_cms_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND streaming loop externalized to the driver surface
    (the streaming_dedup_replay_witness pattern applied to the
    continuous CMS index): replay the corpus through the availableNow
    foreachBatch loop of streaming/cms_maintain.py — one micro-batch
    per JSONL file, each folded into the persisted d x w grid through
    versioned.replace_parquet with the in-grid redelivery marker — then return the
    PERSISTED grid itself. Because CMS cells ADD, the batch-folded grid
    must equal the single-pass grid CELL FOR CELL, and DuckDB
    recomputes that single-pass grid independently — so this row
    value-hashes every counter of the streamed artifact, not a digest:
    one dropped batch, double-applied redelivery, or swap bug flips it
    red. Fresh temp state per call (cold-start covered); ~2k rows out
    regardless of corpus size."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.streaming.cms_maintain import run_cms_stream

    root = session_tmpdir("cms_replay_")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    drop_dir = _drop_jsonl_batches(docs, root)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .json(drop_dir)
    )
    q = run_cms_stream(stream, f"{root}/index", f"{root}/ckpt")
    q.awaitTermination()
    grid = spark.read.parquet(f"{root}/index/grid")
    return grid.select(
        F.col("seed").cast("long").alias("seed"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cell").cast("long").alias("cell"),
    ).orderBy("seed", "bucket")


# ---------------------------------------------------------------------------
# THIRD streaming loop externalized: the incremental-ANN index
# maintenance (streaming/incremental_ann.py). The replayed artifact is
# the persisted IVF index itself — (vec_id, cell) for every vector —
# which is batch-split/order INVARIANT: the quantizer is frozen at seed
# time (standard IVF operating mode), so each streamed vector's cell is
# argmax centroid-cosine regardless of which micro-batch carried it,
# and appends are keyed by vec_id (adds commute). The per-batch
# NEIGHBOR outputs are deliberately not oracled here: they depend on
# micro-batch boundaries by design (old x new semantics); their
# stream==batch equivalence is pinned in tests/test_incremental_ann.py.

_ANN_REPLAY_MOD = 10  # streamed batch = vec_id % 10 == 0, the corpus split
                      # every incremental tier in queries/ann_ivf.py uses


def _ann_replay_oracle() -> str:
    """DuckDB recompute of the persisted index state: seed vectors keep
    their label cell; streamed vectors get the argmax centroid-cosine
    cell. Bitwise agreement holds because the seed build is
    decimal-exact (build_ivf_index(exact=True) — both engines produce
    the identical cval/cn doubles) and the assignment cosine is a
    sequential left-to-right fold on both sides (V.dot_flat ==
    list_dot_product, the repo-wide differential contract in
    functions/vectors.py)."""
    return f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings
), idx AS (
    SELECT * FROM v WHERE vec_id % {_ANN_REPLAY_MOD} <> 0
), pv AS (
    SELECT label,
           unnest(generate_series(1, len(e))) AS pos,
           unnest(e) AS val
    FROM idx
), centroids AS (
    SELECT label, pos,
           CAST(SUM(CAST(val AS DECIMAL(38,18))) AS DOUBLE) / COUNT(val) AS cval
    FROM pv GROUP BY label, pos
), cvecs AS (
    SELECT label, list(cval ORDER BY pos) AS ce,
           sqrt(CAST(SUM(CAST(cval * cval AS DECIMAL(38,18))) AS DOUBLE)) AS cn
    FROM centroids GROUP BY label
), streamed AS (
    SELECT b.vec_id, c.label,
           list_dot_product(b.e, c.ce)
               / (sqrt(list_dot_product(b.e, b.e)) * c.cn) AS ccos
    FROM (SELECT * FROM v WHERE vec_id % {_ANN_REPLAY_MOD} = 0) b
    CROSS JOIN cvecs c
), assigned AS (
    SELECT vec_id, label AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
    FROM streamed
)
SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
    SELECT vec_id, label AS cell FROM idx
    UNION ALL
    SELECT vec_id, cell FROM assigned WHERE rn = 1
) ORDER BY vec_id
"""


@register("streaming_ann_replay_witness", oracle=_ann_replay_oracle())
def streaming_ann_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the embedding corpus' arrival batch (vec_id %
    {_ANN_REPLAY_MOD} == 0) through the REAL availableNow foreachBatch
    loop of streaming/incremental_ann.py — one micro-batch per JSONL
    file against an index seeded from the corpus split with a
    decimal-exact frozen quantizer — then return the PERSISTED index
    state itself: (vec_id, cell) for every vector, seed and streamed.
    DuckDB independently recomputes that state (seed cells verbatim,
    streamed cells re-derived as argmax centroid cosine), so the row
    value-hashes the streamed artifact vector-for-vector: a dropped
    micro-batch, a double append, a stale/perturbed centroid, or an
    assignment tie broken differently flips it red. Fresh temp state
    per call (cold-start path covered); JSON float round-trip is exact
    (Jackson shortest-repr doubles parse back bit-identical)."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.streaming.incremental_ann import (
        build_ivf_index,
        run_ann_stream,
    )

    root = session_tmpdir("ann_replay_")
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"), "label"
    )
    seed = emb.filter(F.col("vec_id") % _ANN_REPLAY_MOD != 0)
    batch = emb.filter(F.col("vec_id") % _ANN_REPLAY_MOD == 0).select("vec_id", "e")

    build_ivf_index(seed, f"{root}/index", exact=True)
    drop_dir = _drop_jsonl_batches(batch, root, id_col="vec_id")
    q = run_ann_stream(
        spark,
        drop_dir,
        batch.schema,
        index_dir=f"{root}/index",
        neighbors_dir=f"{root}/neighbors",
        checkpoint_dir=f"{root}/ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    vectors = spark.read.parquet(f"{root}/index/vectors")
    return vectors.select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# FOURTH streaming loop externalized: incremental view maintenance
# (streaming/ivm.py). The maintained artifact is the revenue_by_nation
# aggregate view; running sums are carried as DECIMAL so folds are
# associative/commutative — ANY batch split of the fact table must
# reproduce the one-shot aggregate bit-for-bit, and the oracle IS
# revenue_by_nation's own SQL (DuckDB computes the one-shot view; the
# Spark side computes it by replaying the fact stream through the
# foreachBatch fold + crash-safe MERGE three micro-batches at a time).


def _ivm_replay_oracle() -> str:
    from pyspark_big_data_spark.queries.analytics import _REVENUE_ORACLE

    return _REVENUE_ORACLE


@register("streaming_ivm_replay_witness", oracle=_ivm_replay_oracle())
def streaming_ivm_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the lineitem fact table through the availableNow IVM loop
    (one JSONL file per micro-batch, split by l_orderkey mod — split
    choice is immaterial because the persisted view's running sums are
    DECIMAL(38,8): exact, order-independent), then return the
    maintained view in report shape. The oracle is revenue_by_nation's
    one-shot SQL, so the row value-hashes the persisted incremental
    view against the from-scratch aggregate: a dropped batch, a
    double-applied fold, a lost nation on MERGE, or double-sum drift
    across batch boundaries flips it red. Each fold joined ONLY its
    delta through the broadcast dim chain — old facts are never
    rescanned (the self-maintainable-view contract, ivm.py)."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.streaming.ivm import revenue_report, run_ivm_stream

    root = session_tmpdir("ivm_replay_")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    drop_dir = _drop_jsonl_batches(li, root, id_col="l_orderkey")
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .json(drop_dir)
    )
    q = run_ivm_stream(stream, f"{root}/view", sf_dir, f"{root}/ckpt")
    q.awaitTermination()
    return revenue_report(spark, f"{root}/view")


# ---------------------------------------------------------------------------
# FIFTH streaming loop externalized: continuous SCD2 maintenance
# (streaming/scd2_maintain.py). Unlike the four loops above this one has
# an ARRIVAL-ORDER contract (batches must arrive in event-time order
# per customer — the log-compacted-CDC guarantee), so the replay splits
# orders into DATE-RANGE batches and pins each drop file's mtime
# strictly ascending: the file source (latestFirst=false) then replays
# them oldest-first, exactly the arrival order the contract requires.

_SCD2_SPLIT_DATES = ("1995-01-01", "1997-01-01")


def _drop_scd2_batches(orders: DataFrame, root: str) -> str:
    """Write ``orders`` as three date-range JSONL files with strictly
    ascending modification times (epoch base, +10 s apart), so the
    maxFilesPerTrigger=1 availableNow stream replays history in event-
    time order."""
    import glob
    import os
    import shutil
    import time as _time

    drop_dir = f"{root}/drop"
    os.makedirs(drop_dir)
    lo, hi = _SCD2_SPLIT_DATES
    preds = [
        F.col("o_orderdate") < lo,
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi),
        F.col("o_orderdate") >= hi,
    ]
    base = int(_time.time()) - 3600
    for i, pred in enumerate(preds):
        stage = f"{root}/stage{i}"
        orders.filter(pred).coalesce(1).write.mode("overwrite").json(stage)
        (part,) = glob.glob(f"{stage}/part-*.json")
        dst = f"{drop_dir}/batch{i}.json"
        shutil.move(part, dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))
    return drop_dir


def _scd2_replay_oracle() -> str:
    from pyspark_big_data_spark.queries.dimension import _SCD2_ORACLE

    return _SCD2_ORACLE


@register("streaming_scd2_replay_witness", oracle=_scd2_replay_oracle())
def streaming_scd2_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the orders table through the availableNow SCD2 loop in
    three date-range micro-batches (mtime-ordered, honoring the
    arrival-order contract) and return the PERSISTED dimension in
    report shape. The oracle is scd2_customer_priority's one-shot SQL —
    the full batch derivation — so the row value-hashes every version
    of the streamed dimension: a version opened twice, an open version
    left unclosed after supersession, a lost n_orders increment on the
    continuing-version arm, or a MERGE that dropped untouched history
    flips it red. Each fold touched only its batch's customers (their
    open versions + the delta), never the closed history — the
    touched-partition economics of scd2_maintain.py, here
    driver-verified end to end."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.streaming.scd2_maintain import (
        run_scd2_stream,
        scd2_report,
    )

    root = session_tmpdir("scd2_replay_")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    drop_dir = _drop_scd2_batches(orders, root)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .json(drop_dir)
    )
    q = run_scd2_stream(stream, f"{root}/dim", f"{root}/ckpt")
    q.awaitTermination()
    return scd2_report(spark, f"{root}/dim").orderBy("c_custkey", "version")


# ---------------------------------------------------------------------------
# SIXTH streaming witness: the stream-NATIVE-state pipeline. The five
# loops above are foreachBatch over persisted parquet state; continuous
# corpus ingestion (streaming/corpus_ingest.py) instead holds its dedup
# state INSIDE the engine (dropDuplicatesWithinWatermark), so this
# witness externalizes the other state model. Which doc survives a
# duplicate fingerprint is arrival-order-dependent by design (first
# arrival wins; the batch pipeline keeps min doc_id), so the oracled
# artifact is the order-INVARIANT one: the kept fingerprint SET, which
# must equal the distinct fingerprints of quality-passing docs exactly.


def _ingest_replay_oracle() -> str:
    from pyspark_big_data_spark.functions import text as TX
    from pyspark_big_data_spark.queries.training_pipeline import (
        _LANGS,
        _MAX_PUNCT,
        _MIN_WORDS,
    )

    langs = ", ".join(f"'{lang}'" for lang in _LANGS)
    return f"""
WITH fp AS (
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_words,
           CAST(length(text) - length(regexp_replace(text, '{TX.PUNCT_CLASS}', '', 'g'))
                AS DOUBLE) / greatest(length(text), 1) AS pratio,
           lang
    FROM documents
)
SELECT DISTINCT fp, CAST(1 AS BIGINT) AS n_rows FROM fp
WHERE n_words >= {_MIN_WORDS} AND pratio <= {_MAX_PUNCT} AND lang IN ({langs})
ORDER BY fp
"""


@register("streaming_ingest_replay_witness", oracle=_ingest_replay_oracle(), driver=False)
def streaming_ingest_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents table through the REAL continuous-ingestion
    pipeline — JSONL drops (one micro-batch per file, plus one injected
    corrupt line that the permissive reader must quarantine), stateless
    quality gate, watermark-bounded exact dedup in ENGINE state, and a
    foreachBatch parquet sink — then return the kept fingerprint set.
    All ingest_ts values sit inside one watermark window, so the dedup
    state spans every micro-batch: a fingerprint deduped in batch 0
    must still block its duplicates in batch 2. The witness returns the
    RAW per-fingerprint sink row count (no distinct — a duplicate that
    leaked across micro-batches shows up as n_rows=2) while DuckDB
    independently expects every quality-passing fingerprint exactly
    once, so a dropped batch, a leaked duplicate across batches, a
    corrupt line admitted, or a quality gate drifting from the batch
    pipeline flips the row red."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.streaming.corpus_ingest import ingest_corpus_stream

    root = session_tmpdir("ingest_replay_")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.lit("2024-01-01 00:00:01").cast("timestamp").alias("ingest_ts"),
    )
    drop_dir = _drop_jsonl_batches(docs, root, id_col="doc_id")
    with open(f"{drop_dir}/batch0.json", "a", encoding="utf-8") as fh:
        fh.write('{"doc_id": broken json, "text": \n')

    sink = f"{root}/curated"
    q = (
        ingest_corpus_stream(spark, drop_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            lambda batch, _id: batch.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(sink)
        .groupBy("fp")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("fp")
    )


# ---------------------------------------------------------------------------
# Redelivery-safe sink witness: foreachBatch exactly-once via dynamic
# partition overwrite (streaming/sinks.py). The failure mode being
# externalized is the crash window between a sink write and the
# checkpoint commit — the engine replays the batch with identical
# content, and a plain append sink double-writes it. The witness
# REDELIVERS the final batch on purpose; the oracle expects each
# document's fingerprint exactly as many times as the corpus contains
# it, so any double-append flips the row red.


def _exactly_once_oracle() -> str:
    return """
WITH fp AS (
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
)
SELECT fp, COUNT(*) AS n_rows FROM fp GROUP BY fp ORDER BY fp
"""


@register(
    "streaming_exactly_once_sink_witness",
    oracle=_exactly_once_oracle(),
    driver=False,
)
def streaming_exactly_once_sink_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents corpus through a stateless fingerprint
    stream (one micro-batch per JSONL drop file) into the
    exactly-once parquet sink, then SIMULATE the crash-redelivery of
    the final micro-batch — re-invoking the sink with that batch's own
    content, which is exactly what Structured Streaming's replayability
    contract delivers on restart — and return per-fingerprint sink
    counts. The sink writes each batch to its own ``_batch_id``
    partition with dynamic partition overwrite, so the redelivery
    replaces its partition instead of appending a second copy; DuckDB
    independently computes each fingerprint's true corpus multiplicity
    (NO dedup in this pipeline — exact duplicates legitimately count
    >1), so a double-append, a dropped batch, or overwrite leaking
    into other batches' partitions flips the row red."""
    from pyspark_big_data_spark.functions import text as TX
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.streaming.sinks import exactly_once_parquet_sink

    root = session_tmpdir("eo_sink_")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    drop_dir = _drop_jsonl_batches(docs, root)

    sink = f"{root}/curated"
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(drop_dir)
        .select(TX.fingerprint(F.col("text")).alias("fp"))
    )
    q = (
        stream.writeStream.foreachBatch(exactly_once_parquet_sink(sink))
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    table = spark.read.parquet(sink)
    last = int(table.agg(F.max("_batch_id")).first()[0])
    redelivered = table.filter(F.col("_batch_id") == last).drop("_batch_id")
    exactly_once_parquet_sink(sink)(redelivered, last)
    spark.catalog.refreshByPath(sink)

    return (
        spark.read.parquet(sink)
        .groupBy("fp")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("fp")
    )


# ---------------------------------------------------------------------------
# SEVENTH streaming witness: the applyInPandasWithState model. Sharded
# SpaceSaving heavy hitters keep their summaries as ARBITRARY PYTHON
# STATE inside the engine's state store — the third state model after
# foreachBatch-over-parquet and dropDuplicatesWithinWatermark. The
# sketch CONTENT is batching-dependent (evictions), so the oracled
# artifact is the batching-INVARIANT part: the per-shard exact
# heavy-hitter census (DuckDB-computable because shard routing uses the
# portable hash48) plus the two SpaceSaving guarantees as
# must-be-zero violation counts — the planted/lsh recall-witness
# pattern, applied to engine state.


def _hh_replay_oracle() -> str:
    from pyspark_big_data_spark.functions.text import hash48_sql_duckdb
    from pyspark_big_data_spark.queries.text_analysis import _TOKS
    from pyspark_big_data_spark.streaming.heavy_hitters import CAPACITY, N_SHARDS

    return f"""
WITH tok AS (
    SELECT unnest({_TOKS}) AS tok FROM documents
), sharded AS (
    SELECT tok, CAST({hash48_sql_duckdb('tok')} % {N_SHARDS} AS INTEGER) AS shard,
           COUNT(*) AS c
    FROM tok GROUP BY 1, 2
), totals AS (
    SELECT shard, SUM(c) AS shard_len FROM sharded GROUP BY shard
)
SELECT s.shard,
       CAST(COUNT(*) FILTER (
           WHERE s.c > CAST(t.shard_len AS DOUBLE) / {CAPACITY}) AS BIGINT)
           AS n_true_hh,
       CAST(0 AS BIGINT) AS n_missed,
       CAST(0 AS BIGINT) AS n_violations
FROM sharded s JOIN totals t ON t.shard = s.shard
GROUP BY s.shard
ORDER BY s.shard
"""


@register("streaming_hh_replay_witness", oracle=_hh_replay_oracle(), driver=False)
def streaming_hh_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the corpus token stream through the REAL sharded
    SpaceSaving pipeline (streaming/heavy_hitters.py — one JSONL file
    per micro-batch, summaries held in applyInPandasWithState state,
    update-mode emissions captured per batch), extract each shard's
    FINAL sketch (its last emission = current state content), and
    check it against the exact per-shard counts:

    - n_true_hh: tokens whose exact shard count exceeds
      shard_len/CAPACITY — recomputed independently by DuckDB;
    - n_missed (must be 0): guaranteed heavy hitters absent from the
      final sketch — the SpaceSaving containment guarantee;
    - n_violations (must be 0): final-sketch entries where NOT
      (cnt >= true AND cnt - err <= true) — the overestimate-bound
      guarantee, valid on current state (stale emissions of evicted
      tokens are excluded by the last-batch extraction; their bounds
      only held at emission time).

    Both guarantees hold under ANY batch split/order, so the digest
    needs no arrival-order pinning — unlike the sketch content itself,
    which is batching-dependent and stays out of the oracle."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.functions import text as TX
    from pyspark_big_data_spark.streaming.heavy_hitters import (
        CAPACITY,
        N_SHARDS,
        streaming_heavy_hitters,
    )

    root = session_tmpdir("hh_replay_")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    drop_dir = _drop_jsonl_batches(docs, root, id_col="doc_id")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .json(drop_dir)
    )
    sink = f"{root}/summaries"
    q = (
        streaming_heavy_hitters(stream)
        .writeStream.foreachBatch(
            lambda batch, bid: batch.withColumn("batch_id", F.lit(bid))
            .write.mode("append")
            .parquet(sink)
        )
        .outputMode("update")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emitted = spark.read.parquet(sink)
    w = Window.partitionBy("shard")
    final = (
        emitted.withColumn("max_bid", F.max("batch_id").over(w))
        .filter(F.col("batch_id") == F.col("max_bid"))
        .select("shard", "tok", "cnt", "err")
    )

    exact = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .select("tok", (TX.hash48(F.col("tok")) % N_SHARDS).cast("int").alias("shard"))
        .groupBy("shard", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = exact.groupBy("shard").agg(F.sum("c").alias("shard_len"))
    joined = (
        exact.join(totals, "shard")
        .join(final, ["shard", "tok"], "left")
        .withColumn(
            "is_true_hh",
            F.col("c") > F.col("shard_len").cast("double") / F.lit(CAPACITY),
        )
    )
    return (
        joined.groupBy("shard")
        .agg(
            F.sum(F.when(F.col("is_true_hh"), 1).otherwise(0))
            .cast("long")
            .alias("n_true_hh"),
            F.sum(
                F.when(F.col("is_true_hh") & F.col("cnt").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_missed"),
            F.sum(
                F.when(
                    F.col("cnt").isNotNull()
                    & ~(
                        (F.col("cnt") >= F.col("c"))
                        & (F.col("cnt") - F.col("err") <= F.col("c"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_violations"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# EIGHTH streaming loop externalized: incremental inverted-index
# maintenance (streaming/incremental_index.py). The maintained artifact
# is the bucket-partitioned postings index; a document's postings derive
# entirely from its own text (tf never crosses docs), so the index state
# is batch-split INVARIANT — any micro-batch partitioning reproduces the
# one-shot build. The witness value-pins the artifact through its query
# surface: a conjunctive search over the STREAM-maintained index against
# DuckDB's recompute from raw text (the same oracle as the one-shot
# inverted_index_search_witness — drift between the two rows isolates
# maintenance bugs from build bugs).


def _index_replay_oracle() -> str:
    from pyspark_big_data_spark.queries.inverted import _INV_ORACLE

    return _INV_ORACLE


@register("streaming_index_replay_witness", oracle=_index_replay_oracle(),
          driver=False)
def streaming_index_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents corpus through the availableNow foreachBatch
    index-maintenance loop (one JSONL file per micro-batch, doc_id mod
    split — the first batch exercises the cold-start append-creates-
    index path), then answer the 3-term conjunctive search over the
    MAINTAINED index. Emits (doc_id, score, bucket_gate) exactly like
    inverted_index_search_witness; DuckDB recomputes the conjunction
    from raw text, so a dropped micro-batch (missing postings), a
    double-applied batch (doubled tf scores), or an append routed to
    the wrong bucket flips the row red."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.inverted_index import search_all_terms
    from pyspark_big_data_spark.queries.inverted import _N_BUCKETS, _QUERY_TERMS
    from pyspark_big_data_spark.streaming.incremental_index import run_index_stream

    root = session_tmpdir("index_replay_")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    drop_dir = _drop_jsonl_batches(docs, root)
    q = run_index_stream(
        spark,
        drop_dir,
        docs.schema,
        index_dir=f"{root}/index",
        checkpoint_dir=f"{root}/ckpt",
        n_buckets=_N_BUCKETS,
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    hits, n_touched = search_all_terms(
        spark, f"{root}/index", _QUERY_TERMS, _N_BUCKETS
    )
    gate = 1 if n_touched < _N_BUCKETS else 0
    return hits.select(
        "doc_id", "score", F.lit(gate).cast("long").alias("bucket_gate")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Append-chain streaming sink witness: each micro-batch commits as a
# file-level APPEND (O(batch) bytes), redelivery is skipped by the
# manifest's writer_batch_id marker, and the chain read serves the
# exact corpus. The transaction-log shape of a lakehouse streaming
# sink, driver-verified.


def _append_chain_oracle() -> str:
    return """
WITH fp AS (
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
)
SELECT fp, COUNT(*) AS n_rows,
       CAST(1 AS BIGINT) AS chain_gate,
       CAST(1 AS BIGINT) AS skip_gate
FROM fp GROUP BY fp ORDER BY fp
"""


@register(
    "streaming_append_chain_replay_witness",
    oracle=_append_chain_oracle(),
    driver=False,
)
def streaming_append_chain_replay_witness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay the documents corpus through a stateless fingerprint
    stream into the exactly-once APPEND-CHAIN sink
    (streaming/sinks.py::exactly_once_append_chain_sink): each
    micro-batch commits as a file-level append on one versioned chain
    (operators/versioned.py::append_version — the batch's own bytes
    only, never a snapshot rewrite), stamped with its
    ``writer_batch_id``. After the availableNow replay, the final
    batch is REDELIVERED on purpose (the crash-between-commit-and-
    checkpoint window); the marker makes the sink skip it. Emits
    per-fingerprint counts from the CHAIN READ of the tip version —
    DuckDB recomputes each fingerprint's true corpus multiplicity, so
    a double-append, a dropped batch, or a chain that lost a delta
    flips the row red — plus ``chain_gate`` = 1 iff the chain is
    exactly one version per micro-batch (base + appends, nothing
    extra) and ``skip_gate`` = 1 iff the redelivery added NO version
    (idempotence observed structurally, not just by counts)."""
    from pyspark_big_data_spark.functions import text as TX
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        latest_version,
        read_version,
        version_chain,
    )
    from pyspark_big_data_spark.streaming.sinks import (
        exactly_once_append_chain_sink,
    )

    root = session_tmpdir("chain_sink_")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    drop_dir = _drop_jsonl_batches(docs, root)

    table_root = f"{root}/chain_table"
    sink = exactly_once_append_chain_sink(table_root)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(drop_dir)
        .select(TX.fingerprint(F.col("text")).alias("fp"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    tip = latest_version(spark, table_root)
    chain = version_chain(spark, table_root, tip)
    chain_ok = len(chain) == _REPLAY_BATCHES and tip == _REPLAY_BATCHES - 1

    # crash-redelivery of the final micro-batch: identical content,
    # same batch_id — the sink must skip it without a new version
    last_id = _REPLAY_BATCHES - 1
    redelivered = docs.filter(F.col("doc_id") % _REPLAY_BATCHES == last_id).select(
        TX.fingerprint(F.col("text")).alias("fp")
    )
    sink(redelivered, last_id)
    skip_ok = latest_version(spark, table_root) == tip

    return (
        read_version(spark, table_root, tip)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "fp",
            "n_rows",
            F.lit(1 if chain_ok else 0).cast("long").alias("chain_gate"),
            F.lit(1 if skip_ok else 0).cast("long").alias("skip_gate"),
        )
        .orderBy("fp")
    )


_CDF_STREAM_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS price_sum,
       CAST(1 AS BIGINT) AS batch_equiv_gate,
       CAST(1 AS BIGINT) AS restart_gate
FROM orders WHERE o_orderkey % 3 <> 0
"""


@register("streaming_cdf_replay_witness", oracle=_CDF_STREAM_ORACLE, driver=False)
def streaming_cdf_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous change-data-feed SOURCE driver-verified
    (sources/chain_cdf.py — readStream over a versioned append chain
    with ``{"version": K}`` offsets, one task per delta file; VERDICT
    r10 next-step #5): commit orders%3==0 as the base, append the
    %3==1 and %3==2 slices as two chain versions, then replay the feed
    from v0 through the real availableNow micro-batch loop into a
    parquet sink. Emits the STREAMED rows' (n_rows, decimal-exact
    price_sum) — DuckDB recomputes both from the raw table (the two
    appended slices), so a dropped delta file, a double-served batch,
    or a base row leaking into the feed flips the row red. Gates:
    ``batch_equiv_gate`` = 1 iff the streamed set row-for-row equals
    the batch ``table_changes(0, 2)`` feed (symmetric-difference
    empty); ``restart_gate`` = 1 iff a checkpoint-resumed second run
    after ONE more append delivers exactly the new delta's rows —
    nothing redelivered, nothing skipped (the offsets-are-versions
    replay contract)."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        append_version,
        table_changes,
        write_version,
    )
    from pyspark_big_data_spark.sources.chain_cdf import register_chain_cdf

    register_chain_cdf(spark)
    root = session_tmpdir("cdf_stream_")
    table_root = f"{root}/chain"
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    rem = lambda r: orders.filter(F.col("o_orderkey") % 3 == r)  # noqa: E731
    write_version(rem(0), table_root)
    append_version(rem(1), table_root)
    append_version(rem(2), table_root)

    out1, out2, ckpt = f"{root}/out1", f"{root}/out2", f"{root}/ckpt"

    def _run(out_dir):
        def sink(batch, _bid):
            batch.write.mode("append").parquet(out_dir)

        q = (
            spark.readStream.format("chain_cdf")
            .option("path", table_root)
            .option("from_version", 0)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run(out1)
    streamed = spark.read.parquet(out1)
    feed = table_changes(spark, table_root, 0, 2)
    sym_ok = multiset_equal(streamed, feed)

    # restart after one more append: exactly the new delta arrives
    bump = rem(0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    append_version(bump, table_root)
    _run(out2)
    resumed = spark.read.parquet(out2)
    restart_ok = multiset_equal(resumed, bump)

    from pyspark_big_data_spark.functions.aggregates import dsum

    return streamed.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("o_totalprice", "price_sum")
    ).select(
        "n_rows",
        "price_sum",
        F.lit(1 if sym_ok else 0).cast("long").alias("batch_equiv_gate"),
        F.lit(1 if restart_ok else 0).cast("long").alias("restart_gate"),
    )


_MERGE_SINK_ORACLE = """
WITH final AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0
    UNION ALL
    SELECT o_orderkey, o_totalprice + 2000.0 AS o_totalprice
    FROM orders WHERE o_orderkey % 3 = 1
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS price_sum,
       CAST(1 AS BIGINT) AS skip_gate,
       CAST(1 AS BIGINT) AS marker_gate
FROM final
"""


@register("streaming_merge_replay_witness", oracle=_MERGE_SINK_ORACLE, driver=False)
def streaming_merge_replay_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once STREAMING MERGE sink driver-verified
    (streaming/sinks.py::exactly_once_merge_sink — the
    CDC-apply-to-lakehouse loop: each micro-batch lands as one atomic
    MERGE commit of delta + embedded vector, marker-idempotent): replay
    three batches over an orders%3==0 base — batch 1 UPDATES the %6==0
    keys (+1000) and INSERTS the %3==1 slice, batch 2 DELETES the
    %9==0 keys (flag column) and UPDATES the inserted slice (+2000) —
    then REDELIVER batch 2 on purpose with corrupted content. Emits
    the final MOR state's (n_rows, decimal-exact price_sum); DuckDB
    recomputes the whole fold declaratively, so a clause that fired on
    the wrong rows, a lost batch, or a redelivery that re-applied
    flips the row red. Gates: ``skip_gate`` = 1 iff the redelivery
    added NO version and changed NO value (idempotence observed
    structurally AND by content); ``marker_gate`` = 1 iff every merge
    commit carries its writer_batch_id marker on the chain."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.deletes import read_version_mor
    from pyspark_big_data_spark.operators.versioned import (
        latest_version,
        list_versions,
        manifest,
        version_chain,
    )
    from pyspark_big_data_spark.streaming.sinks import exactly_once_merge_sink

    root = session_tmpdir("merge_sink_")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    sink = exactly_once_merge_sink(root, "o_orderkey", delete_col="is_del")

    def _b(df, deleted=False):
        return df.withColumn("is_del", F.lit(bool(deleted)))

    base = orders.filter(F.col("o_orderkey") % 3 == 0)
    sink(_b(base), 0)
    b1 = _b(
        base.filter(F.col("o_orderkey") % 6 == 0).select(
            "o_orderkey", (F.col("o_totalprice") + 1000.0).alias("o_totalprice")
        )
    ).unionByName(
        _b(
            orders.filter(F.col("o_orderkey") % 3 == 1).select(
                "o_orderkey",
                (F.col("o_totalprice") + 500.0).alias("o_totalprice"),
            )
        )
    )
    sink(b1, 1)
    b2 = _b(
        base.filter(F.col("o_orderkey") % 9 == 0).select(
            "o_orderkey", F.lit(0.0).alias("o_totalprice")
        ),
        deleted=True,
    ).unionByName(
        _b(
            orders.filter(F.col("o_orderkey") % 3 == 1).select(
                "o_orderkey",
                (F.col("o_totalprice") + 2000.0).alias("o_totalprice"),
            )
        )
    )
    sink(b2, 2)

    versions_before = list_versions(spark, root)
    state_before = read_version_mor(spark, root).agg(
        F.sum("o_totalprice").alias("s")
    ).collect()[0]["s"]
    # crash-redelivery with CORRUPTED content: only the id matters
    sink(_b(orders.limit(5).select("o_orderkey", F.lit(-1.0).alias("o_totalprice"))), 2)
    state_after = read_version_mor(spark, root).agg(
        F.sum("o_totalprice").alias("s")
    ).collect()[0]["s"]
    skip_ok = (
        list_versions(spark, root) == versions_before
        and state_before == state_after
    )
    markers = set()
    for v in version_chain(spark, root, latest_version(spark, root)):
        m = manifest(spark, root, v)
        if m and "writer_batch_id" in m:
            markers.add(int(m["writer_batch_id"]))
    marker_ok = markers == {0, 1, 2}

    return read_version_mor(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("o_totalprice", "price_sum")
    ).select(
        "n_rows",
        "price_sum",
        F.lit(1 if skip_ok else 0).cast("long").alias("skip_gate"),
        F.lit(1 if marker_ok else 0).cast("long").alias("marker_gate"),
    )
