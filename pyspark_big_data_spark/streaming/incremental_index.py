"""Continuous inverted-index maintenance: the streaming loop around
operators/inverted_index.py's bucket-partitioned postings.

Each micro-batch of arriving documents is tokenized ONCE and its
postings APPENDED into the existing ``bucket=`` partition directories
(plus its ``(doc_id, dl)`` rows into the ``doclen`` sidecar). Because a
document's postings are derived entirely from its own text — tf and
positions never cross documents — the maintained index state is
BATCH-SPLIT INVARIANT: any micro-batch partitioning of a corpus yields
exactly the one-shot ``build_inverted_index`` postings set, which is
what the replay witness value-pins (queries/stream_witness.py::
streaming_index_replay_witness — searches over the maintained index
must equal the DuckDB recompute from raw text).

Same design call as incremental_dedup/incremental_ann: foreachBatch
over a parquet index rather than stream-native state, because index
state must outlive any watermark horizon, stay offline-queryable
(searches run against it BETWEEN batches with no stream involvement),
and be compactable — per-append small files inside each bucket are the
usual streaming-ingest fragmentation, bounded offline exactly like the
minhash band index (tools/compact_index.py pattern: rewrite one bucket
directory through versioned.replace_parquet). Doc ids are assumed unique across batches
(upstream ingest dedup, streaming/corpus_ingest.py's contract);
re-delivered files are excluded by the file source's checkpoint.

The reference engine has no streaming or retrieval surface
(src/query1-4.py); this composes two of this repo's extension families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark.operators.inverted_index import (
    DOCLEN_DIR,
    default_tokens,
)


def process_index_batch(
    batch: DataFrame,
    index_dir: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
    tokens_fn=None,
    positions: bool = False,
    with_doclen: bool = False,
) -> None:
    """One incremental step: append ``batch``'s postings (and doclen
    rows) to the index. The aggregation is per (term, doc) WITHIN the
    batch — correct because a doc arrives whole in one batch — so the
    step shuffles only the batch's tokens, never re-reads the index.

    ``n_buckets``/``tokens_fn``/``positions`` must match the values the
    index was seeded with: bucket routing and tokenization are part of
    the index's on-disk contract (the same class of state-compatibility
    rule as heavy_hitters' shard hash — changing either requires a
    rebuild, not an append)."""
    tok = tokens_fn or default_tokens
    toks = batch.select(
        F.col(doc_id_col).alias("doc_id"),
        F.posexplode(tok(F.col(text_col))).alias("pos", "term"),
    )
    aggs = [F.count(F.lit(1)).alias("tf")]
    if positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    postings = (
        toks.groupBy("term", "doc_id")
        .agg(*aggs)
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    (
        postings.repartition("bucket")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(index_dir)
    )
    if with_doclen:
        (
            toks.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("dl"))
            .write.mode("append")
            .parquet(f"{index_dir.rstrip('/')}/{DOCLEN_DIR}")
        )


def run_index_stream(
    spark: SparkSession,
    jsonl_dir: str,
    schema,
    index_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
    tokens_fn=None,
    positions: bool = False,
    with_doclen: bool = False,
    max_files_per_trigger: int | None = None,
):
    """Wire the incremental step into a Structured Streaming
    foreachBatch sink over a JSONL drop directory (one document per
    line: {"doc_id": ..., "text": ...}); availableNow-triggered so it
    also serves as a catch-up/backfill runner. Returns the
    StreamingQuery. Searches (operators/inverted_index.py) run against
    ``index_dir`` unchanged — appended files land inside the bucket
    directories the readers already address."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        process_index_batch(
            batch_df,
            index_dir,
            n_buckets=n_buckets,
            tokens_fn=tokens_fn,
            positions=positions,
            with_doclen=with_doclen,
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.json(jsonl_dir)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
