"""End-to-end training-data selection pipeline over documents:
exact-dedup -> quality filter -> language allowlist -> curated set,
optionally materialized as a partitioned parquet dataset.

This is the composition story for the extension operators: each stage
is one of the already-verified building blocks, chained in a single
declarative plan (Catalyst sees the whole pipeline — filters push down
through the dedup join, column pruning drops text where unused).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark.functions import text as TX
from pyspark_big_data_spark.io import read_table, write_parquet
from pyspark_big_data_spark.queries.registry import register

_MIN_WORDS = 30
_MAX_PUNCT = 0.10
_LANGS = ("en", "de", "es", "fr", "zh")

_ORACLE = f"""
WITH fp AS (
    SELECT doc_id, lang, source, n_chars,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_words,
           CAST(length(text) - length(regexp_replace(text, '{TX.PUNCT_CLASS}', '', 'g'))
                AS DOUBLE) / greatest(length(text), 1) AS pratio
    FROM documents
), survivors AS (
    SELECT fp, MIN(doc_id) AS keep_doc_id FROM fp GROUP BY fp
)
SELECT f.doc_id, f.lang, f.source, CAST(f.n_words AS BIGINT) AS n_words
FROM fp f
JOIN survivors s ON s.keep_doc_id = f.doc_id AND s.fp = f.fp
WHERE f.n_words >= {_MIN_WORDS}
  AND f.pratio <= {_MAX_PUNCT}
  AND f.lang IN ({", ".join(f"'{lang}'" for lang in _LANGS)})
ORDER BY doc_id
"""


def curated_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        "lang",
        "source",
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.word_count(F.col("text")).cast("long").alias("n_words"),
        TX.punct_ratio(F.col("text")).alias("pratio"),
    )
    survivors = enriched.groupBy("fp").agg(F.min("doc_id").alias("keep_doc_id"))
    return (
        enriched.join(
            survivors,
            (enriched["doc_id"] == survivors["keep_doc_id"]) & (enriched["fp"] == survivors["fp"]),
            "inner",
        )
        .filter(
            (F.col("n_words") >= _MIN_WORDS)
            & (F.col("pratio") <= _MAX_PUNCT)
            & F.col("lang").isin(*_LANGS)
        )
        .select("doc_id", "lang", "source", "n_words")
        .orderBy("doc_id")
    )


@register("training_set_select", oracle=_ORACLE)
def training_set_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curated_training_set(spark, sf_dir)


def materialize_training_set(spark: SparkSession, sf_dir: str, out_path: str) -> int:
    """Write the curated set partitioned by lang (partition-pruned reads
    downstream) plus a ``_MANIFEST.json`` release card; returns the row
    count written."""
    curated = curated_training_set(spark, sf_dir)
    write_parquet(curated, out_path, partition_by=["lang"])
    write_release_manifest(spark, out_path)
    return spark.read.parquet(out_path).count()


def write_release_manifest(spark: SparkSession, out_path: str) -> dict:
    """Emit ``{out_path}/_MANIFEST.json``: per-lang row/token counts and
    an ORDER-INDEPENDENT content fingerprint (decimal-exact sum of
    per-row md5-48 hashes), so two materializations are comparable by
    manifest alone — the release card a training run records next to
    its data. Deliberately timestamp-free: the manifest is a pure
    function of the content, so re-materializing identical data yields
    a byte-identical manifest (asserted in tests)."""
    import json

    from pyspark_big_data_spark.functions.text import hash48

    df = spark.read.parquet(out_path)
    row_fp = hash48(F.concat_ws("|", *[F.col(c).cast("string") for c in sorted(df.columns)]))
    stats = (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
            F.sum(row_fp.cast("decimal(38,0)")).cast("string").alias("content_fp"),
        )
        .orderBy("lang")
        .collect()
    )
    manifest = {
        "format": "parquet/lang-partitioned",
        "columns": sorted(df.columns),
        "total_docs": int(sum(r["n_docs"] for r in stats)),
        "total_tokens": int(sum(r["n_tokens"] for r in stats)),
        "per_lang": {
            r["lang"]: {
                "n_docs": int(r["n_docs"]),
                "n_tokens": int(r["n_tokens"]),
                "content_fp": r["content_fp"],
            }
            for r in stats
        },
    }
    payload = json.dumps(manifest, sort_keys=True, indent=1)
    from pyspark_big_data_spark.operators.versioned import _fs

    fs, _, jvm = _fs(spark, out_path)
    Path = jvm.org.apache.hadoop.fs.Path
    out = fs.create(Path(f"{out_path}/_MANIFEST.json"), True)
    out.write(bytearray(payload.encode()))
    out.close()
    return manifest


# ---------------------------------------------------------------------------
# Deterministic global training-order shuffle
# ---------------------------------------------------------------------------

_SHUF_SEED = 42
_SHUF_SHARDS = 8  # at 100 TB: one shard per training-reader file group

_SHUF_ORACLE = f"""
WITH k AS (
    SELECT doc_id,
           ('0x' || substr(md5('shuf:{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               AS key
    FROM documents
)
SELECT doc_id,
       CAST(key % {_SHUF_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY key % {_SHUF_SHARDS} ORDER BY key, doc_id
       ) AS BIGINT) AS pos
FROM k
ORDER BY shard, pos
"""


@register("training_order_shuffle", oracle=_SHUF_ORACLE, driver=False)
def training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global shuffle of the corpus into training shards — THE
    final data-prep step before an LLM training run: every epoch reader
    needs the same pseudo-random document order, independent of which
    engine (or engine version) produced it.

    Shape: a portable seeded hash gives each doc a shuffle key; shard =
    key mod {_SHUF_SHARDS}; within-shard position is a window PARTITIONED
    by shard — so there is no global sort and no global row numbering,
    just one hash-partitioned exchange and a per-shard sort, which is
    exactly how a writer lays out shuffled shards at 100 TB (shard ->
    directory, pos -> order within the shard's files). A global
    row_number would serialize the corpus through one task; the
    shard/pos pair is the scalable spelling of the same total order
    (reader interleaves shards round-robin).
    """
    docs = read_table(spark, sf_dir, "documents")
    key = TX.hash48(
        F.concat(F.lit(f"shuf:{_SHUF_SEED}:"), F.col("doc_id").cast("string"))
    )
    keyed = docs.select("doc_id", key.alias("key"), (key % _SHUF_SHARDS).alias("shard"))
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return (
        keyed.select(
            "doc_id",
            F.col("shard").cast("long").alias("shard"),
            F.row_number().over(w).cast("long").alias("pos"),
        )
        .orderBy("shard", "pos")
    )


# ---------------------------------------------------------------------------
# Curriculum ordering: quality-descending within shuffled shards
# ---------------------------------------------------------------------------

_CURR_BINS = 10  # quality deciles; coarse bins keep intra-bin order random


def _curriculum_oracle() -> str:
    from pyspark_big_data_spark.queries.text_analysis import qc_scored_sql

    return f"""
WITH q AS (
    SELECT doc_id, ROUND(score, 6) AS score6 FROM {qc_scored_sql()}
), k AS (
    SELECT doc_id, score6,
           CAST(floor(score6 * {_CURR_BINS}) AS BIGINT) AS quality_bin,
           ('0x' || substr(md5('shuf:{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               AS key
    FROM q
)
SELECT doc_id, CAST(key % {_SHUF_SHARDS} AS BIGINT) AS shard, quality_bin,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY key % {_SHUF_SHARDS}
           ORDER BY quality_bin DESC, key ASC, doc_id ASC
       ) AS BIGINT) AS pos
FROM k
ORDER BY shard, pos
"""


@register("training_order_curriculum", oracle=_curriculum_oracle(), driver=False)
def training_order_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum variant of training_order_shuffle: documents land in
    the same hash shards, but within each shard the reader sees quality
    DECILES from best to worst, with the seeded-hash order breaking
    ties inside a decile — easy-to-hard curriculum with preserved
    within-bin randomness. Same scalable shard/pos shape (no global
    sort); the quality decile comes from the shared classifier score,
    floored on the ROUNDED value so both engines bin identically."""
    from pyspark_big_data_spark.queries.text_analysis import qc_score6

    docs = read_table(spark, sf_dir, "documents")
    key = TX.hash48(
        F.concat(F.lit(f"shuf:{_SHUF_SEED}:"), F.col("doc_id").cast("string"))
    )
    qbin = F.floor(qc_score6(F.col("text")) * _CURR_BINS).cast("long")
    keyed = docs.select(
        "doc_id",
        key.alias("key"),
        (key % _SHUF_SHARDS).alias("shard"),
        qbin.alias("quality_bin"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(
        F.col("quality_bin").desc(), F.col("key").asc(), F.col("doc_id").asc()
    )
    return (
        keyed.select(
            "doc_id",
            F.col("shard").cast("long").alias("shard"),
            "quality_bin",
            F.row_number().over(w).cast("long").alias("pos"),
        )
        .orderBy("shard", "pos")
    )
