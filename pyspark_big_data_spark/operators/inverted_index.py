"""Inverted text index: bucket-partitioned postings for term lookups.

The classic IR structure re-expressed as a Spark layout decision: the
postings relation ``(term, doc_id, tf[, positions])`` is
hive-partitioned by ``bucket = pmod(xxhash64(term), n_buckets)`` and
sorted by ``(term, doc_id)`` within files. A term query then

- touches ONLY its terms' bucket directories (partition pruning by
  construction — the read never lists the other buckets' files),
- pushes ``term IN (...)`` into the parquet scan, where the
  within-file term ordering makes row-group min/max stats selective,
- reduces to one partial-aggregated groupBy over the few matching
  postings rows — never a scan of the corpus text.

At 100 TB the economics are the point: the index build is one
tokenize + groupBy pass (shuffled once on (term, doc_id), map-side
combined), and every subsequent query reads O(sum of the query terms'
posting lists) instead of O(corpus). Buckets bound the file-listing
fan-out the way a real search engine shards its dictionary; skewed
(stop-word) terms spread within their bucket's files but never
concentrate a shuffle, because queries aggregate by doc_id, not term.

Optional extensions, each a real-engine sidecar re-expressed:

- ``positions=True`` stores each posting's sorted occurrence offsets
  (an ``array<int>`` parquet column — RLE/dict-encoded on disk where a
  search engine would delta+varint encode), enabling PHRASE queries as
  per-doc array intersections of shifted position lists — still only
  the phrase terms' buckets are read.
- ``with_doclen=True`` writes a ``doclen`` sidecar ``(doc_id, dl)``
  beside the ``bucket=`` dirs (postings reads address bucket dirs
  explicitly, so the sidecar never leaks into them), from which BM25's
  corpus statistics
  (n_docs, sum_dl) and length normalization come WITHOUT touching the
  corpus — so full BM25 ranking runs from the index alone
  (queries/inverted.py::bm25_from_index_topk), reading O(query posting
  lists) + the slim doclen table.

Tokenization is pluggable (an ``array<string>``-producing Column fn)
because parity is a cross-engine contract: the default alnum tokenizer
pairs with DuckDB ``string_split_regex``; BM25/phrase rows reuse
``functions/text.py::tokens`` so their oracles share the established
normalized-whitespace CTEs.

Reference parity note: the reference engine (src/query1-4.py) has no
text-retrieval surface; this extends the LLM-pipeline suite alongside
BM25-by-scan (queries/corpus_ops.py) — the index is the scale path.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from pyspark_big_data_spark.operators.versioned import path_exists

TOKEN_SPLIT = "[^a-z0-9]+"

DOCLEN_DIR = "doclen"


def default_tokens(col: Column) -> Column:
    """Lowercase alnum-run tokens as ``array<string>`` (empties from
    leading/trailing separators removed, so positions index the real
    token sequence)."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT), lambda x: x != "")


def tokenize_terms(df: DataFrame, doc_id_col: str, text_col: str) -> DataFrame:
    """``(doc_id, term)`` token stream: lowercase, alnum-run tokens.
    One row per token OCCURRENCE (duplicates feed tf counts)."""
    return df.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(default_tokens(F.col(text_col))).alias("term"),
    )


def build_inverted_index(
    df: DataFrame,
    doc_id_col: str,
    text_col: str,
    out_root: str,
    n_buckets: int = 32,
    tokens_fn: Callable[[Column], Column] | None = None,
    positions: bool = False,
    with_doclen: bool = False,
) -> None:
    """Materialize the postings index at ``out_root``.

    Layout: ``out_root/bucket=B/*.parquet`` rows ``(term, doc_id, tf
    [, positions])``, sorted by (term, doc_id) within partitions so
    parquet row-group stats prune within a bucket too; optionally
    ``out_root/_doclen/`` rows ``(doc_id, dl)``. One shuffle for the
    postings (the groupBy; the repartition on bucket moves
    already-aggregated postings, which are corpus-sublinear) and one
    for the doclen aggregate."""
    tok = tokens_fn or default_tokens
    toks = df.select(
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
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_root)
    )
    if with_doclen:
        (
            toks.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("dl"))
            .write.mode("overwrite")
            .parquet(f"{out_root.rstrip('/')}/{DOCLEN_DIR}")
        )


def term_buckets(
    spark: SparkSession, terms: list[str], n_buckets: int
) -> dict[str, int]:
    """Bucket id per query term — the same JVM xxhash64 the build used,
    evaluated on a |terms|-row local frame (bounded driver collect)."""
    df = spark.createDataFrame([(t,) for t in terms], "term string").select(
        "term", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("bucket")
    )
    return {r["term"]: int(r["bucket"]) for r in df.collect()}


def read_term_postings(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    n_buckets: int,
) -> tuple[DataFrame | None, int]:
    """The postings of ``terms`` — opening ONLY their bucket
    directories — as ``(df filtered to the terms, n_buckets_touched)``.

    A bucket directory that was never created (no corpus term hashed
    into it — possible on small indexes) proves its terms absent: such
    buckets are skipped, and when EVERY query bucket is missing the
    postings frame is None (the caller emits its typed empty result —
    the schema depends on build options, so it cannot be conjured
    here). ``n_buckets_touched`` still counts the buckets ADDRESSED,
    matching the pruning gates' files-opened semantics."""
    qterms = sorted(set(terms))
    if not qterms:
        raise ValueError("need at least one term")
    buckets = sorted(set(term_buckets(spark, qterms, n_buckets).values()))
    parts = []
    for b in buckets:
        path = f"{index_root.rstrip('/')}/bucket={b}"
        if path_exists(spark, path):
            # a plain parquet bucket with no manifest: infer its schema
            parts.append(spark.read.parquet(path))
    if not parts:
        return None, len(buckets)
    postings = reduce(DataFrame.unionByName, parts)
    return postings.filter(F.col("term").isin(qterms)), len(buckets)


def read_doclen(spark: SparkSession, index_root: str) -> DataFrame:
    """The ``(doc_id, dl)`` sidecar (build with ``with_doclen=True``)."""
    # a plain parquet sidecar with no manifest: infer its schema
    return spark.read.parquet(f"{index_root.rstrip('/')}/{DOCLEN_DIR}")


def search_all_terms(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    n_buckets: int,
) -> tuple[DataFrame, int]:
    """Conjunctive search: docs containing EVERY term in ``terms``,
    scored by total tf over the query terms. Returns ``(df, n_buckets_
    touched)``; the frame has columns ``(doc_id, score)``.

    Terms are deduplicated; an unknown term yields an empty result (it
    can match no document), caught cheaply because its bucket's
    postings simply contain no such term."""
    qterms = sorted(set(terms))
    postings, n_touched = read_term_postings(spark, index_root, qterms, n_buckets)
    if postings is None:
        return (
            spark.createDataFrame([], "doc_id long, score long"),
            n_touched,
        )
    hits = (
        postings.groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("_nt"),
            F.sum("tf").alias("score"),
        )
        .filter(F.col("_nt") == len(qterms))
        .select("doc_id", F.col("score").cast("long").alias("score"))
    )
    return hits, n_touched


def phrase_search(
    spark: SparkSession,
    index_root: str,
    phrase: list[str],
    n_buckets: int,
) -> tuple[DataFrame, int]:
    """Exact phrase search over a POSITIONAL index: docs where
    ``phrase`` occurs as consecutive tokens. Returns ``(df(doc_id,
    n_occurrences), n_buckets_touched)``.

    Plan shape: per-doc inner joins of the phrase terms' postings (the
    classic positional-intersection — each join input is one posting
    list, never the corpus), then a single JVM-side array fold: the
    candidate start-positions list intersects each next term's
    positions shifted by the offset. Duplicate terms in the phrase are
    handled naturally (the same posting list joins twice with different
    shifts)."""
    if not phrase:
        raise ValueError("phrase needs at least one term")
    postings, n_touched = read_term_postings(
        spark, index_root, list(set(phrase)), n_buckets
    )
    if postings is None:
        return (
            spark.createDataFrame([], "doc_id long, n_occurrences long"),
            n_touched,
        )
    if "positions" not in postings.columns:
        raise ValueError(
            f"index at {index_root} has no positions column: build with "
            "positions=True"
        )
    cur = (
        postings.filter(F.col("term") == phrase[0])
        .select("doc_id", F.col("positions").alias("_starts"))
    )
    for i, t in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"_p{i}")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .withColumn(
                "_starts",
                F.array_intersect(
                    "_starts",
                    F.transform(F.col(f"_p{i}"), lambda x: x - i),
                ),
            )
            .drop(f"_p{i}")
            .filter(F.size("_starts") > 0)
        )
    hits = cur.select(
        "doc_id", F.size("_starts").cast("long").alias("n_occurrences")
    )
    return hits, n_touched
