"""JSONL + ORC source/sink coverage (training-export formats beyond the
reference's CSV/parquet surface)."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F, types as T

from pyspark_big_data_spark.io import (
    read_jsonl,
    read_orc,
    read_table,
    write_jsonl,
    write_orc,
)
from pyspark_big_data_spark.operators import multimodal as MM


def test_jsonl_roundtrip_sharded(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path, shards=4)
    files = glob.glob(f"{path}/part-*")
    assert len(files) == 4  # fixed shard count, not one file per input task
    back = read_jsonl(spark, path, docs.schema)
    assert back.schema == docs.schema  # declared, not inferred
    a = {r["doc_id"]: r["text"] for r in docs.collect()}
    b = {r["doc_id"]: r["text"] for r in back.collect()}
    assert a == b


def test_jsonl_lines_are_valid_json(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents").limit(20)
    path = str(tmp_path / "docs_jsonl_lines")
    write_jsonl(docs, path, shards=1)
    [f] = glob.glob(f"{path}/part-*")
    with open(f) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    assert len(rows) == 20
    assert all("doc_id" in r and "text" in r for r in rows)


def test_jsonl_rejects_binary_columns(spark, sf_dir, tmp_path):
    docs = MM.attach_media(read_table(spark, sf_dir, "documents").limit(2))
    with pytest.raises(ValueError, match="BinaryType"):
        write_jsonl(docs, str(tmp_path / "nope"))
    # the documented escape hatch: base64 the payload first
    ok = docs.withColumn("media", F.base64("media"))
    write_jsonl(ok, str(tmp_path / "b64"), shards=1)
    back = read_jsonl(spark, str(tmp_path / "b64"), ok.schema)
    assert back.count() == 2


def test_jsonl_corrupt_record_lands_in_column(spark, tmp_path):
    src = tmp_path / "mixed.jsonl"
    src.write_text('{"doc_id": 1, "text": "ok"}\n{not json at all}\n')
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = read_jsonl(spark, str(src), schema).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 1 and bad.count() == 1  # job survives dirty lines
    df.unpersist()


def test_orc_roundtrip_partitioned(spark, sf_dir, tmp_path):
    orders = read_table(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path, partition_by=["o_year"])
    back = read_orc(spark, path)
    assert back.count() == orders.count()
    pruned = back.filter(F.col("o_year") == 1996)
    assert pruned.count() == orders.filter(F.col("o_year") == 1996).count()


def test_schema_drift_report_flags_only_handled_timestamp_variants(spark, sf_dir):
    """On the current testdata every drift must be a timestamp-encoding
    variant read_table already normalizes (handled=True) — if this test
    starts failing after a testdata regeneration, a NEW breaking drift
    arrived and read_table needs a look before anything else."""
    from pyspark_big_data_spark.io import schema_drift_report

    report = schema_drift_report(spark, sf_dir)
    unhandled = [r for r in report if not r["handled"]]
    assert unhandled == [], unhandled


def test_schema_drift_report_catches_breaking_change(spark, tmp_path):
    """A table with a missing column and a wrong-typed column must come
    back handled=False; drifting timestamp encodings stay handled."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_big_data_spark.io import schema_drift_report

    # events with ts as plain STRING (breaking) and no props column
    tbl = pa.table(
        {
            "event_id": pa.array([1], type=pa.int64()),
            "ts": ["2024-01-01"],
            "user_id": pa.array([1], type=pa.int64()),
            "event_type": ["click"],
            "value": pa.array([1.0], type=pa.float64()),
        }
    )
    sf = tmp_path / "drifted"
    sf.mkdir()
    pq.write_table(tbl, str(sf / "events.parquet"))
    report = schema_drift_report(spark, str(sf))
    ev = {(r["column"]): r for r in report if r["table"] == "events"}
    assert ev["ts"]["handled"] is False  # string ts: NOT a known variant
    assert ev["props"]["actual"] == "<missing>" and ev["props"]["handled"] is False


def test_corrupt_shard_handling_both_modes(spark, sf_dir, tmp_path):
    """100 TB operational reality: shards get truncated by failed
    writes. Pin BOTH behaviors: default read FAILS LOUDLY on a corrupt
    shard (silent data loss would be worse), and
    spark.sql.files.ignoreCorruptFiles=true degrades to the readable
    shards for triage scans."""
    import glob
    import os

    import pytest

    from pyspark.sql import functions as F

    from pyspark_big_data_spark.io import read_table

    out = str(tmp_path / "sharded")
    read_table(spark, sf_dir, "nation").repartition(4).write.parquet(out)
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) >= 2
    # truncate one shard mid-body: unreadable footer. Also remove the
    # local-FS .crc sidecar — otherwise Hadoop raises ChecksumException
    # at the FS layer BEFORE parquet corruption handling can engage
    # (ignoreCorruptFiles only covers data-format corruption).
    with open(files[0], "r+b") as f:
        f.truncate(max(8, os.path.getsize(files[0]) // 2))
    crc = os.path.join(os.path.dirname(files[0]), "." + os.path.basename(files[0]) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)

    with pytest.raises(Exception, match="[Cc]orrupt|[Pp]arquet|footer|magic"):
        spark.read.parquet(out).count()

    saved = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        # explicit schema (the engine's policy anyway): schema inference
        # may itself land on the corrupt footer
        sch = read_table(spark, sf_dir, "nation").schema
        n = spark.read.schema(sch).parquet(out).agg(F.count(F.lit(1))).first()[0]
        assert 0 < n < 25  # survivors only: fewer than the full 25 nations
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", saved)


def test_read_table_infers_schema_once_per_file_identity(spark, sf_dir, tmp_path, count_jobs):
    """The first read_table of a table runs the one footer-inference job;
    a second read of the same files binds the memoized schema and runs
    none, with the same schema and rows."""
    import shutil

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{sf_dir}/nation.parquet", sf / "nation.parquet")
    frames = []
    assert count_jobs(lambda: frames.append(read_table(spark, str(sf), "nation"))) == 1
    assert count_jobs(lambda: frames.append(read_table(spark, str(sf), "nation"))) == 0
    cold, warm = frames
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_read_table_schema_memo_misses_on_rewrite(spark, tmp_path):
    """Rewriting the table at the same path with another schema changes
    its file identity, so the next read_table infers the new columns."""
    sf = str(tmp_path)
    spark.range(3).write.parquet(f"{sf}/widgets.parquet")
    assert read_table(spark, sf, "widgets").columns == ["id"]
    spark.range(3).withColumn("label", F.lit("x")).write.mode("overwrite").parquet(
        f"{sf}/widgets.parquet"
    )
    again = read_table(spark, sf, "widgets")
    assert again.columns == ["id", "label"]
    assert sorted(r.label for r in again.collect()) == ["x", "x", "x"]


@pytest.mark.parametrize(
    "ts_type", ["nanos", "us_ntz", "us_utc"],
)
def test_read_table_schema_memo_keeps_timestamp_normalization(spark, tmp_path, ts_type):
    """For each on-disk timestamp encoding read_table normalizes, a warm
    (memoized) read and the cold read give the canonical schema and the
    same rows, truncated to microseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_big_data_spark import schemas

    nanos = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    ts = {
        "nanos": pa.array(nanos, type=pa.timestamp("ns")),
        "us_ntz": pa.array([n // 1000 for n in nanos], type=pa.timestamp("us")),
        "us_utc": pa.array([n // 1000 for n in nanos], type=pa.timestamp("us", tz="UTC")),
    }[ts_type]
    tbl = pa.table({
        "event_id": pa.array([1, 2], type=pa.int64()),
        "ts": ts,
        "user_id": pa.array([7, 8], type=pa.int64()),
        "event_type": ["click", "view"],
        "value": pa.array([1.5, 2.5], type=pa.float64()),
        "props": ["{}", "{}"],
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    cold = read_table(spark, str(tmp_path), "events")
    warm = read_table(spark, str(tmp_path), "events")
    for df in (cold, warm):
        assert df.schema["ts"].dataType == schemas.EVENTS["ts"].dataType
        got = df.select("event_id", F.unix_micros("ts").alias("us")).orderBy("event_id")
        assert [tuple(r) for r in got.collect()] == [(1, nanos[0] // 1000), (2, nanos[1] // 1000)]
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())
