#!/usr/bin/env python
"""Small-file compaction for the persisted incremental-dedup index.

Every micro-batch APPENDS to {index_dir}/sigs and {index_dir}/bands
(streaming/incremental_dedup.py), so after B batches each band_no
partition holds ~B small part files. At 100 TB scale that is the
classic streaming-sink pathology: probe reads pay per-file open/footer
costs and the scheduler drowns in splits long before the bytes matter.
The operational fix is an OFFLINE compaction pass between batches —
rewrite each dataset at a target in-memory partition size, preserving
the band_no partitioning the probe-side pruning relies on.

    python tools/compact_index.py <index_dir> [--target-mb 128]

Safety: the rewrite publishes through
``pyspark_big_data_spark.operators.versioned.replace_parquet`` — staged
under a writer-unique dot-prefixed sibling, then the old dir is renamed
aside and the staged one in (pure renames, atomic per directory on an
HDFS-like FS), with the old dir renamed back if the move-in fails and
deleted only after the swap. A failed swap never leaves a half-written
index the silent-empty-read contract (``versioned.path_exists``) would
mistake for data; a crash between the two renames leaves the old index
under its aside name.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_big_data_spark.operators.versioned import _fs, replace_parquet  # noqa: E402


def dataset_file_stats(spark, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet dataset directory."""
    fs, hpath, jvm = _fs(spark, path)
    n, total = 0, 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        n += 1
        total += st.getLen()
    return n, total


def compact_dataset(
    spark, path: str, partition_by: list[str] | None = None, target_mb: int = 128
) -> dict:
    """Rewrite the parquet dataset at ``path`` with files sized toward
    ``target_mb``, preserving ``partition_by`` layout. Returns a report
    dict (files/bytes before and after)."""
    files_before, bytes_before = dataset_file_stats(spark, path)
    df = spark.read.parquet(path)

    # how many output slices give ~target_mb files; at least 1, and for
    # partitioned data the repartition is BY the partition columns so
    # each hive partition lands in as few tasks as the size warrants.
    n_out = max(1, int(bytes_before / (target_mb * 1024 * 1024)) + 1)
    replace_parquet(df.repartition(n_out, *[df[c] for c in partition_by or []]), path, partition_by)

    files_after, bytes_after = dataset_file_stats(spark, path)
    return {
        "path": path,
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
    }


def compact_index(spark, index_dir: str, target_mb: int = 128) -> list[dict]:
    """Compact both halves of an incremental-dedup index directory."""
    reports = []
    reports.append(
        compact_dataset(spark, f"{index_dir}/bands", partition_by=["band_no"], target_mb=target_mb)
    )
    reports.append(compact_dataset(spark, f"{index_dir}/sigs", target_mb=target_mb))
    return reports


def main() -> None:
    from pyspark_big_data_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    target_mb = 128
    for a in sys.argv[1:]:
        if a.startswith("--target-mb"):
            target_mb = int(a.split("=", 1)[1])
    if not args:
        print("usage: compact_index.py <index_dir> [--target-mb=128]")
        raise SystemExit(2)
    spark = get_spark("compact-index")
    for rep in compact_index(spark, args[0], target_mb=target_mb):
        print(rep)


if __name__ == "__main__":
    main()
