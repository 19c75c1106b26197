"""MERGE INTO on versioned chains (operators/merge.py): clause
semantics, single-commit atomicity, chain composition, and the
one-target-pass plan."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from pyspark_big_data_spark.operators import deletes
from pyspark_big_data_spark.operators.deletes import read_version_mor
from pyspark_big_data_spark.operators.merge import merge_into
from pyspark_big_data_spark.operators.versioned import (
    list_versions,
    manifest,
    read_version,
    write_version,
)


def _df(spark, lo, hi, mark=0.0):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2.0 + mark).alias("x")
    )


def _rows(df):
    return sorted((r["k"], r["x"]) for r in df.collect())


def test_merge_update_insert_delete(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root)  # x = 2k

    # source: keys 90..110 with new values; delete the even matched keys
    src = _df(spark, 90, 110, mark=1.0)  # x = 2k + 1
    res = merge_into(
        spark,
        root,
        src,
        "k",
        when_matched_update=True,
        when_matched_delete="source.k % 2 = 0",
        when_not_matched_insert=True,
    )
    assert res["version"] == 1
    assert res["n_deleted"] == 5  # 90,92,94,96,98
    assert res["n_updated"] == 5  # 91,93,95,97,99
    assert res["n_inserted"] == 10  # 100..109

    got = read_version_mor(spark, root, 1)
    assert got.count() == 100 - 5 + 10
    # deleted keys gone; updated keys carry source values; untouched intact
    assert got.filter(F.col("k") == 90).count() == 0
    assert got.filter(F.col("k") == 91).collect()[0]["x"] == 91 * 2.0 + 1
    assert got.filter(F.col("k") == 105).collect()[0]["x"] == 105 * 2.0 + 1
    assert got.filter(F.col("k") == 10).collect()[0]["x"] == 20.0

    # the whole MERGE is ONE commit: vector embedded in the version dir
    assert os.path.exists(f"{root}/v=1/_merge_deletes")
    assert not os.path.exists(f"{root}/_pos_deletes")
    assert manifest(spark, root, 1)["pos_delete_rows"] == 10
    # physical base untouched
    assert read_version(spark, root, 0).count() == 100


def test_merge_is_sql_equivalent(spark, tmp_path):
    """The MOR state after MERGE equals the declarative replay:
    (target minus matched) union (updates) union (inserts)."""
    root = str(tmp_path / "vds")
    target = _df(spark, 0, 200)
    write_version(target, root)
    src = _df(spark, 150, 260, mark=3.0)
    merge_into(
        spark, root, src, "k",
        when_matched_update="source.x > target.x",
        when_not_matched_insert=True,
    )
    got = read_version_mor(spark, root, 1)
    want = (
        target.join(src.select("k"), "k", "left_anti")
        .unionByName(src.filter(F.col("k") < 200))   # updates (cond true)
        .unionByName(src.filter(F.col("k") >= 200))  # inserts
    )
    assert _rows(got) == _rows(want)


def test_sequential_merges_compose(spark, tmp_path):
    """MERGE after MERGE: ancestor embedded vectors stay resolved."""
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 50), root)
    merge_into(spark, root, _df(spark, 40, 60, mark=1.0), "k")
    merge_into(spark, root, _df(spark, 55, 70, mark=2.0), "k")
    got = read_version_mor(spark, root)
    assert got.count() == 70
    assert got.filter(F.col("k") == 45).collect()[0]["x"] == 45 * 2.0 + 1
    assert got.filter(F.col("k") == 58).collect()[0]["x"] == 58 * 2.0 + 2
    assert got.filter(F.col("k") == 10).collect()[0]["x"] == 20.0
    # key-space exact: one copy per key
    assert got.select("k").distinct().count() == 70


def test_merge_collapses_duplicate_target_copies(spark, tmp_path):
    root = str(tmp_path / "vds")
    dup = _df(spark, 0, 10).unionByName(_df(spark, 0, 10))
    write_version(dup, root)
    merge_into(spark, root, _df(spark, 3, 5, mark=1.0), "k")
    got = read_version_mor(spark, root)
    assert got.count() == 18  # 8 untouched keys x2 copies + 2 merged singles
    assert got.filter(F.col("k") == 3).count() == 1
    assert got.filter(F.col("k") == 7).count() == 2  # untouched dups stay


def test_merge_contracts(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 10), root)
    dup_src = _df(spark, 0, 3).unionByName(_df(spark, 2, 3))
    with pytest.raises(ValueError, match="key-unique"):
        merge_into(spark, root, dup_src, "k")
    with pytest.raises(ValueError, match="NULL keys"):
        merge_into(
            spark, root,
            _df(spark, 0, 3).withColumn("k", F.lit(None).cast("long")),
            "k",
        )
    with pytest.raises(ValueError, match="every target column"):
        merge_into(spark, root, _df(spark, 0, 3).drop("x"), "k")
    with pytest.raises(ValueError, match="no-op"):
        merge_into(
            spark, root, _df(spark, 0, 3), "k",
            when_matched_update=None, when_not_matched_insert=None,
        )
    # empty merge burns no version
    res = merge_into(
        spark, root, _df(spark, 100, 105), "k",
        when_matched_update=True, when_not_matched_insert=None,
    )
    assert res["version"] is None
    assert list_versions(spark, root) == [0]


def test_merge_pure_delete(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 30), root)
    res = merge_into(
        spark, root, _df(spark, 10, 15), "k",
        when_matched_update=None,
        when_matched_delete=True,
        when_not_matched_insert=None,
    )
    assert (res["n_deleted"], res["n_updated"], res["n_inserted"]) == (5, 0, 0)
    got = read_version_mor(spark, root)
    assert got.count() == 25
    assert got.filter(F.col("k").between(10, 14)).count() == 0


def test_merge_plan_broadcasts_source_and_streams_target(spark, tmp_path):
    """The matched set is a BroadcastHashJoin with the SOURCE broadcast:
    the 100 TB target streams, nothing big shuffles."""
    from pyspark_big_data_spark.operators.deletes import read_version_mor as mor

    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 1000), root)
    src = _df(spark, 500, 520, mark=1.0)
    target = mor(spark, root, 0, keep_addresses=True)
    matched = target.alias("target").join(
        F.broadcast(src.alias("source")), F.col("target.k") == F.col("source.k"), "inner"
    )
    plan = matched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan


def _sql_plans_since(spark, mark: int) -> list[str]:
    """Physical plan descriptions of every SQL execution whose
    executionId is greater than ``mark`` (local-mode test
    introspection). Keyed on executionId, NOT list position — the SQL
    status store EVICTS old entries in long sessions, which shifts
    indices and would make a position-based mark read an empty tail."""
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return [
        lst.apply(i).physicalPlanDescription()
        for i in range(lst.size())
        if lst.apply(i).executionId() > mark
    ]


def _sql_exec_count(spark) -> int:
    """The newest executionId in the store (-1 when empty) — the mark
    for _sql_plans_since."""
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    if lst.size() == 0:
        return -1
    return max(lst.apply(i).executionId() for i in range(lst.size()))


def test_merge_broadcast_is_priced(spark, tmp_path, monkeypatch):
    """The source broadcast is enforced, not assumed: a source above
    deletes.BROADCAST_THRESHOLD_ROWS (priced by the uniqueness aggregate's
    exact count — zero extra jobs) drops both broadcast hints, so with
    auto-broadcast disabled the merge plans shuffle joins instead of
    OOM-ing the driver on an unbounded backfill source. Semantics are
    identical either way."""
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 1000), root)
    src = _df(spark, 900, 1100, mark=1.0)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        mark = _sql_exec_count(spark)
        with monkeypatch.context() as m:
            m.setattr(deletes, "BROADCAST_THRESHOLD_ROWS", 10)
            res = merge_into(spark, root, src, "k")
        plans = _sql_plans_since(spark, mark)
        assert plans and not any("BroadcastHashJoin" in p for p in plans)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert (res["n_updated"], res["n_inserted"]) == (100, 100)
    got = read_version_mor(spark, root, res["version"])
    assert got.count() == 1100
    assert got.filter((F.col("k") == 950) & (F.col("x") == 1901.0)).count() == 1

    # and the small-source default still takes the broadcast fast path
    root2 = str(tmp_path / "vds2")
    write_version(_df(spark, 0, 1000), root2)
    mark = _sql_exec_count(spark)
    merge_into(spark, root2, _df(spark, 900, 1100, mark=1.0), "k")
    plans = _sql_plans_since(spark, mark)
    assert any("BroadcastHashJoin" in p for p in plans)


def test_merge_prunes_target_scan_with_stats(spark, tmp_path):
    """With manifest stats on the key, the MERGE's target pass reads
    only the files the source key range can live in — and the result
    is identical to the full-scan merge."""
    from pyspark_big_data_spark.operators.versioned import pruned_file_plan

    root = str(tmp_path / "vds")
    write_version(
        _df(spark, 0, 1000).repartitionByRange(8, "k"), root, stats_cols=["k"]
    )
    src = _df(spark, 100, 120, mark=1.0)  # narrow key range
    # the pruning the merge will use: a strict subset of files
    _, n_sel, n_total = pruned_file_plan(spark, root, "k", 100, 119, version=0)
    assert 0 < n_sel < n_total

    res = merge_into(spark, root, src, "k")
    got = read_version_mor(spark, root, res["version"])
    assert got.count() == 1000
    assert got.filter(F.col("k") == 105).collect()[0]["x"] == 105 * 2.0 + 1
    assert got.filter(F.col("k") == 500).collect()[0]["x"] == 1000.0

    # identical to the full-scan merge on a twin table
    root2 = str(tmp_path / "vds2")
    write_version(_df(spark, 0, 1000).repartitionByRange(8, "k"), root2)
    res2 = merge_into(spark, root2, src, "k")  # no stats: full scan
    assert _rows(got) == _rows(read_version_mor(spark, root2, res2["version"]))


def test_merge_detects_concurrent_writes(spark, tmp_path):
    """A commit pinned to its planned base refuses to re-base on an
    interloper (Delta's conflict rule): the merge's vector never
    match-scanned the interloper's rows, so publishing would be
    unsound. Nothing is published; the caller re-plans."""
    from pyspark_big_data_spark.operators.versioned import (
        WriteConflict,
        append_version,
    )

    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root)
    # another writer lands an append AFTER this merge "planned" (we
    # simulate the race at the commit layer: expected_base pins v=0)
    append_version(_df(spark, 100, 110), root)
    with pytest.raises(WriteConflict, match="head moved"):
        append_version(_df(spark, 110, 120), root, expected_base=0)
    assert list_versions(spark, root) == [0, 1]  # nothing published

    # an un-raced merge pins and commits cleanly
    res = merge_into(spark, root, _df(spark, 50, 55, mark=1.0), "k")
    assert res["version"] == 2


def test_exactly_once_merge_sink(spark, tmp_path):
    """The CDC-apply loop: batches of upserts/deletes MERGE into the
    chain with marker idempotence and last-sequence-wins folding."""
    from pyspark_big_data_spark.streaming.sinks import exactly_once_merge_sink

    root = str(tmp_path / "vds")
    sink = exactly_once_merge_sink(root, "k", delete_col="is_del", seq_col="seq")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, x double, is_del boolean, seq long"
        )

    # batch 0: base (deletes dropped — nothing to delete from)
    sink(batch([(1, 1.0, False, 1), (2, 2.0, False, 1), (9, 9.0, True, 1)]), 0)
    got0 = read_version_mor(spark, root)
    assert sorted(r["k"] for r in got0.collect()) == [1, 2]

    # batch 1: update k=1 (two ops, last seq wins), delete k=2, insert k=3
    sink(
        batch(
            [
                (1, 10.0, False, 1),
                (1, 11.0, False, 2),  # last wins
                (2, 0.0, True, 1),
                (3, 3.0, False, 1),
            ]
        ),
        1,
    )
    got1 = read_version_mor(spark, root)
    assert sorted((r["k"], r["x"]) for r in got1.collect()) == [(1, 11.0), (3, 3.0)]

    # redelivery of batch 1: marker makes it a no-op (same state, no commit)
    versions_before = list_versions(spark, root)
    sink(
        batch([(1, 99.0, False, 9), (3, 0.0, True, 9)]), 1
    )  # even with DIFFERENT content — the id is what matters
    assert list_versions(spark, root) == versions_before
    got2 = read_version_mor(spark, root)
    assert sorted((r["k"], r["x"]) for r in got2.collect()) == [(1, 11.0), (3, 3.0)]

    # duplicate (key, seq) refused
    with pytest.raises(ValueError, match="non-deterministic"):
        sink(batch([(5, 1.0, False, 1), (5, 2.0, False, 1)]), 2)


def test_merge_sink_markers_survive_materialize(spark, tmp_path):
    """The maintenance step the sink's docstring prescribes must not
    break idempotence: materialize_deletes cuts the chain (full
    rewrite, no base link), so it carries the chain's writer_batch_id
    markers forward as writer_batch_ids — a batch redelivered right
    after maintenance is still skipped, not re-applied."""
    from pyspark_big_data_spark.operators.deletes import materialize_deletes
    from pyspark_big_data_spark.streaming.sinks import exactly_once_merge_sink

    root = str(tmp_path / "vds")
    sink = exactly_once_merge_sink(root, "k", delete_col="is_del")

    def batch(rows):
        return spark.createDataFrame(rows, "k long, x double, is_del boolean")

    sink(batch([(1, 1.0, False), (2, 2.0, False), (3, 3.0, False)]), 0)
    sink(batch([(2, 0.0, True), (4, 4.0, False)]), 1)  # delete k=2, insert k=4
    state = sorted((r["k"], r["x"]) for r in read_version_mor(spark, root).collect())
    assert state == [(1, 1.0), (3, 3.0), (4, 4.0)]

    materialize_deletes(spark, root)  # maintenance: chain cut here
    versions_before = list_versions(spark, root)

    # redeliver batch 1 (crash between maintenance and checkpoint):
    # the marker must have been carried — no new commit, no re-apply
    sink(batch([(2, 0.0, True), (4, 99.0, False)]), 1)
    assert list_versions(spark, root) == versions_before
    got = sorted((r["k"], r["x"]) for r in read_version_mor(spark, root).collect())
    assert got == state


def test_merge_sink_through_real_stream(spark, tmp_path):
    """The sink behind an actual availableNow foreachBatch loop."""
    import json as _json

    from pyspark_big_data_spark.streaming.sinks import exactly_once_merge_sink

    root = str(tmp_path / "vds")
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    b0 = [{"k": i, "x": float(i), "is_del": False} for i in range(10)]
    b1 = [{"k": 5, "x": 50.0, "is_del": False}, {"k": 6, "x": 0.0, "is_del": True},
          {"k": 20, "x": 20.0, "is_del": False}]
    for i, rows in enumerate((b0, b1)):
        with open(f"{drop}/b{i}.jsonl", "w") as fh:
            fh.write("\n".join(_json.dumps(r) for r in rows))

    sink = exactly_once_merge_sink(root, "k", delete_col="is_del")
    q = (
        spark.readStream.schema("k long, x double, is_del boolean")
        .option("maxFilesPerTrigger", 1)
        .json(drop)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = read_version_mor(spark, root)
    assert got.count() == 10  # 10 - 1 deleted + 1 inserted
    assert got.filter(F.col("k") == 5).collect()[0]["x"] == 50.0
    assert got.filter(F.col("k") == 6).count() == 0
    assert got.filter(F.col("k") == 20).count() == 1


def test_merge_composite_key(spark, tmp_path):
    """MERGE on a composite key: the ON condition is the conjunction,
    uniqueness applies to the tuple."""
    root = str(tmp_path / "vds")
    tgt = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 11.0), (2, "a", 20.0)], "k1 long, k2 string, x double"
    )
    write_version(tgt, root)
    src = spark.createDataFrame(
        [(1, "a", 100.0), (2, "b", 200.0)], "k1 long, k2 string, x double"
    )
    res = merge_into(spark, root, src, ["k1", "k2"])
    got = read_version_mor(spark, root, res["version"])
    assert sorted(map(tuple, got.collect())) == [
        (1, "a", 100.0),  # updated
        (1, "b", 11.0),   # untouched (k2 differs)
        (2, "a", 20.0),   # untouched
        (2, "b", 200.0),  # inserted
    ]
    # tuple-uniqueness: same k1, different k2 is legal in the source
    assert res["n_updated"] == 1 and res["n_inserted"] == 1

    dup = src.unionByName(
        spark.createDataFrame([(1, "a", 0.0)], "k1 long, k2 string, x double")
    )
    with pytest.raises(ValueError, match="key-unique"):
        merge_into(spark, root, dup, ["k1", "k2"])


def test_merge_bloom_prunes_hash_scattered_target(spark, tmp_path):
    """Hash-scattered keys span every file's [min, max] — stats prune
    nothing — but the per-file Blooms pin each source key to ~1 file:
    the MERGE ladder falls through to bloom probing, reads a strict
    file subset, and the result equals the full-scan merge."""
    from pyspark_big_data_spark.operators.versioned import (
        bloom_file_plan,
        pruned_file_plan,
    )

    root = str(tmp_path / "vds")
    write_version(
        _df(spark, 0, 2000).repartition(8, "k"),  # hash layout
        root,
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    src = _df(spark, 100, 103, mark=1.0)
    # stats are blind on this layout; blooms cut
    _, n_stats, n_total = pruned_file_plan(spark, root, "k", 100, 102, version=0)
    assert n_stats == n_total
    _, n_bloom, _ = bloom_file_plan(spark, root, "k", [100, 101, 102], 0)
    assert 0 < n_bloom < n_total

    res = merge_into(spark, root, src, "k")
    got = read_version_mor(spark, root, res["version"])
    assert got.count() == 2000
    for k in (100, 101, 102):
        assert got.filter(F.col("k") == k).collect()[0]["x"] == k * 2.0 + 1
    assert got.filter(F.col("k") == 50).collect()[0]["x"] == 100.0

    # twin without stats or Blooms, so a full-scan merge: identical result
    root2 = str(tmp_path / "vds2")
    write_version(_df(spark, 0, 2000).repartition(8, "k"), root2)
    res2 = merge_into(spark, root2, src, "k")
    assert _rows(got) == _rows(read_version_mor(spark, root2, res2["version"]))


def test_merge_to_branch(spark, tmp_path):
    """MERGE plans against the BRANCH head (other branches invisible)
    and repoints via the CAS; the other branch is untouched."""
    from pyspark_big_data_spark.operators.merge import merge_to_branch
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        commit_to_branch,
        create_branch,
        read_branch,
    )

    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 50), root)
    create_branch(spark, root, "main", 0)
    create_branch(spark, root, "dev", 0)
    commit_to_branch(_df(spark, 900, 910), root, "dev", append=True)  # noise

    res = merge_to_branch(
        spark, root, "main", _df(spark, 40, 60, mark=1.0), "k"
    )
    assert branch_head(spark, root, "main") == res["version"]
    got = read_version_mor(spark, root, branch_head(spark, root, "main"))
    assert got.count() == 60  # base 50, 10 updated in place, 10 inserted
    assert got.filter(F.col("k") == 45).collect()[0]["x"] == 45 * 2.0 + 1
    # dev branch never saw any of it
    assert read_branch(spark, root, "dev").count() == 60
    assert read_branch(spark, root, "dev").filter(F.col("k") == 45).collect()[0][
        "x"
    ] == 90.0
    # no-op merge leaves the branch untouched
    res2 = merge_to_branch(
        spark, root, "main", _df(spark, 200, 205), "k",
        when_matched_update=True, when_not_matched_insert=None,
    )
    assert res2["version"] is None
    assert branch_head(spark, root, "main") == res["version"]


# ---------------------------------------------------------------------------
# Column-level clauses (r13): UPDATE SET c = expr / INSERT (cols) VALUES.
# ---------------------------------------------------------------------------


def _seg_base(spark, n=10):
    return spark.createDataFrame(
        [(i, f"u{i}", float(i * 10), i % 3) for i in range(n)],
        "k int, name string, val double, seg int",
    )


def test_partial_update_source_needs_only_keys_and_refs(spark, tmp_path):
    from pyspark_big_data_spark.operators.deletes import read_version_mor

    root = str(tmp_path / "t")
    write_version(_seg_base(spark), root)
    src = spark.createDataFrame([(2, 5.0), (4, 7.0), (99, 1.5)], "k int, delta double")
    res = merge_into(
        spark,
        root,
        src,
        "k",
        when_matched_update=True,
        when_not_matched_insert=True,
        update_set={"val": "target.val + source.delta"},
        insert_values={"k": "source.k", "val": "source.delta", "name": "'new'"},
    )
    assert (res["n_updated"], res["n_inserted"], res["n_deleted"]) == (2, 1, 0)
    got = {
        r["k"]: (r["name"], r["val"], r["seg"])
        for r in read_version_mor(spark, root).collect()
    }
    assert got[2] == ("u2", 25.0, 2)  # assigned col updated, rest carried
    assert got[4] == ("u4", 47.0, 1)
    assert got[99] == ("new", 1.5, None)  # unassigned insert col is NULL
    assert got[3] == ("u3", 30.0, 0)  # untouched row


def test_partial_update_is_row_wise_over_duplicate_copies(spark, tmp_path):
    """Column-level SET updates EACH matched target copy individually
    (full-width SET * keeps collapse-to-source)."""
    from pyspark_big_data_spark.operators.deletes import read_version_mor

    root = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(1, 10.0), (1, 20.0), (2, 5.0)], "k int, val double"
        ),
        root,
    )
    src = spark.createDataFrame([(1, 100.0)], "k int, bump double")
    res = merge_into(
        spark,
        root,
        src,
        "k",
        update_set={"val": "target.val + source.bump"},
        when_not_matched_insert=None,
    )
    assert res["n_updated"] == 2
    got = sorted(
        r["val"] for r in read_version_mor(spark, root).filter("k = 1").collect()
    )
    assert got == [110.0, 120.0]


def test_partial_clause_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_seg_base(spark), root)
    src = spark.createDataFrame([(1, 2.0)], "k int, delta double")
    with pytest.raises(ValueError, match="non-existent"):
        merge_into(spark, root, src, "k", update_set={"nope": "1"})
    with pytest.raises(ValueError, match="update clause is disabled"):
        merge_into(
            spark,
            root,
            src,
            "k",
            when_matched_update=None,
            when_matched_delete=True,
            update_set={"val": "1"},
        )
    with pytest.raises(ValueError, match="merge key"):
        merge_into(
            spark,
            root,
            src,
            "k",
            update_set={"val": "source.delta"},
            insert_values={"val": "source.delta"},  # key unassigned
        )
    # full-width insert still demands a full-width source
    with pytest.raises(ValueError, match="missing"):
        merge_into(spark, root, src, "k", update_set={"val": "source.delta"})


def test_not_matched_by_source_clauses(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE (Delta's SCD shape): unmatched target
    rows delete or update row-wise; matched/inserted behavior
    unchanged; the clauses compose with column-level update_set."""
    from pyspark_big_data_spark.operators.deletes import read_version_mor

    root = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(i, float(i * 10), "A") for i in range(10)],
            "k int, val double, status string",
        ),
        root,
    )
    src = spark.createDataFrame([(2,), (4,), (11,)], "k int")
    res = merge_into(
        spark,
        root,
        src,
        "k",
        when_matched_update=True,
        update_set={"val": "target.val + 1"},
        when_not_matched_insert=None,
        when_not_matched_by_source_delete="target.k >= 8",
        when_not_matched_by_source_update=True,
        not_matched_by_source_set={"status": "'inactive'"},
    )
    assert (res["n_deleted"], res["n_updated"], res["n_inserted"]) == (2, 8, 0)
    got = {
        r["k"]: (r["val"], r["status"])
        for r in read_version_mor(spark, root).collect()
    }
    assert got[2] == (21.0, "A") and got[4] == (41.0, "A")  # matched
    assert 8 not in got and 9 not in got  # by-source delete
    assert got[0] == (0.0, "inactive")  # by-source update
    assert 11 not in got  # insert disabled


def test_by_source_update_requires_assignments(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k int, val double"), root
    )
    src = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="not_matched_by_source_set"):
        merge_into(
            spark,
            root,
            src,
            "k",
            when_matched_update=None,
            when_not_matched_insert=None,
            when_not_matched_by_source_update=True,
        )
    with pytest.raises(ValueError, match="non-existent"):
        merge_into(
            spark,
            root,
            src,
            "k",
            when_matched_update=None,
            when_not_matched_insert=None,
            when_not_matched_by_source_update=True,
            not_matched_by_source_set={"nope": "1"},
        )


def test_by_source_delete_first_order(spark, tmp_path):
    """A by-source row passing both conditions is DELETED (the pinned
    delete-first order, mirroring the matched pair)."""
    from pyspark_big_data_spark.operators.deletes import read_version_mor

    root = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(1, "x"), (2, "y")], "k int, status string"
        ),
        root,
    )
    src = spark.createDataFrame([(99,)], "k int")
    res = merge_into(
        spark,
        root,
        src,
        "k",
        when_matched_update=None,
        when_not_matched_insert=None,
        when_not_matched_by_source_delete="target.k = 1",
        when_not_matched_by_source_update=True,
        not_matched_by_source_set={"status": "'z'"},
    )
    assert (res["n_deleted"], res["n_updated"]) == (1, 1)
    got = {r["k"]: r["status"] for r in read_version_mor(spark, root).collect()}
    assert got == {2: "z"}


def test_merge_schema_evolution(spark, tmp_path):
    """allow_evolution=True (the autoMerge shape): a NEW source column
    becomes part of the written delta — updated/inserted rows carry it,
    chain/MOR reads null-fill pre-evolution rows, and the typed change
    feed still folds bit-exactly."""
    from pyspark_big_data_spark.operators.cdf import (
        fold_changes,
        table_changes_typed,
    )
    from pyspark_big_data_spark.operators.deletes import read_version_mor

    root = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(i, float(i * 10)) for i in range(10)], "k int, val double"
        ),
        root,
    )
    src = spark.createDataFrame(
        [(2, 222.0, "eu"), (99, 9.0, "us")], "k int, val double, region string"
    )
    res = merge_into(spark, root, src, "k", allow_evolution=True)
    got = {
        r["k"]: (r["val"], r["region"])
        for r in read_version_mor(spark, root, res["version"]).collect()
    }
    assert got[2] == (222.0, "eu") and got[99] == (9.0, "us")
    assert got[3] == (30.0, None)  # pre-evolution row null-filled
    assert len(got) == 11

    ch = table_changes_typed(spark, root, 0, res["version"])
    folded = fold_changes(read_version_mor(spark, root, 0), ch)
    head = read_version_mor(spark, root, res["version"])
    assert folded.exceptAll(head).count() == 0
    assert head.exceptAll(folded).count() == 0

    # default (no flag): the extra column stays condition-only
    root2 = str(tmp_path / "t2")
    write_version(
        spark.createDataFrame(
            [(i, float(i * 10)) for i in range(10)], "k int, val double"
        ),
        root2,
    )
    res2 = merge_into(spark, root2, src, "k")
    assert "region" not in read_version_mor(spark, root2, res2["version"]).columns


def test_merge_evolution_with_column_level_clauses(spark, tmp_path):
    """Evolution composes with update_set/insert_values: new columns
    are assignable; unassigned new columns are NULL on rewritten rows."""
    from pyspark_big_data_spark.operators.deletes import read_version_mor

    root = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(i, float(i * 10)) for i in range(5)], "k int, val double"
        ),
        root,
    )
    src = spark.createDataFrame(
        [(1, "eu"), (77, "us")], "k int, region string"
    )
    res = merge_into(
        spark,
        root,
        src,
        "k",
        allow_evolution=True,
        update_set={"region": "source.region"},
        insert_values={"k": "source.k", "region": "source.region"},
    )
    got = {
        r["k"]: (r["val"], r["region"])
        for r in read_version_mor(spark, root, res["version"]).collect()
    }
    assert got[1] == (10.0, "eu")  # val carried, new col assigned
    assert got[77] == (None, "us")  # unassigned old col NULL on insert
    assert got[0] == (0.0, None)  # untouched pre-evolution row


def test_merge_insert_pricing_paths_agree(spark, tmp_path):
    """n_inserted is priced two ways (r13): an UNCONDITIONAL insert
    clause reads it from the matched-census aggregate (n_source minus
    matched source keys — zero extra jobs), a CONDITIONAL one still
    pays the anti-join count. Same MERGE through both paths must
    produce the identical result dict and end state."""
    from pyspark_big_data_spark.operators.deletes import read_version_mor
    from pyspark_big_data_spark.operators.merge import merge_into

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (2, 21.0), (3, 30.0)], "k long, x double"
    )
    src = spark.createDataFrame(
        [(2, 99.0), (3, 33.0), (7, 70.0), (8, 80.0)], "k long, x double"
    )
    roots = [str(tmp_path / "uncond"), str(tmp_path / "cond")]
    results = []
    for root, ins in zip(roots, (True, "1 = 1")):
        from pyspark_big_data_spark.operators.versioned import write_version

        write_version(base, root)
        results.append(
            merge_into(
                spark,
                root,
                src,
                "k",
                when_matched_update=True,
                when_matched_delete="source.k = 3",
                when_not_matched_insert=ins,
            )
        )
    a, b = results
    assert {k: a[k] for k in ("n_deleted", "n_updated", "n_inserted")} == {
        k: b[k] for k in ("n_deleted", "n_updated", "n_inserted")
    }
    assert a["n_inserted"] == 2  # keys 7, 8
    sa = {tuple(r) for r in read_version_mor(spark, roots[0]).collect()}
    sb = {tuple(r) for r in read_version_mor(spark, roots[1]).collect()}
    assert sa == sb
