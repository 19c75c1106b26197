"""Merge-on-read deletes (operators/deletes.py) and snapshot
compaction (operators/versioned.py::compact_version): the deletion-
vector lifecycle — tombstone commit, MOR read, pruned-MOR composition,
materialize — and OPTIMIZE bin-packing with manifest carry-over."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from pyspark_big_data_spark.operators import deletes
from pyspark_big_data_spark.operators.deletes import (
    _chain_vectors,
    delete_keys,
    list_delete_commits,
    materialize_deletes,
    read_version_mor,
)
from pyspark_big_data_spark.operators.versioned import (
    Snapshot,
    compact_version,
    expire_versions,
    list_versions,
    manifest,
    pruned_file_plan,
    read_version,
    read_version_pruned,
    write_version,
)


def _df(spark, n=100):
    return spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("x")
    )


def _rows(df):
    return sorted((r["k"], r["x"]) for r in df.collect())


def _keys(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "k long")


def test_delete_keys_is_merge_on_read(spark, tmp_path):
    """A delete commit touches NO data file; the MOR read masks the
    keys; the pinned physical snapshot still reads in full."""
    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    vdir = f"{root}/v=0"
    before = sorted(os.listdir(vdir))

    assert delete_keys(spark, root, _keys(spark, [3, 5, 7]), "k") == 0
    assert sorted(os.listdir(vdir)) == before  # data files untouched
    assert list_delete_commits(spark, root, 0) == [0]

    mor = read_version_mor(spark, root, 0)
    assert _rows(mor) == _rows(
        read_version(spark, root, 0).filter(~F.col("k").isin(3, 5, 7))
    )
    # physical snapshot unaffected (time travel below the tombstones)
    assert read_version(spark, root, 0).count() == 100


def test_delete_commits_accumulate_and_distinct(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    delete_keys(spark, root, _keys(spark, [1, 2, None]), "k")  # null dropped
    assert delete_keys(spark, root, _keys(spark, [2, 3]), "k") == 1  # overlap ok
    eq = _chain_vectors(spark, root, 0)[0]
    assert [(member, key) for member, _, key in eq] == [(0, "k")]
    tomb = eq[0][1]
    # distinct WITHIN each commit (delete_keys writes distinct); the
    # cross-commit union the MOR read anti-joins is NOT re-deduplicated
    # (r14: duplicates cannot change an anti-join, and the distinct was
    # a shuffle paid on every MOR evaluation) — key 2 appears once per
    # commit that tombstoned it
    assert sorted(set(r["k"] for r in tomb.collect())) == [1, 2, 3]
    assert sorted(r["k"] for r in tomb.collect()) == [1, 2, 2, 3]
    # the MOR result is identical with or without the dedup
    assert read_version_mor(spark, root, 0).count() == 97


def test_mor_read_without_tombstones_is_plain_read(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    plan = read_version_mor(spark, root, 0)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # zero extra nodes when nothing is deleted


def test_mor_anti_join_broadcasts_tombstones(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    delete_keys(spark, root, _keys(spark, [1]), "k")
    plan = read_version_mor(spark, root, 0)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_delete_key_contract(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    with pytest.raises(ValueError, match="not a column"):
        delete_keys(spark, root, _keys(spark, [1]).withColumnRenamed("k", "z"), "z")
    delete_keys(spark, root, _keys(spark, [1]), "k")
    other = spark.createDataFrame([(2.0,)], "x double")
    with pytest.raises(ValueError, match="keyed by 'k'"):
        delete_keys(spark, root, other, "x")


def test_deletes_pin_to_their_version(spark, tmp_path):
    """Tombstones against v=0 do not leak into v=1 reads."""
    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    delete_keys(spark, root, _keys(spark, [0, 1]), "k", version=0)
    write_version(_df(spark, 50), root)  # v=1: fresh, no tombstones
    assert read_version_mor(spark, root, 1).count() == 50
    assert read_version_mor(spark, root, 0).count() == 98


def test_pruned_mor_composition(spark, tmp_path):
    """Footer-stats pruning composes with the tombstone mask:
    bit-identical to full read + filter + anti-join."""
    root = str(tmp_path / "vds")
    df = _df(spark, 1000)
    write_version(df.repartitionByRange(8, "k"), root, stats_cols=["k"])
    delete_keys(spark, root, _keys(spark, [110, 120, 900]), "k")
    plan = pruned_file_plan(spark, root, "k", 100, 150, version=0)[0]
    got = read_version_mor(spark, root, 0, selected_files=plan).filter(
        (F.col("k") >= 100) & (F.col("k") <= 150)
    )
    want = (
        read_version(spark, root, 0)
        .filter((F.col("k") >= 100) & (F.col("k") <= 150))
        .filter(~F.col("k").isin(110, 120, 900))
    )
    assert _rows(got) == _rows(want)
    # and it still prunes: the file index holds a strict subset
    sel, n_sel, n_total = pruned_file_plan(spark, root, "k", 100, 150, version=0)
    assert 0 < n_sel < n_total
    touched = {
        os.path.basename(p)
        for p in got.inputFiles()
        if "/v=0/" in p and "/_deletes/" not in p
    }
    assert touched <= {os.path.basename(p) for p in sel}


def test_mor_build_reads_equality_tombstones_once(spark, tmp_path, count_jobs):
    """A member's equality tombstones are read once, with merged
    schemas, and that frame feeds both the one-key check and the
    anti-join: a MOR build over three delete_keys commits starts one
    Spark job (a schema read per commit plus the union read was four).
    A foreign file with another column in the deletes tree still
    widens the merged schema and is refused."""
    root = str(tmp_path / "vds")
    write_version(_df(spark, 20), root)
    for k in (1, 2, 3):
        delete_keys(spark, root, _keys(spark, [k]), "k")
    for _ in range(2):
        assert count_jobs(lambda: read_version_mor(spark, root, 0)) == 1
    assert read_version_mor(spark, root, 0).count() == 17

    spark.createDataFrame([(9,)], "other long").write.parquet(
        f"{root}/_deletes/v=0/d=3"
    )
    with pytest.raises(ValueError, match="mixed key columns"):
        read_version_mor(spark, root, 0)
    with pytest.raises(ValueError, match="mixed key columns"):
        delete_keys(spark, root, _keys(spark, [4]), "k")


def test_materialize_deletes(spark, tmp_path):
    """Materialize folds tombstones into a new version with the source
    manifest columns carried; the new version has no tombstones and
    reads the zero-join fast path; the source is untouched."""
    root = str(tmp_path / "vds")
    df = _df(spark, 1000)
    write_version(df.repartitionByRange(8, "k"), root, stats_cols=["k"])
    delete_keys(spark, root, _keys(spark, list(range(0, 1000, 10))), "k")
    new_v = materialize_deletes(spark, root, 0, target_files=2)
    assert new_v == 1
    assert read_version(spark, root, 1).count() == 900
    assert _rows(read_version(spark, root, 1)) == _rows(read_version_mor(spark, root, 0))
    assert manifest(spark, root, 1)["stats_cols"] == ["k"]  # carried
    assert list_delete_commits(spark, root, 1) == []
    plan = read_version_mor(spark, root, 1)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # source version + tombstones intact for replay
    assert read_version(spark, root, 0).count() == 1000
    assert list_delete_commits(spark, root, 0) == [0]
    with pytest.raises(ValueError, match="no tombstones"):
        materialize_deletes(spark, root, 1)


def test_expire_takes_tombstones_with_the_version(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    delete_keys(spark, root, _keys(spark, [1]), "k")
    write_version(_df(spark, 50), root)
    assert expire_versions(spark, root, keep_last=1) == [0]
    assert not os.path.exists(f"{root}/_deletes/v=0")


def test_compact_version_coalesce_no_shuffle(spark, tmp_path):
    """Pure bin-pack: fewer files, identical rows, manifest rebuilt
    with the same stats columns, source untouched."""
    root = str(tmp_path / "vds")
    df = _df(spark, 1000)
    write_version(df.repartitionByRange(16, "k"), root, stats_cols=["k"])
    res = compact_version(spark, root, target_files=4)
    assert res["version"] == 1
    assert res["files_after"] < res["files_before"]
    assert res["files_after"] <= 4
    assert _rows(read_version(spark, root, 1)) == _rows(read_version(spark, root, 0))
    assert manifest(spark, root, 1)["stats_cols"] == ["k"]
    # coalesce of a range layout merges ADJACENT ranges: pruning still bites
    _, n_sel, n_total = pruned_file_plan(spark, root, "k", 100, 150, version=1)
    assert 0 < n_sel < n_total
    got = read_version_pruned(spark, root, "k", 100, 150, version=1)
    assert got.count() == 51


def test_compact_version_cluster_by_restores_pruning(spark, tmp_path):
    """Interleaved small files (hash layout) prune nothing; cluster_by
    compaction restores tight per-file ranges."""
    root = str(tmp_path / "vds")
    df = _df(spark, 1000)
    write_version(df.repartition(16, "k"), root, stats_cols=["k"])
    _, n_sel0, n_total0 = pruned_file_plan(spark, root, "k", 100, 150, version=0)
    assert n_sel0 == n_total0  # hash layout: every file overlaps
    res = compact_version(spark, root, target_files=4, cluster_by="k")
    _, n_sel1, n_total1 = pruned_file_plan(spark, root, "k", 100, 150, version=res["version"])
    assert 0 < n_sel1 < n_total1
    assert _rows(read_version(spark, root, res["version"])) == _rows(df)


def test_compact_refuses_tombstoned_version(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    delete_keys(spark, root, _keys(spark, [1]), "k")
    with pytest.raises(ValueError, match="deletion vectors"):
        compact_version(spark, root, target_files=1)
    # materialize first, then compaction of the new version is legal
    v = materialize_deletes(spark, root, 0)
    res = compact_version(spark, root, target_files=1, version=v)
    assert read_version(spark, root, res["version"]).count() == 99


# ---------------------------------------------------------------------------
# Positional deletes (r10)
# ---------------------------------------------------------------------------


def test_positional_delete_lifecycle(spark, tmp_path):
    from pyspark_big_data_spark.operators.deletes import (
        delete_positions,
        list_pos_delete_commits,
        with_positions,
    )

    root = str(tmp_path / "vds")
    write_version(_df(spark, 100).repartition(4, "k"), root)
    vdir = f"{root}/v=0"
    before = sorted(os.listdir(vdir))

    # the planner scan: address exactly the rows k % 10 == 3
    addr = with_positions(spark, root, 0).filter(F.col("k") % 10 == 3)
    assert delete_positions(spark, root, addr, version=0) == 0
    assert sorted(os.listdir(vdir)) == before  # no data file touched
    assert list_pos_delete_commits(spark, root, 0) == [0]

    got = read_version_mor(spark, root, 0)
    assert _rows(got) == _rows(
        read_version(spark, root, 0).filter(F.col("k") % 10 != 3)
    )
    assert got.columns == ["k", "x"]  # address columns dropped


def test_positional_deletes_one_of_identical_rows(spark, tmp_path):
    """The capability equality deletes CANNOT have: remove exactly one
    of two bit-identical rows."""
    from pyspark_big_data_spark.operators.deletes import (
        delete_positions,
        with_positions,
    )

    root = str(tmp_path / "vds")
    dup = _df(spark, 5).unionByName(_df(spark, 5)).coalesce(1)
    write_version(dup, root)
    one = (
        with_positions(spark, root, 0)
        .filter(F.col("k") == 2)
        .orderBy("_pos")
        .limit(1)
    )
    delete_positions(spark, root, one, version=0)
    got = read_version_mor(spark, root, 0)
    assert got.count() == 9
    assert got.filter(F.col("k") == 2).count() == 1  # one copy survives


def test_both_vector_types_compose_and_materialize(spark, tmp_path):
    from pyspark_big_data_spark.operators.deletes import (
        delete_keys,
        delete_positions,
        materialize_deletes,
        with_positions,
    )

    root = str(tmp_path / "vds")
    write_version(_df(spark, 100), root)
    delete_keys(spark, root, _keys(spark, [1, 2]), "k", version=0)
    addr = with_positions(spark, root, 0).filter(F.col("k").isin(50, 60))
    delete_positions(spark, root, addr, version=0)

    got = read_version_mor(spark, root, 0)
    assert got.count() == 96
    assert got.filter(F.col("k").isin(1, 2, 50, 60)).count() == 0

    v1 = materialize_deletes(spark, root, 0)
    assert read_version(spark, root, v1).count() == 96
    assert _rows(read_version(spark, root, v1)) == _rows(got)


def test_positional_delete_contracts(spark, tmp_path):
    from pyspark_big_data_spark.operators.deletes import (
        VECTOR_SCHEMA,
        delete_positions,
    )
    from pyspark_big_data_spark.operators.versioned import compact_version

    root = str(tmp_path / "vds")
    write_version(_df(spark, 10), root)
    with pytest.raises(ValueError, match="missing"):
        delete_positions(spark, root, _df(spark, 2), version=0)
    bad = spark.createDataFrame([(None, 0)], "_file string, _pos long")
    with pytest.raises(ValueError, match="null addresses"):
        delete_positions(spark, root, bad, version=0)
    ok = spark.createDataFrame([("nope.parquet", 0)], "_file string, _pos long")
    delete_positions(spark, root, ok, version=0)
    # an int address is cast on write: every vector is VECTOR_SCHEMA
    narrow = spark.createDataFrame([("nope.parquet", 1)], "_file string, _pos int")
    k = delete_positions(spark, root, narrow, version=0)
    written = spark.read.parquet(f"{root}/_pos_deletes/v=0/d={k}")
    assert written.schema == VECTOR_SCHEMA
    assert read_version_mor(spark, root, 0).count() == 10
    with pytest.raises(ValueError, match="deletion vectors"):
        compact_version(spark, root, target_files=1)


def test_positional_reserved_name_guard(spark, tmp_path):
    from pyspark_big_data_spark.operators.deletes import with_positions

    root = str(tmp_path / "vds")
    clash = _df(spark, 10).withColumnRenamed("x", "_pos")
    write_version(clash, root)
    with pytest.raises(ValueError, match="reserved"):
        with_positions(spark, root, 0)


def test_legacy_bare_basename_vectors_still_mask(spark, tmp_path):
    """Positional vectors committed BEFORE the r11 version-qualified
    address format hold bare part-file basenames and no _rows.json
    sidecar. The MOR read must detect the vintage (sidecar absence)
    and match those tombstones by basename — not silently stop
    masking, resurrecting deleted rows."""
    import glob
    import json as _json

    from pyspark_big_data_spark.operators.deletes import (
        delete_positions,
        with_positions,
    )

    root = str(tmp_path / "vds")
    write_version(_df(spark, 100).repartition(4, "k"), root)
    addr = with_positions(spark, root, 0).filter(F.col("k") % 10 == 3)
    delete_positions(spark, root, addr, version=0)

    # rewrite the commit the way pre-r11 code left it: bare basenames,
    # no sidecar
    cdir = f"{root}/_pos_deletes/v=0/d=0"
    tomb = spark.read.parquet(cdir).toPandas()
    assert tomb["_file"].str.contains("/").all()  # modern format today
    tomb["_file"] = tomb["_file"].str.split("/").str[-1]
    import pandas as pd  # noqa: F401

    for f in glob.glob(f"{cdir}/*.parquet") + glob.glob(f"{cdir}/_rows.json"):
        os.remove(f)
    tomb.to_parquet(f"{cdir}/part-legacy.parquet", index=False)
    spark.catalog.refreshByPath(cdir)

    got = read_version_mor(spark, root, 0)
    assert _rows(got) == _rows(
        read_version(spark, root, 0).filter(F.col("k") % 10 != 3)
    )
    assert got.columns == ["k", "x"]


def test_equality_only_mor_keeps_data_column_named_file(spark, tmp_path):
    """A snapshot legitimately carrying a data column named ``_file``
    survives an equality-vectors-only MOR read intact: the trailing
    drop removes only address columns THIS read projected, never data
    columns that happen to share a reserved name."""
    root = str(tmp_path / "vds")
    df = _df(spark, 20).withColumn("_file", F.concat(F.lit("doc-"), F.col("k")))
    write_version(df, root)
    delete_keys(spark, root, _keys(spark, [3, 7]), "k", version=0)
    got = read_version_mor(spark, root, 0)
    assert set(got.columns) == {"k", "x", "_file"}
    assert got.count() == 18
    assert got.filter(F.col("_file") == "doc-5").count() == 1


# ---------------------------------------------------------------------------
# Chain-wide vector resolution, sequence rules, thresholds (r11)
# ---------------------------------------------------------------------------


def test_append_onto_tombstoned_base_refused(spark, tmp_path):
    """The GDPR-resurrection guard: appending onto a chain carrying
    EXTERNAL tombstones raises (mirrors compact_version); the explicit
    opt-in commits, and the MOR read of the new head keeps the deleted
    rows gone."""
    from pyspark_big_data_spark.operators.versioned import append_version

    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    delete_keys(spark, root, _keys(spark, [1, 2]), "k")
    with pytest.raises(ValueError, match="resurrect"):
        append_version(_df(spark, 5), root)
    v1 = append_version(_df(spark, 5), root, allow_base_tombstones=True)
    assert read_version_mor(spark, root, v1).count() == 103  # 98 + 5


def test_chain_mor_equality_is_sequence_aware(spark, tmp_path):
    """A vector against member M masks only rows living in members <= M:
    a key re-inserted by a LATER append survives; a vector against the
    HEAD masks the whole chain."""
    from pyspark_big_data_spark.operators.versioned import append_version

    root = str(tmp_path / "vds")
    write_version(_df(spark), root)  # v0: k in [0, 100)
    delete_keys(spark, root, _keys(spark, [1, 2]), "k", version=0)
    v1 = append_version(_df(spark, 5), root, allow_base_tombstones=True)

    mor = read_version_mor(spark, root, v1)
    assert mor.count() == 103
    # k=1 was deleted at v0 and re-inserted by the v1 delta: ONE copy
    assert mor.filter(F.col("k") == 1).count() == 1
    assert mor.filter(F.col("k") == 50).count() == 1

    # head-targeted vector masks the whole chain (it IS the newest seq)
    delete_keys(spark, root, _keys(spark, [50]), "k", version=v1)
    mor2 = read_version_mor(spark, root, v1)
    assert mor2.count() == 102
    assert mor2.filter(F.col("k") == 50).count() == 0
    assert mor2.filter(F.col("k") == 1).count() == 1


def test_chain_mor_resolves_ancestor_positional(spark, tmp_path):
    """Positional vectors against a base member keep applying through
    later appends, and their addresses are VERSION-QUALIFIED."""
    from pyspark_big_data_spark.operators.deletes import (
        delete_positions,
        with_positions,
    )
    from pyspark_big_data_spark.operators.versioned import append_version

    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    addr = with_positions(spark, root, 0).filter(F.col("k").isin(7, 8))
    qualified = {r["_file"] for r in addr.select("_file").collect()}
    assert all(f.startswith("v=0/") for f in qualified)
    delete_positions(spark, root, addr, version=0)
    v1 = append_version(_df(spark, 5), root, allow_base_tombstones=True)
    got = read_version_mor(spark, root, v1)
    assert got.count() == 103
    assert got.filter(F.col("k").isin(7, 8)).count() == 0


def test_broadcast_threshold_drops_hint(spark, tmp_path, monkeypatch):
    """Above the tombstone-row threshold the broadcast hint is dropped:
    with auto-broadcast disabled, the anti-join plans as a shuffle join
    instead of OOM-ing the driver on a giant vector."""
    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    delete_keys(spark, root, _keys(spark, [1]), "k")
    hinted = read_version_mor(spark, root, 0)
    plan = hinted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        monkeypatch.setattr(deletes, "BROADCAST_THRESHOLD_ROWS", 0)
        unhinted = read_version_mor(spark, root, 0)
        plan2 = unhinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2
        assert "LeftAnti" in plan2
        assert unhinted.count() == 99  # semantics unchanged, plan slower
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_embedded_merge_vectors_single_commit(spark, tmp_path):
    """A MERGE-shaped commit: delta files + positional vectors publish
    in ONE rename (the vectors live INSIDE the version dir), the MOR
    read retires exactly the addressed rows, and the manifest prices
    the vector."""
    from pyspark_big_data_spark.operators.deletes import with_positions
    from pyspark_big_data_spark.operators.versioned import append_version

    root = str(tmp_path / "vds")
    write_version(_df(spark), root)  # v0: x = 2k
    addr = with_positions(spark, root, 0).filter(F.col("k") < 3).select(
        "_file", "_pos"
    )
    updated = spark.range(0, 3).select(
        F.col("id").alias("k"), (F.col("id") * 2.0 + 1).alias("x")
    )
    v1 = append_version(updated, root, embedded_pos_deletes=addr)
    assert os.path.exists(f"{root}/v={v1}/_merge_deletes")
    assert not os.path.exists(f"{root}/_pos_deletes")
    assert manifest(spark, root, v1)["pos_delete_rows"] == 3

    got = read_version_mor(spark, root, v1)
    assert got.count() == 100
    assert got.filter(F.col("k") == 0).collect()[0]["x"] == 1.0  # updated
    assert got.filter(F.col("k") == 50).collect()[0]["x"] == 100.0

    with pytest.raises(ValueError, match="append"):
        write_version(_df(spark, 5), root, embedded_pos_deletes=addr)
    bad = addr.withColumnRenamed("_pos", "_position")
    with pytest.raises(ValueError, match="address"):
        append_version(updated, root, embedded_pos_deletes=bad)


def test_compact_refuses_ancestor_vectors_and_materialize_folds(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import append_version

    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    delete_keys(spark, root, _keys(spark, [1, 2]), "k", version=0)
    v1 = append_version(_df(spark, 5), root, allow_base_tombstones=True)
    with pytest.raises(ValueError, match="deletion vectors"):
        compact_version(spark, root, target_files=1, version=v1)
    v2 = materialize_deletes(spark, root, v1)
    assert read_version(spark, root, v2).count() == 103
    assert _rows(read_version(spark, root, v2)) == _rows(
        read_version_mor(spark, root, v1)
    )
    res = compact_version(spark, root, target_files=1, version=v2)
    assert read_version(spark, root, res["version"]).count() == 103


def test_table_changes_refuses_vectored_ranges(spark, tmp_path):
    from pyspark_big_data_spark.operators.deletes import with_positions
    from pyspark_big_data_spark.operators.versioned import (
        append_version,
        table_changes,
    )

    root = str(tmp_path / "vds")
    write_version(_df(spark), root)
    v1 = append_version(_df(spark, 5), root)
    delete_keys(spark, root, _keys(spark, [3]), "k", version=v1)
    with pytest.raises(ValueError, match="not append-only"):
        table_changes(spark, root, 0, v1)
    # vectors against the BASE endpoint (outside the range) are fine
    root2 = str(tmp_path / "vds2")
    write_version(_df(spark), root2)
    delete_keys(spark, root2, _keys(spark, [3]), "k", version=0)
    v1b = append_version(_df(spark, 5), root2, allow_base_tombstones=True)
    assert table_changes(spark, root2, 0, v1b).count() == 5
    # MERGE-embedded vectors also poison the range
    root3 = str(tmp_path / "vds3")
    write_version(_df(spark), root3)
    addr = with_positions(spark, root3, 0).filter(F.col("k") < 2).select(
        "_file", "_pos"
    )
    vm = append_version(_df(spark, 2), root3, embedded_pos_deletes=addr)
    with pytest.raises(ValueError, match="not append-only"):
        table_changes(spark, root3, 0, vm)


@pytest.mark.parametrize("kind", ["equality", "positional", "embedded"])
def test_vector_kind_probe_matrix(spark, tmp_path, kind):
    """Which chain probes refuse which vector kind. Branch ``dev``
    carries one vector of ``kind`` on its own chain; ``main`` and
    ``feat`` share only the vector-free base, so the vector is off
    their chains and must trip nothing there."""
    from pyspark_big_data_spark.operators.cdf import table_changes_typed
    from pyspark_big_data_spark.operators.deletes import (
        delete_positions,
        has_any_delete_vectors,
        with_positions,
    )
    from pyspark_big_data_spark.operators.merge import merge_to_branch
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        commit_to_branch,
        create_branch,
        merge_branch,
    )
    from pyspark_big_data_spark.operators.versioned import table_changes

    root = str(tmp_path / "vds")
    write_version(_df(spark, 10), root)
    for name in ("main", "dev", "feat"):
        create_branch(spark, root, name, 0)
    v1 = commit_to_branch(_df(spark, 12).filter("k >= 10"), root, "dev", append=True)
    if kind == "equality":
        delete_keys(spark, root, _keys(spark, [10]), "k", version=v1)
    elif kind == "positional":
        addr = with_positions(spark, root, v1).filter(F.col("k") == 10)
        delete_positions(spark, root, addr, version=v1)
    else:
        upd = spark.createDataFrame([(10, -1.0)], "k long, x double")
        merge_to_branch(spark, root, "dev", upd, "k")
    dev = branch_head(spark, root, "dev")
    main = commit_to_branch(_df(spark, 14).filter("k >= 12"), root, "main", append=True)
    commit_to_branch(_df(spark, 16).filter("k >= 14"), root, "feat", append=True)
    external = kind != "embedded"

    assert has_any_delete_vectors(spark, root, dev)
    assert not has_any_delete_vectors(spark, root, main)
    with pytest.raises(ValueError, match="deletion vectors"):
        table_changes(spark, root, 0, dev)
    assert table_changes(spark, root, 0, main).count() == 2
    if external:
        with pytest.raises(ValueError, match="EXTERNAL deletion vectors"):
            table_changes_typed(spark, root, 0, dev)
    else:
        table_changes_typed(spark, root, 0, dev)
    assert table_changes_typed(spark, root, 0, main).count() == 2
    with pytest.raises(ValueError, match="deletion vectors"):
        merge_branch(spark, root, "dev", "main")
    assert merge_branch(spark, root, "feat", "main")["mode"] == "merge"

    if external:
        with pytest.raises(ValueError, match="deletion vectors"):
            commit_to_branch(_df(spark, 1), root, "dev", append=True)
    else:
        commit_to_branch(_df(spark, 1), root, "dev", append=True)


def test_external_vector_census_lists_only_existing_trees(spark, tmp_path, monkeypatch):
    """The census costs two parent listings however long the chain is,
    plus one ``d=`` listing per member that has a vector tree; a tree
    holding only staging carries no vector, and the boolean probe stops
    at the first member that carries one."""
    from pyspark_big_data_spark.operators import deletes

    listed = []
    real = deletes.list_numbered_dirs

    def counting(spark_, root_, prefix):
        listed.append(root_)
        return real(spark_, root_, prefix)

    monkeypatch.setattr(deletes, "list_numbered_dirs", counting)
    root = str(tmp_path / "vds")
    assert deletes.external_vectors(spark, root, range(100)) == {}
    assert len(listed) == 2

    listed.clear()
    os.makedirs(f"{root}/_deletes/v=3/d=0")
    os.makedirs(f"{root}/_pos_deletes/v=5/.staging_d0.abc")
    assert deletes.external_vectors(spark, root, range(100)) == {3: ([0], [])}
    assert len(listed) == 4

    # has_any_delete_vectors walks the chain newest first and stops at
    # v=3, the first member with a committed vector: v=1 is never listed
    listed.clear()
    os.makedirs(f"{root}/_deletes/v=1/d=0")
    snap = Snapshot(spark, root, 5, range(6))
    snap.chain = (5, 4, 3, 2, 1, 0)
    monkeypatch.setattr(deletes, "_embedded_deletes_dir", lambda *a: None)
    assert deletes.has_any_delete_vectors(spark, root, snap)
    assert listed[2:] == [f"{root}/_pos_deletes/v=5", f"{root}/_deletes/v=3"]


def test_vector_row_sidecar_matches_committed_tombstone(spark, tmp_path):
    """``_rows.json`` (observed on the tombstone write) equals the row
    count of the committed tombstone: duplicate and NULL keys collapse
    before the count, an empty key frame stamps 0, and a positional
    commit counts its addresses."""
    import json

    from pyspark_big_data_spark.operators.deletes import (
        delete_positions,
        with_positions,
    )

    root = str(tmp_path / "t")
    write_version(spark.range(20).selectExpr("id AS k"), root)
    keys = spark.createDataFrame([(1,), (1,), (None,), (2,)], "k long")
    k_dups = delete_keys(spark, root, keys, "k")
    k_empty = delete_keys(spark, root, spark.createDataFrame([], "k long"), "k")
    addrs = with_positions(spark, root, 0).filter("k >= 15").select("_file", "_pos")
    p = delete_positions(spark, root, addrs)
    for commit_dir, expect in [
        (f"{root}/_deletes/v=0/d={k_dups}", 2),
        (f"{root}/_deletes/v=0/d={k_empty}", 0),
        (f"{root}/_pos_deletes/v=0/d={p}", 5),
    ]:
        with open(f"{commit_dir}/_rows.json") as f:
            rows = json.load(f)["rows"]
        spark.catalog.refreshByPath(commit_dir)
        assert rows == spark.read.parquet(commit_dir).count() == expect, commit_dir
