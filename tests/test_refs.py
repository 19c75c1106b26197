"""Tag refs over versioned snapshots (operators/refs.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pyspark_big_data_spark.operators.refs import (
    create_tag,
    delete_tag,
    list_tags,
    read_by_tag,
    read_tag,
)
from pyspark_big_data_spark.operators.versioned import (
    expire_versions,
    list_versions,
    read_version,
    write_version,
)


def _history(spark, tmp_path, n=3):
    root = str(tmp_path / "dim")
    for i in range(n):
        df = spark.createDataFrame([(k, i) for k in range(5)], "k long, gen int")
        assert write_version(df, root) == i
    return root


def test_tag_roundtrip_and_listing(spark, tmp_path):
    root = _history(spark, tmp_path)
    create_tag(spark, root, "rel-1.0", 1, note="first release")
    assert read_tag(spark, root, "rel-1.0") == 1
    assert list_tags(spark, root) == {"rel-1.0": 1}
    assert {r["gen"] for r in read_by_tag(spark, root, "rel-1.0").collect()} == {1}
    delete_tag(spark, root, "rel-1.0")
    assert list_tags(spark, root) == {}
    with pytest.raises(FileNotFoundError):
        read_tag(spark, root, "rel-1.0")


def test_tags_are_immutable_and_validated(spark, tmp_path):
    root = _history(spark, tmp_path)
    create_tag(spark, root, "pin", 0)
    with pytest.raises(ValueError, match="already exists"):
        create_tag(spark, root, "pin", 2)  # no silent retarget
    with pytest.raises(ValueError, match="uncommitted"):
        create_tag(spark, root, "ghost", 99)
    with pytest.raises(ValueError, match="invalid tag name"):
        create_tag(spark, root, "../escape", 0)


def test_tag_create_detects_silent_overwrite(spark, tmp_path, monkeypatch):
    """POSIX rename(2) under RawLocalFileSystem silently overwrites an
    existing destination file, so the rename's return value alone can't
    arbitrate two racing create_tag calls (r9 advice item). Each writer
    stamps a unique nonce and re-reads the published tag: a writer whose
    pin was overwritten between its rename and its read-back must raise,
    not report success over the other writer's pin."""
    from pyspark_big_data_spark.operators import refs as refs_mod

    root = _history(spark, tmp_path)
    # success path publishes THIS writer's nonce
    doc = create_tag(spark, root, "ok", 0)
    assert doc["writer"]
    delete_tag(spark, root, "ok")

    # loser path: simulate the overwrite window by making the read-back
    # observe a different writer's doc
    real_read = refs_mod._read_json
    monkeypatch.setattr(
        refs_mod,
        "_read_json",
        lambda fs, jvm, p: {**real_read(fs, jvm, p), "writer": "someone-else"},
    )
    with pytest.raises(ValueError, match="concurrently"):
        create_tag(spark, root, "raced", 0)


def test_vacuum_spares_tagged_versions(spark, tmp_path):
    root = _history(spark, tmp_path, n=4)
    create_tag(spark, root, "audit", 1)
    expired = expire_versions(spark, root, keep_last=1)
    assert expired == [0, 2]  # 1 is tagged, 3 is newest
    assert list_versions(spark, root) == [1, 3]
    assert {r["gen"] for r in read_by_tag(spark, root, "audit").collect()} == {1}
    # untag and vacuum again: now it goes
    delete_tag(spark, root, "audit")
    assert expire_versions(spark, root, keep_last=1) == [1]
    with pytest.raises(ValueError):
        read_version(spark, root, 1)


# ---------------------------------------------------------------------------
# Branches (mutable refs, r10)
# ---------------------------------------------------------------------------


def _bdf(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("x")
    )


def test_branch_lifecycle_and_isolation(spark, tmp_path):
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        commit_to_branch,
        create_branch,
        delete_branch,
        list_branches,
        read_branch,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 100), root)  # v0 shared ancestry
    create_branch(spark, root, "main", 0)
    create_branch(spark, root, "dev", 0)

    # dev appends on its OWN head; main's view is untouched
    v_dev = commit_to_branch(_bdf(spark, 100, 120), root, "dev", append=True)
    assert branch_head(spark, root, "dev") == v_dev
    assert branch_head(spark, root, "main") == 0
    assert read_branch(spark, root, "dev").count() == 120
    assert read_branch(spark, root, "main").count() == 100

    # main diverges independently over the same ancestry
    v_main = commit_to_branch(_bdf(spark, 200, 205), root, "main", append=True)
    assert read_branch(spark, root, "main").count() == 105
    assert read_branch(spark, root, "dev").count() == 120
    assert list_branches(spark, root) == {"dev": v_dev, "main": v_main}

    delete_branch(spark, root, "dev")
    with pytest.raises(FileNotFoundError):
        branch_head(spark, root, "dev")


def test_branch_cas_conflict(spark, tmp_path):
    from pyspark_big_data_spark.operators.refs import (
        BranchConflict,
        commit_to_branch,
        create_branch,
        update_branch,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 10), root)
    create_branch(spark, root, "main", 0)
    v1 = commit_to_branch(_bdf(spark, 0, 20), root, "main")
    # a writer holding the stale head loses explicitly
    with pytest.raises(BranchConflict):
        commit_to_branch(_bdf(spark, 0, 30), root, "main", expected_head=0)
    with pytest.raises(BranchConflict):
        update_branch(spark, root, "main", 0, expected_head=0)
    # duplicate create refused; branching from nowhere refused
    with pytest.raises(ValueError, match="already exists"):
        create_branch(spark, root, "main", v1)
    with pytest.raises(ValueError, match="uncommitted"):
        create_branch(spark, root, "other", 99)


def test_branch_heads_protected_from_retention(spark, tmp_path):
    from pyspark_big_data_spark.operators.refs import (
        commit_to_branch,
        create_branch,
        read_branch,
    )
    from pyspark_big_data_spark.operators.versioned import (
        expire_versions,
        write_version,
    )

    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 50), root)  # v0
    create_branch(spark, root, "dev", 0)
    commit_to_branch(_bdf(spark, 50, 60), root, "dev", append=True)  # v1 on dev
    write_version(_bdf(spark, 0, 5), root)  # v2 (global latest, unbranched)
    # keep_last=1 keeps v2; dev's head v1 AND its base v0 must survive
    assert expire_versions(spark, root, keep_last=1) == []
    assert read_branch(spark, root, "dev").count() == 60


def test_branch_append_schema_contract(spark, tmp_path):
    from pyspark.sql import functions as F

    from pyspark_big_data_spark.operators.refs import (
        commit_to_branch,
        create_branch,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 10), root)
    create_branch(spark, root, "main", 0)
    with pytest.raises(ValueError, match="schema mismatch"):
        commit_to_branch(
            _bdf(spark, 10, 20).withColumn("extra", F.lit(1)),
            root,
            "main",
            append=True,
        )


def test_fast_forward_branch(spark, tmp_path):
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        commit_to_branch,
        create_branch,
        fast_forward_branch,
        read_branch,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 10), root)
    create_branch(spark, root, "main", 0)
    create_branch(spark, root, "dev", 0)
    v_dev = commit_to_branch(_bdf(spark, 10, 15), root, "dev", append=True)

    # main's head (v0) is dev's ancestor: fast-forward succeeds
    fast_forward_branch(spark, root, "main", v_dev)
    assert branch_head(spark, root, "main") == v_dev
    assert read_branch(spark, root, "main").count() == 15
    fast_forward_branch(spark, root, "main", v_dev)  # no-op, idempotent

    # divergence refused: dev2 commits a FULL rewrite off the old base
    create_branch(spark, root, "dev2", 0)
    v2 = commit_to_branch(_bdf(spark, 0, 3), root, "dev2")  # not an append
    with pytest.raises(ValueError, match="divergent"):
        fast_forward_branch(spark, root, "main", v2)


def test_branch_cas_is_arbitrated_not_checked(spark, tmp_path):
    """The r11 CAS redesign: a repoint is the commit of an IMMUTABLE
    sequence-log entry, so two writers that both passed the
    expected_head check still race on the same s=K+1 rename and
    exactly one wins — the check-then-write lost-update window of a
    mutable pointer file is structurally gone."""
    import uuid

    from pyspark_big_data_spark.operators.refs import (
        _branch_dir,
        _branch_state,
        branch_head,
        create_branch,
    )
    from pyspark_big_data_spark.operators.versioned import (
        _fs,
        _write_json,
        commit_at,
        write_version,
    )

    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 100), root)
    write_version(_bdf(spark, 0, 50), root)
    write_version(_bdf(spark, 0, 20), root)
    create_branch(spark, root, "main", 0)

    # both writers read (seq=0, head=0) and both pass the CAS check;
    # they then race on the s=1 commit — exactly one rename can win
    seq, doc = _branch_state(spark, root, "main")
    a = {"version": 1, "seq": seq + 1, "writer": uuid.uuid4().hex}
    b = {"version": 2, "seq": seq + 1, "writer": uuid.uuid4().hex}
    fs, _, jvm = _fs(spark, root)

    def entry(doc):
        return lambda staging, _: _write_json(fs, jvm, f"{staging}/doc.json", doc)

    bdir = _branch_dir(root, "main")
    won_a = commit_at(spark, bdir, "s=", seq + 1, entry(a))
    won_b = commit_at(spark, bdir, "s=", seq + 1, entry(b))
    assert won_a and not won_b  # the second writer OBSERVES its loss
    assert branch_head(spark, root, "main") == 1  # winner never buried

    # the branch log is append-only history: every transition auditable
    seq2, doc2 = _branch_state(spark, root, "main")
    assert (seq2, doc2["version"]) == (1, 1)


def _mk_branches(spark, root):
    from pyspark_big_data_spark.operators.refs import create_branch
    from pyspark_big_data_spark.operators.versioned import write_version

    write_version(_bdf(spark, 0, 50), root)
    create_branch(spark, root, "main", 0)
    create_branch(spark, root, "dev", 0)


def test_merge_branch_three_way(spark, tmp_path):
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        commit_to_branch,
        merge_branch,
        read_branch,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)
    commit_to_branch(_bdf(spark, 100, 130), root, "dev", append=True)
    commit_to_branch(_bdf(spark, 200, 220), root, "main", append=True)

    res = merge_branch(spark, root, "dev", "main")
    assert res["mode"] == "merge" and res["base"] == 0
    merged = read_branch(spark, root, "main")
    want = (
        _bdf(spark, 0, 50)
        .unionByName(_bdf(spark, 100, 130))
        .unionByName(_bdf(spark, 200, 220))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, want.collect()))
    # source branch untouched; merged read == union replay
    assert read_branch(spark, root, "dev").count() == 80
    assert branch_head(spark, root, "main") == res["version"]


def test_merge_branch_fast_forward_and_noop(spark, tmp_path):
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        commit_to_branch,
        merge_branch,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)
    v_dev = commit_to_branch(_bdf(spark, 100, 110), root, "dev", append=True)
    res = merge_branch(spark, root, "dev", "main")
    assert res["mode"] == "fast-forward"
    assert branch_head(spark, root, "main") == v_dev
    res2 = merge_branch(spark, root, "dev", "main")
    assert res2["mode"] == "noop"


def test_merge_branch_refuses_conflicts(spark, tmp_path):
    import pytest as _pytest

    from pyspark_big_data_spark.operators.deletes import delete_keys
    from pyspark_big_data_spark.operators.refs import (
        commit_to_branch,
        merge_branch,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)
    v_dev = commit_to_branch(_bdf(spark, 100, 110), root, "dev", append=True)
    commit_to_branch(_bdf(spark, 200, 210), root, "main", append=True)
    # deletion vector on the divergent path: not an append, refused
    delete_keys(
        spark, root, spark.createDataFrame([(105,)], "k long"), "k", version=v_dev
    )
    with _pytest.raises(ValueError, match="deletion vectors"):
        merge_branch(spark, root, "dev", "main")

    # unrelated histories (rewrite on a branch): refused
    root2 = str(tmp_path / "vds2")
    _mk_branches(spark, root2)
    commit_to_branch(_bdf(spark, 0, 5), root2, "dev", append=False)  # rewrite
    commit_to_branch(_bdf(spark, 200, 210), root2, "main", append=True)
    with _pytest.raises(ValueError, match="no ancestor"):
        merge_branch(spark, root2, "dev", "main")


def test_merge_branch_evolution(spark, tmp_path):
    from pyspark.sql import functions as F

    from pyspark_big_data_spark.operators.refs import (
        commit_to_branch,
        merge_branch,
        read_branch,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)
    commit_to_branch(
        _bdf(spark, 100, 110).withColumn("y", F.lit("dev")),
        root, "dev", append=True, allow_evolution=True,
    )
    commit_to_branch(_bdf(spark, 200, 210), root, "main", append=True)
    res = merge_branch(spark, root, "dev", "main")
    assert res["mode"] == "merge"
    merged = read_branch(spark, root, "main")
    assert set(merged.columns) == {"k", "x", "y"}
    assert merged.filter(F.col("y").isNotNull()).count() == 10
    assert merged.count() == 70


def test_sequential_merges_ship_only_new_delta(spark, tmp_path):
    """After dev merges into main and keeps appending, the next merge
    resolves its base to the previously-merged head (the merged_from
    DAG link) and appends ONLY the new rows — never re-appending the
    already-merged delta."""
    from pyspark_big_data_spark.operators.refs import (
        commit_to_branch,
        merge_branch,
        read_branch,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)
    v_dev1 = commit_to_branch(_bdf(spark, 100, 120), root, "dev", append=True)
    commit_to_branch(_bdf(spark, 200, 210), root, "main", append=True)
    assert merge_branch(spark, root, "dev", "main")["mode"] == "merge"
    assert read_branch(spark, root, "main").count() == 80

    commit_to_branch(_bdf(spark, 300, 305), root, "dev", append=True)
    res = merge_branch(spark, root, "dev", "main")
    assert res["mode"] == "merge"
    assert res["base"] == v_dev1  # NOT the original fork point
    merged = read_branch(spark, root, "main")
    assert merged.count() == 85  # +5, the already-merged 20 not doubled
    assert merged.filter((F.col("k") >= 100) & (F.col("k") < 120)).count() == 20


def test_back_merge_fast_forwards_without_duplicates(spark, tmp_path):
    """merge A->B then B->A: the target head is DAG-reachable from the
    source (via the first merge's merged_from parent), so the back-
    merge is a pure fast-forward repoint — never a data commit that
    would re-append every previously-merged key (the r11 duplication
    bug: A ended with 25 rows instead of 20)."""
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        commit_to_branch,
        merge_branch,
        read_branch,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)  # v0 = 50 rows, branches main + dev
    commit_to_branch(_bdf(spark, 100, 105), root, "dev", append=True)
    commit_to_branch(_bdf(spark, 200, 205), root, "main", append=True)
    res1 = merge_branch(spark, root, "dev", "main")  # A->B
    assert res1["mode"] == "merge"
    assert read_branch(spark, root, "main").count() == 60

    res2 = merge_branch(spark, root, "main", "dev")  # B->A: back-merge
    assert res2["mode"] == "fast-forward"
    assert branch_head(spark, root, "dev") == res1["version"]
    dev = read_branch(spark, root, "dev")
    assert dev.count() == 60  # NOT 65: nothing re-appended
    assert dev.groupBy("k").count().filter(F.col("count") > 1).count() == 0


def test_back_merge_with_new_rows_skips_merged_payload(spark, tmp_path):
    """merge A->B, then BOTH sides keep appending, then merge B->A:
    the merge commit on B's chain is a PAYLOAD of A's own rows, so the
    back-merge must ship only B's genuine appends — skipping the
    payload whose origin versions A already reaches."""
    from pyspark_big_data_spark.operators.refs import (
        commit_to_branch,
        merge_branch,
        read_branch,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)  # v0 = 50 rows
    commit_to_branch(_bdf(spark, 100, 105), root, "dev", append=True)
    commit_to_branch(_bdf(spark, 200, 205), root, "main", append=True)
    assert merge_branch(spark, root, "dev", "main")["mode"] == "merge"
    commit_to_branch(_bdf(spark, 110, 115), root, "dev", append=True)
    commit_to_branch(_bdf(spark, 210, 215), root, "main", append=True)

    res = merge_branch(spark, root, "main", "dev")  # B->A, divergent
    assert res["mode"] == "merge"
    dev = read_branch(spark, root, "dev")
    assert dev.count() == 70  # 50 + 5 + 5 + 5 + 5, dev's own 5 not doubled
    assert dev.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    # and the criss-cross completion converges too: merging dev back
    # into main skips main's rows (payload + own) and ships dev's new 5
    res2 = merge_branch(spark, root, "dev", "main")
    main = read_branch(spark, root, "main")
    assert main.count() == 70
    assert main.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    assert sorted(map(tuple, main.collect())) == sorted(map(tuple, dev.collect()))


def test_merge_refuses_partial_payload_overlap(spark, tmp_path):
    """A merge-commit payload that MIXES rows the target already has
    with rows it does not (true criss-cross: C merged into B at c1,
    then C+c2 merged into A, then A->B) cannot be split at the append
    level — refused loudly instead of duplicating or dropping."""
    import pytest as _pytest

    from pyspark_big_data_spark.operators.refs import (
        commit_to_branch,
        create_branch,
        merge_branch,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 50), root)
    for b in ("main", "dev", "feat"):
        create_branch(spark, root, b, 0)
    commit_to_branch(_bdf(spark, 300, 305), root, "feat", append=True)  # c1
    commit_to_branch(_bdf(spark, 200, 205), root, "main", append=True)
    assert merge_branch(spark, root, "feat", "main")["mode"] == "merge"
    commit_to_branch(_bdf(spark, 310, 315), root, "feat", append=True)  # c2
    commit_to_branch(_bdf(spark, 100, 105), root, "dev", append=True)
    # dev absorbs feat's c1+c2 as ONE merge payload
    assert merge_branch(spark, root, "feat", "dev")["mode"] == "merge"
    # main already has c1 but not c2: the dev->main payload is partial
    with _pytest.raises(ValueError, match="criss-cross"):
        merge_branch(spark, root, "dev", "main")


def test_keyed_merge_resolves_dv_bearing_divergence(spark, tmp_path):
    """Both branches ran MERGE INTO (DV-bearing divergent paths — the
    append-level merge_branch refuses), but they changed DISJOINT keys:
    merge_branch_keyed proves disjointness and replays the source
    side's updates/inserts/deletes onto the target as one atomic
    merge commit."""
    import pytest as _pytest

    from pyspark_big_data_spark.operators.deletes import read_version_mor
    from pyspark_big_data_spark.operators.merge import merge_to_branch
    from pyspark_big_data_spark.operators.refs import (
        merge_branch,
        merge_branch_keyed,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)  # v0 = k 0..49, branches main + dev

    def _src(spark, rows):
        return spark.createDataFrame(rows, "k long, x double")

    # dev: update k=1, insert k=100, delete k=2
    merge_to_branch(
        spark, root, "dev",
        _src(spark, [(1, 111.0), (100, 100.0), (2, 0.0)]).withColumn(
            "__del", F.col("k") == 2
        ),
        "k",
        when_matched_update="NOT source.__del",
        when_matched_delete="source.__del",
        when_not_matched_insert="NOT source.__del",
    )
    # main: update k=10, insert k=200 (disjoint keys)
    merge_to_branch(spark, root, "main", _src(spark, [(10, 1010.0), (200, 200.0)]), "k")

    with _pytest.raises(ValueError, match="deletion vectors"):
        merge_branch(spark, root, "dev", "main")

    res = merge_branch_keyed(spark, root, "dev", "main", "k")
    assert res["mode"] == "keyed-merge"
    assert (res["n_updated"], res["n_inserted"], res["n_deleted"]) == (1, 1, 1)
    from pyspark_big_data_spark.operators.refs import branch_head

    merged = read_version_mor(spark, root, branch_head(spark, root, "main"))
    rows = {r["k"]: r["x"] for r in merged.collect()}
    assert rows[1] == 111.0 and rows[10] == 1010.0
    assert rows[100] == 100.0 and rows[200] == 200.0
    assert 2 not in rows
    assert len(rows) == 51  # 50 - 1 deleted + 2 inserted

    # re-merge is a noop (merged_from ancestry), back-merge fast-forwards
    assert merge_branch_keyed(spark, root, "dev", "main", "k")["mode"] == "noop"
    assert merge_branch_keyed(spark, root, "main", "dev", "k")["mode"] == "fast-forward"
    dev_rows = {
        r["k"]: r["x"]
        for r in read_version_mor(
            spark, root, branch_head(spark, root, "dev")
        ).collect()
    }
    assert dev_rows == rows


def test_keyed_merge_refuses_null_keys(spark, tmp_path):
    """A NULL merge key would silently vanish from the left_semi change
    extracts (NULL never equi-matches) — refused loudly instead."""
    import pytest as _pytest

    from pyspark_big_data_spark.operators.merge import merge_to_branch
    from pyspark_big_data_spark.operators.refs import (
        commit_to_branch,
        merge_branch_keyed,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)
    commit_to_branch(
        spark.createDataFrame([(None, 1.0)], "k long, x double"),
        root, "dev", append=True,
    )
    merge_to_branch(
        spark, root, "main",
        spark.createDataFrame([(5, 55.0)], "k long, x double"), "k",
    )
    with _pytest.raises(ValueError, match="NULL"):
        merge_branch_keyed(spark, root, "dev", "main", "k")


def test_keyed_merge_refuses_overlapping_keys(spark, tmp_path):
    import pytest as _pytest

    from pyspark_big_data_spark.operators.merge import merge_to_branch
    from pyspark_big_data_spark.operators.refs import merge_branch_keyed

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)

    def _src(spark, rows):
        return spark.createDataFrame(rows, "k long, x double")

    merge_to_branch(spark, root, "dev", _src(spark, [(5, 55.0)]), "k")
    merge_to_branch(spark, root, "main", _src(spark, [(5, 505.0)]), "k")
    with _pytest.raises(ValueError, match="both\n?.*branches changed|conflicts"):
        merge_branch_keyed(spark, root, "dev", "main", "k")


def test_prune_branch_log(spark, tmp_path):
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        create_branch,
        prune_branch_log,
        update_branch,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    root = str(tmp_path / "vds")
    for lo in range(5):
        write_version(_bdf(spark, 0, 10 + lo), root)
    create_branch(spark, root, "main", 0)
    head = 0
    for v in (1, 2, 3, 4):
        update_branch(spark, root, "main", v, expected_head=head)
        head = v
    pruned = prune_branch_log(spark, root, "main", keep_last=2)
    assert pruned == [0, 1, 2]
    assert branch_head(spark, root, "main") == 4  # head intact
    # CAS keeps working on the pruned log
    update_branch(spark, root, "main", 0, expected_head=4)
    assert branch_head(spark, root, "main") == 0
    with pytest.raises(ValueError, match=">= 1"):
        prune_branch_log(spark, root, "main", keep_last=0)


def test_prune_branch_log_sweeps_only_dead_staging(spark, tmp_path):
    """A crashed repoint's staging dir for a taken slot (K <= head) can
    never publish and is swept; one for the next slot may belong to a
    live writer and survives."""
    import os

    from pyspark_big_data_spark.operators.refs import (
        _branch_dir,
        create_branch,
        prune_branch_log,
        update_branch,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 10), root)
    write_version(_bdf(spark, 0, 5), root)
    create_branch(spark, root, "main", 0)
    update_branch(spark, root, "main", 1, expected_head=0)  # head is s=1
    bdir = _branch_dir(root, "main")
    for name in (".staging_s0.aaa", ".staging_s1.bbb", ".staging_s2.ccc"):
        os.makedirs(f"{bdir}/{name}")
    assert prune_branch_log(spark, root, "main", keep_last=10) == []
    assert sorted(n for n in os.listdir(bdir) if n.startswith(".")) == [".staging_s2.ccc"]


@pytest.mark.parametrize("seed", [7, 21, 42, 99])
def test_merge_dag_model_randomized(spark, tmp_path, seed):
    """Model-based randomized exercise of the merge DAG: random
    interleavings of per-branch appends and merges across three
    branches, with a SET model of which append-batches each branch
    has incorporated. After every operation the branch read must equal
    the model exactly — no duplicated batch (the r11 back-merge bug
    class), no lost batch, monotone incorporation. A criss-cross
    refusal must leave the target unchanged."""
    import random

    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        commit_to_branch,
        create_branch,
        merge_branch,
        read_branch,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    rng = random.Random(seed)
    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 10), root)  # batch 0: keys 0..9
    names = ["a", "b", "c"]
    for n in names:
        create_branch(spark, root, n, 0)
    model = {n: {0} for n in names}  # batch ids incorporated per branch
    batch_keys = {0: set(range(0, 10))}
    next_lo = 100

    def expect_keys(branch):
        return set().union(*(batch_keys[b] for b in model[branch]))

    def check(branch):
        got = [r["k"] for r in read_branch(spark, root, branch).collect()]
        assert len(got) == len(set(got)), f"{branch} has duplicate rows (seed {seed})"
        assert set(got) == expect_keys(branch), f"{branch} diverged from model (seed {seed})"

    for step in range(14):
        if rng.random() < 0.55:
            n = rng.choice(names)
            bid = len(batch_keys)
            lo = next_lo
            next_lo += 10
            batch_keys[bid] = set(range(lo, lo + 5))
            commit_to_branch(_bdf(spark, lo, lo + 5), root, n, append=True)
            model[n].add(bid)
            check(n)
        else:
            src, dst = rng.sample(names, 2)
            before = expect_keys(dst)
            try:
                res = merge_branch(spark, root, src, dst)
            except ValueError:
                # criss-cross refusal: target must be untouched
                got = {r["k"] for r in read_branch(spark, root, dst).collect()}
                assert got == before, f"refused merge mutated {dst} (seed {seed})"
                continue
            assert res["mode"] in ("noop", "fast-forward", "merge")
            model[dst] |= model[src]
            check(dst)
            check(src)  # source never mutated by its own merge

    for n in names:
        check(n)


@pytest.mark.parametrize("seed", [3, 58])
def test_keyed_merge_model_randomized(spark, tmp_path, seed):
    """Model-based randomized exercise of the keyed merge cycle:
    repeated rounds of DISJOINT random key edits (update / insert /
    delete via MERGE) on two branches, keyed-merge one way (replay),
    then the other (fast-forward) — after every round both branches'
    MOR reads must equal a dict model exactly. Catches lost deletes,
    resurrected keys, and wrong-direction replays across repeated
    DV-bearing merge generations."""
    import random

    from pyspark_big_data_spark.operators.deletes import read_version_mor
    from pyspark_big_data_spark.operators.merge import merge_to_branch
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        create_branch,
        merge_branch_keyed,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    rng = random.Random(seed)
    root = str(tmp_path / "vds")
    write_version(_bdf(spark, 0, 30), root)
    create_branch(spark, root, "a", 0)
    create_branch(spark, root, "b", 0)
    model = {k: float(k * 2) for k in range(30)}  # both branches equal
    next_key = 1000

    def check(branch):
        got = {
            r["k"]: r["x"]
            for r in read_version_mor(
                spark, root, branch_head(spark, root, branch)
            ).collect()
        }
        assert got == model, f"{branch} diverged from model (seed {seed})"

    def random_edits(keys_pool, n):
        nonlocal next_key
        edits = {}  # k -> ("up", x) | ("del",) | ("ins", x)
        ks = rng.sample(sorted(keys_pool), min(n, len(keys_pool)))
        for k in ks:
            if rng.random() < 0.3:
                edits[k] = ("del",)
            else:
                edits[k] = ("up", float(rng.randint(0, 999)))
        for _ in range(rng.randint(0, 2)):
            edits[next_key] = ("ins", float(rng.randint(0, 999)))
            next_key += 1
        return edits

    for round_ in range(3):
        live = set(model)
        half = rng.sample(sorted(live), len(live) // 2)
        edits_a = random_edits(set(half), 3)
        edits_b = random_edits(live - set(half) - set(edits_a), 3)
        assert not (set(edits_a) & set(edits_b))
        for name, edits in (("a", edits_a), ("b", edits_b)):
            rows = []
            for k, e in edits.items():
                if e[0] == "del":
                    rows.append((k, 0.0, True))
                else:
                    rows.append((k, e[1], False))
            src = spark.createDataFrame(rows, "k long, x double, __del boolean")
            merge_to_branch(
                spark, root, name, src, "k",
                when_matched_update="NOT source.__del",
                when_matched_delete="source.__del",
                when_not_matched_insert="NOT source.__del",
            )
        # apply BOTH branches' edits to the model (disjoint keys)
        for edits in (edits_a, edits_b):
            for k, e in edits.items():
                if e[0] == "del":
                    model.pop(k, None)
                else:
                    model[k] = e[1]
        res1 = merge_branch_keyed(spark, root, "a", "b", "k")
        assert res1["mode"] in ("keyed-merge", "noop")
        check("b")
        res2 = merge_branch_keyed(spark, root, "b", "a", "k")
        assert res2["mode"] in ("fast-forward", "noop")
        check("a")


def test_keyed_merge_identical_change_merges_cleanly(spark, tmp_path):
    """Both branches changed the SAME key to the SAME end state (the
    git identical-hunk case): not a conflict — the key needs no replay
    and disjoint changes still land (r12 verdict What's-wrong #1)."""
    from pyspark_big_data_spark.operators.deletes import read_version_mor
    from pyspark_big_data_spark.operators.merge import merge_to_branch
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        merge_branch_keyed,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)

    def _src(spark, rows):
        return spark.createDataFrame(rows, "k long, x double")

    # identical update of k=5 on both; disjoint updates besides
    merge_to_branch(spark, root, "dev", _src(spark, [(5, 55.0), (1, 11.0)]), "k")
    merge_to_branch(spark, root, "main", _src(spark, [(5, 55.0), (2, 22.0)]), "k")
    res = merge_branch_keyed(spark, root, "dev", "main", "k")
    assert res["mode"] == "keyed-merge"
    assert res["n_identical"] == 1
    assert res["n_updated"] == 1  # only k=1 replays
    merged = {
        r["k"]: r["x"]
        for r in read_version_mor(
            spark, root, branch_head(spark, root, "main")
        ).collect()
    }
    assert merged[5] == 55.0 and merged[1] == 11.0 and merged[2] == 22.0


def test_keyed_merge_identical_delete_merges_cleanly(spark, tmp_path):
    """Both branches deleted the same key: identical end state (absent
    on both) — merges cleanly; an identical-only merge is a noop."""
    from pyspark_big_data_spark.operators.deletes import read_version_mor
    from pyspark_big_data_spark.operators.merge import merge_to_branch
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        merge_branch_keyed,
    )

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)

    def _del(spark, k):
        return (
            spark.createDataFrame([(k, 0.0)], "k long, x double")
            .withColumn("__del", F.lit(True))
        )

    for br in ("dev", "main"):
        merge_to_branch(
            spark, root, br, _del(spark, 7), "k",
            when_matched_update=None,
            when_matched_delete="source.__del",
            when_not_matched_insert=None,
        )
    res = merge_branch_keyed(spark, root, "dev", "main", "k")
    assert res["mode"] == "noop"  # nothing left to replay
    assert res["n_identical"] == 1
    merged = read_version_mor(spark, root, branch_head(spark, root, "main"))
    assert merged.filter("k = 7").count() == 0
    assert merged.count() == 49


def test_keyed_merge_same_key_different_state_still_refuses(spark, tmp_path):
    """The identical-change rule never weakens the conflict wall: same
    key, DIFFERENT end states still refuses with named keys."""
    import pytest as _pytest

    from pyspark_big_data_spark.operators.merge import merge_to_branch
    from pyspark_big_data_spark.operators.refs import merge_branch_keyed

    root = str(tmp_path / "vds")
    _mk_branches(spark, root)

    def _src(spark, rows):
        return spark.createDataFrame(rows, "k long, x double")

    # k=5 updated to different values; k=6 deleted on dev, updated on main
    merge_to_branch(
        spark, root, "dev",
        _src(spark, [(5, 55.0), (6, 0.0)]).withColumn("__del", F.col("k") == 6),
        "k",
        when_matched_update="NOT source.__del",
        when_matched_delete="source.__del",
        when_not_matched_insert="NOT source.__del",
    )
    merge_to_branch(spark, root, "main", _src(spark, [(5, 505.0), (6, 66.0)]), "k")
    with _pytest.raises(ValueError, match="end states differ"):
        merge_branch_keyed(spark, root, "dev", "main", "k")
