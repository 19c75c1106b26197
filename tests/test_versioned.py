"""Versioned parquet snapshots (operators/versioned.py): commit
lifecycle, time-travel reads, and the rename-is-the-commit contract."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from pyspark_big_data_spark.operators.versioned import (
    append_version,
    bloom_file_plan,
    latest_version,
    list_versions,
    manifest,
    not_null_file_plan,
    pruned_file_plan,
    read_version,
    read_version_not_null,
    read_version_point,
    read_version_pruned,
    snapshot_min_max,
    snapshot_ndv,
    snapshot_null_counts,
    snapshot_row_count,
    write_version,
)


def _df(spark, vals):
    return spark.createDataFrame([(i, v) for i, v in vals], "k long, x double")


def test_version_lifecycle(spark, tmp_path):
    root = str(tmp_path / "vds")
    assert list_versions(spark, root) == []
    assert latest_version(spark, root) is None

    assert write_version(_df(spark, [(1, 1.0), (2, 2.0)]), root) == 0
    assert write_version(_df(spark, [(1, 9.0)]), root) == 1
    assert list_versions(spark, root) == [0, 1]

    # historical version is immutable and still readable after v1
    v0 = {(r["k"], r["x"]) for r in read_version(spark, root, 0).collect()}
    assert v0 == {(1, 1.0), (2, 2.0)}
    # default read = latest committed
    latest = {(r["k"], r["x"]) for r in read_version(spark, root).collect()}
    assert latest == {(1, 9.0)}


def test_staging_dirs_are_not_versions(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, [(1, 1.0)]), root)
    # a crashed writer's staging dir and unrelated dirs must not count
    os.makedirs(f"{root}/.staging_v7")
    os.makedirs(f"{root}/not_a_version")
    assert list_versions(spark, root) == [0]
    # the next commit sweeps/ignores them and lands at v=1
    assert write_version(_df(spark, [(2, 2.0)]), root) == 1


def test_missing_version_raises(spark, tmp_path):
    root = str(tmp_path / "vds")
    with pytest.raises(ValueError, match="no versions"):
        read_version(spark, root)
    write_version(_df(spark, [(1, 1.0)]), root)
    with pytest.raises(ValueError, match="does not exist"):
        read_version(spark, root, 5)


def test_footer_stats_pruned_read(spark, tmp_path):
    """File-level stats pruning: a range-clustered snapshot committed
    with stats_cols answers a narrow range predicate from a strict
    subset of its files, bit-identical to the full read + filter."""
    root = str(tmp_path / "vds")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("x")
    )
    assert write_version(df.repartitionByRange(8, "k"), root, stats_cols=["k"]) == 0

    m = manifest(spark, root, 0)
    assert m["stats_cols"] == ["k"]
    assert len(m["files"]) >= 2

    selected, n_sel, n_total = pruned_file_plan(spark, root, "k", 100, 150)
    assert 0 < n_sel < n_total == len(m["files"])

    pruned = read_version_pruned(spark, root, "k", 100, 150)
    full = read_version(spark, root, 0).filter(
        (F.col("k") >= 100) & (F.col("k") <= 150)
    )
    assert sorted((r["k"], r["x"]) for r in pruned.collect()) == sorted(
        (r["k"], r["x"]) for r in full.collect()
    )
    # the pruned scan's file index holds only the selected files
    touched = {os.path.basename(p) for p in pruned.inputFiles()}
    assert touched <= {os.path.basename(p) for p in selected}
    assert len(touched) <= n_sel

    # the manifest is invisible to the plain reader (underscore file)
    assert read_version(spark, root, 0).count() == 1000

    # predicate beyond every file's range -> empty frame, schema intact
    empty = read_version_pruned(spark, root, "k", 5000, 6000, version=0)
    assert empty.count() == 0 and empty.columns == ["k", "x"]


def test_pruned_read_equals_full_read_across_layouts(spark, tmp_path):
    """Pruning-invisibility property over adversarial layouts: for
    every layout (range-clustered, hash-scattered — stats exist but
    prune nothing, single-file, duplicate-heavy, negative keys) and
    every predicate class (interior band, left-open, right-open, empty,
    total), the pruned read equals full read + filter row-for-row.
    Correctness must never depend on the manifest being selective."""
    from pyspark.sql import functions as F

    data = spark.createDataFrame(
        [(i % 37 - 18, float(i % 11)) for i in range(500)], "k long, x double"
    )
    layouts = {
        "range8": data.repartitionByRange(8, "k"),
        "hash8": data.repartition(8, "x"),  # k-stats wide in every file
        "single": data.coalesce(1),
        "dups": data.union(data).repartitionByRange(4, "k"),
    }
    predicates = [(-5, 5), (None, 0), (0, None), (100, 200), (-100, 100)]
    for li, (label, df) in enumerate(layouts.items()):
        root = str(tmp_path / f"vds_{label}")
        v = write_version(df, root, stats_cols=["k"])
        full = read_version(spark, root, v)
        for lower, upper in predicates:
            cond = F.lit(True)
            if lower is not None:
                cond = cond & (F.col("k") >= lower)
            if upper is not None:
                cond = cond & (F.col("k") <= upper)
            expect = sorted(
                (r["k"], r["x"]) for r in full.filter(cond).collect()
            )
            got = sorted(
                (r["k"], r["x"])
                for r in read_version_pruned(
                    spark, root, "k", lower, upper, version=v
                ).collect()
            )
            assert got == expect, (label, lower, upper)


def test_expire_versions_retention(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import expire_versions

    root = str(tmp_path / "vds")
    for i in range(5):
        write_version(_df(spark, [(i, float(i))]), root)
    # a dead staging dir (its version already committed) and a live one
    # (targets latest+1, must survive the vacuum)
    os.makedirs(f"{root}/.staging_v2")
    os.makedirs(f"{root}/.staging_v1.abc123def456")  # r13 writer-unique shape
    os.makedirs(f"{root}/.staging_v5")

    assert expire_versions(spark, root, keep_last=2) == [0, 1, 2]
    assert list_versions(spark, root) == [3, 4]
    assert not os.path.exists(f"{root}/.staging_v2")
    assert not os.path.exists(f"{root}/.staging_v1.abc123def456")
    assert os.path.exists(f"{root}/.staging_v5")

    # expired versions fail loudly; survivors read intact
    with pytest.raises(ValueError, match="does not exist"):
        read_version(spark, root, 1)
    assert [(r["k"], r["x"]) for r in read_version(spark, root, 4).collect()] == [(4, 4.0)]

    # idempotent when nothing exceeds the horizon; keep_last guardrail
    assert expire_versions(spark, root, keep_last=2) == []
    with pytest.raises(ValueError, match="keep_last"):
        expire_versions(spark, root, keep_last=0)


def test_string_stats_pruning(spark, tmp_path):
    """String columns prune lexicographically (the footer-decode path:
    pyarrow may surface BYTE_ARRAY stats as bytes — they must land in
    the manifest as str)."""
    root = str(tmp_path / "vds")
    data = spark.createDataFrame(
        [(i, ["de", "en", "fr", "it"][i % 4]) for i in range(400)],
        "id long, lang string",
    )
    v = write_version(data.repartitionByRange(4, "lang"), root, stats_cols=["lang"])
    m = manifest(spark, root, v)
    assert all(
        isinstance(rng[0], str)
        for st in m["files"].values()
        for rng in (st or {}).values()
        if rng is not None
    )
    _, n_sel, n_total = pruned_file_plan(spark, root, "lang", "en", "en", version=v)
    assert 0 < n_sel < n_total
    assert read_version_pruned(spark, root, "lang", "en", "en", version=v).count() == 100


def test_bloom_point_lookup_prunes_hash_scattered_files(spark, tmp_path):
    """The Bloom index's value-add layout: keys HASH-scattered across
    files, so every file spans the full [min, max] (range stats prune
    nothing) — yet a point lookup reads ~1 file via the per-file
    Blooms, bit-identical to the full filter."""
    root = str(tmp_path / "vds")
    data = spark.createDataFrame(
        [(i, float(i) * 0.5) for i in range(2000)], "k long, x double"
    )
    v = write_version(
        data.repartition(8, "x"), root, stats_cols=["k"], bloom_cols=["k"]
    )
    m = manifest(spark, root, v)
    assert m["bloom_cols"] == ["k"] and len(m["blooms"]["k"]) >= 2

    # range stats genuinely can't prune this layout for a mid-range key
    _, n_range, total = pruned_file_plan(spark, root, "k", 777, 777, version=v)
    assert n_range == total
    # ...but the bloom plan pins it to a strict subset (expected ~1 file)
    sel, n_bloom, total_b = bloom_file_plan(spark, root, "k", [777], version=v)
    assert 0 < n_bloom < total_b == total

    got = read_version_point(spark, root, "k", 777, version=v).collect()
    assert [(r["k"], r["x"]) for r in got] == [(777, 388.5)]

    # absent key: zero rows regardless of how many files survive the bloom
    assert read_version_point(spark, root, "k", 999_999, version=v).count() == 0

    # every present key must be found (no false negatives) — spot a sample
    for k in (0, 1, 63, 1024, 1999):
        assert read_version_point(spark, root, "k", k, version=v).count() == 1


def test_snapshot_row_count_is_metadata_only(spark, tmp_path):
    root = str(tmp_path / "vds")
    v0 = write_version(
        _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), root, stats_cols=["k"]
    )
    v1 = write_version(_df(spark, [(9, 9.0)]), root, stats_cols=["k"])
    assert snapshot_row_count(spark, root, v0) == 3
    assert snapshot_row_count(spark, root, v1) == 1
    # manifest-less snapshot refuses rather than silently scanning
    v2 = write_version(_df(spark, [(5, 5.0)]), root)
    with pytest.raises(ValueError, match="no manifest row counts"):
        snapshot_row_count(spark, root, v2)


def test_pruned_read_refuses_silent_fallback(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, [(1, 1.0)]), root, stats_cols=["k"])  # v=0
    write_version(_df(spark, [(2, 2.0)]), root)  # v=1, no manifest
    with pytest.raises(ValueError, match="no _manifest"):
        pruned_file_plan(spark, root, "k", 0, 10, version=1)
    with pytest.raises(ValueError, match="no stats for"):
        pruned_file_plan(spark, root, "x", 0, 10, version=0)


@pytest.fixture(scope="module")
def uncovered_chains(spark, tmp_path_factory):
    """Two-member chains whose manifests fall short on ``k``. In
    ``no_manifest`` the base has no manifest (an appended head always
    has one: its chain link lives in it); in ``no_column`` the head's
    manifest covers only ``j``."""
    base = tmp_path_factory.mktemp("uncovered")
    rows = lambda lo: spark.range(lo, lo + 10).select(
        F.col("id").alias("k"), F.col("id").alias("j")
    )
    on_k = dict(stats_cols=["k"], bloom_cols=["k"], ndv_cols=["k"])
    on_j = dict(stats_cols=["j"], bloom_cols=["j"], ndv_cols=["j"])
    no_manifest, no_column = str(base / "no_manifest"), str(base / "no_column")
    write_version(rows(0), no_manifest)
    append_version(rows(10), no_manifest, **on_k)
    write_version(rows(0), no_column, **on_k)
    append_version(rows(10), no_column, **on_j)
    return {"no_manifest": no_manifest, "no_column": no_column}


# entry point -> (call, refusal without a manifest, refusal without k)
_MANIFEST_ENTRY_POINTS = {
    "pruned_file_plan": (
        lambda s, r: pruned_file_plan(s, r, "k", 0, 5),
        "no _manifest",
        "no stats for 'k'",
    ),
    "bloom_file_plan": (
        lambda s, r: bloom_file_plan(s, r, "k", [3]),
        "no _manifest",
        "no bloom for 'k'",
    ),
    "bloom_file_plan_many": (
        lambda s, r: bloom_file_plan(s, r, "k", [3, 4, 15]),
        "no _manifest",
        "no bloom for 'k'",
    ),
    "not_null_file_plan": (
        lambda s, r: not_null_file_plan(s, r, "k"),
        "no _manifest",
        "no stats for 'k'",
    ),
    "snapshot_row_count": (
        lambda s, r: snapshot_row_count(s, r),
        "no manifest row counts",
        None,  # no column to cover
    ),
    "snapshot_min_max": (
        lambda s, r: snapshot_min_max(s, r, ["k"]),
        "no _manifest",
        "no stats for 'k'",
    ),
    "snapshot_null_counts": (
        lambda s, r: snapshot_null_counts(s, r, ["k"]),
        "no manifest null counts",
        "no stats for 'k'",
    ),
    "snapshot_ndv": (
        lambda s, r: snapshot_ndv(s, r, "k"),
        "no _manifest",
        "no NDV sketch for 'k'",
    ),
    "read_version_pruned": (
        lambda s, r: read_version_pruned(s, r, "k", 0, 5),
        "no _manifest",
        "no stats for 'k'",
    ),
    "read_version_point": (
        lambda s, r: read_version_point(s, r, "k", 3),
        "no _manifest",
        "no bloom for 'k'",
    ),
    "read_version_not_null": (
        lambda s, r: read_version_not_null(s, r, "k"),
        "no _manifest",
        "no stats for 'k'",
    ),
}


@pytest.mark.parametrize(
    "entry,case",
    [
        (entry, case)
        for entry, (_, _, no_col) in _MANIFEST_ENTRY_POINTS.items()
        for case in ("no_manifest", "no_column")
        if case == "no_manifest" or no_col is not None
    ],
)
def test_manifest_walk_refuses_uncovered_member(
    spark, uncovered_chains, entry, case
):
    """Every file plan, planned read and metadata answer refuses a
    chain member whose manifest is missing or does not cover the
    column, naming the member and the write_version option that fixes
    it — never a silent full read or a partial answer."""
    call, no_manifest, no_column = _MANIFEST_ENTRY_POINTS[entry]
    want = no_manifest if case == "no_manifest" else no_column
    with pytest.raises(ValueError, match=want) as err:
        call(spark, uncovered_chains[case])
    member = "v=0" if case == "no_manifest" else "v=1"
    assert member in str(err.value)
    assert "commit it with write_version(df, root, " in str(err.value)


def test_warm_planned_reads_run_no_jobs(spark, tmp_path, count_jobs):
    """With the manifest and chain schema memoized, building a planned
    read binds the chain schema to the file subset and infers nothing:
    read_version_pruned, read_version_point and read_version_not_null
    start zero Spark jobs on a warm single-member table."""
    root = str(tmp_path / "vds")
    rows = [(i, None if i < 200 else float(i)) for i in range(400)]
    write_version(
        _df(spark, rows).repartitionByRange(4, "k"),
        root,
        stats_cols=["k", "x"],
        bloom_cols=["k"],
    )

    def build():
        return (
            read_version_pruned(spark, root, "k", 0, 50),
            read_version_point(spark, root, "k", 7),
            read_version_not_null(spark, root, "x"),
        )

    for plan in (
        pruned_file_plan(spark, root, "k", 0, 50),
        bloom_file_plan(spark, root, "k", [7]),
        not_null_file_plan(spark, root, "x"),
    ):
        assert 0 < plan[1] < plan[2]  # a strict, non-empty file subset
    build()  # warm: memoizes the chain schema
    assert count_jobs(build) == 0
    pruned, point, not_null = build()
    assert pruned.count() == 51
    assert [r["k"] for r in point.collect()] == [7]
    assert not_null.count() == 200


def test_merge_schema_reads_only_at_known_sites():
    """A merged-schema read infers by a Spark job, so operators/ keeps
    exactly the two whose schema is not known up front: a chain's
    first read, and the equality-tombstone union whose widened schema
    is how a foreign key column gets refused."""
    import pathlib
    import re

    import pyspark_big_data_spark.operators as ops

    sites = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        fn = None
        for line in path.read_text().splitlines():
            top_level_def = re.match(r"def (\w+)", line)
            if top_level_def:
                fn = top_level_def.group(1)
            if 'option("mergeSchema"' in line:
                sites.append((path.name, fn))
    assert sites == [
        ("deletes.py", "_equality_tombstones"),
        ("versioned.py", "read_version"),
    ]


def test_one_listing_per_operation(spark, tmp_path, monkeypatch):
    """Each table operation resolves its version from ONE ``v=`` listing
    (``versioned.snapshot``) and passes the snapshot down: warm builds
    of the reads, the change feeds and the metadata answers list the
    table root once. A MERGE, UPDATE or DELETE lists it at most three
    times: its snapshot, ``commit_next``'s slot, and the base check
    its commit re-runs on every attempt."""
    from pyspark_big_data_spark.operators import versioned
    from pyspark_big_data_spark.operators.cdf import table_changes_typed
    from pyspark_big_data_spark.operators.deletes import read_version_mor
    from pyspark_big_data_spark.operators.merge import (
        delete_where,
        merge_into,
        update_where,
    )
    from pyspark_big_data_spark.operators.versioned import (
        read_chain_files,
        snapshot_history,
        table_changes,
    )

    root = str(tmp_path / "merged")
    write_version(_df(spark, [(i, float(i)) for i in range(50)]), root, stats_cols=["k"])
    for i in range(3):
        merge_into(spark, root, _df(spark, [(i, -1.0), (100 + i, 1.0)]), "k")
    appends = str(tmp_path / "appended")
    write_version(_df(spark, [(0, 0.0)]), appends)
    for i in range(1, 4):
        append_version(_df(spark, [(i, float(i))]), appends)

    listed = []
    real = versioned.list_numbered_dirs

    def counting(spark_, root_, prefix):
        if prefix == "v=" and root_ in (root, appends):
            listed.append(root_)
        return real(spark_, root_, prefix)

    monkeypatch.setattr(versioned, "list_numbered_dirs", counting)

    def listings(op):
        listed.clear()
        op()
        return len(listed)

    builds = {
        "read_version": lambda: read_version(spark, root),
        "read_chain_files": lambda: read_chain_files(spark, root, 3, [f"{root}/v=3"]),
        "read_version_mor": lambda: read_version_mor(spark, root),
        "table_changes_typed": lambda: table_changes_typed(spark, root, 0, 3, "k"),
        "snapshot_row_count": lambda: snapshot_row_count(spark, root),
        "snapshot_history": lambda: snapshot_history(spark, root),
        "table_changes": lambda: table_changes(spark, appends, 0, 3),
    }
    for build in builds.values():
        build()  # warm: memoizes manifests and chain schemas
    assert {n: listings(b) for n, b in builds.items()} == dict.fromkeys(builds, 1)

    commits = {
        "merge_into": lambda: merge_into(
            spark, root, _df(spark, [(5, 5.5), (200, 2.0)]), "k"
        ),
        "update_where": lambda: update_where(spark, root, {"x": "x + 1"}, "k < 10"),
        "delete_where": lambda: delete_where(spark, root, "k = 7"),
    }
    counts = {n: listings(c) for n, c in commits.items()}
    assert all(n <= 3 for n in counts.values()), counts
    assert snapshot_history(spark, root)[-1]["version"] == 6


def test_lost_race_retries_instead_of_nesting(spark, tmp_path, monkeypatch):
    """Local-FS race seam: Hadoop's LocalFileSystem rename onto an
    existing ``v=N`` returns TRUE and moves the staging dir INSIDE it —
    without post-rename verification the loser would 'commit' its
    snapshot as an invisible ``v=N/.staging_vN`` (a silent lost write).
    Simulate the race with a stale read of the log listing that
    ``commit_next`` picks the next number from: the loser must detect
    the nesting, leave the winner's v=1 byte-identical, and land its
    own snapshot at v=2."""
    from pyspark_big_data_spark.operators import versioned

    root = str(tmp_path / "vds")
    write_version(_df(spark, [(1, 1.0), (2, 2.0)]), root)  # v=0
    write_version(_df(spark, [(3, 3.0)]), root)  # v=1 (the race winner)

    real = versioned.list_numbered_dirs
    calls = {"n": 0}

    def stale_once(spark_, root_, prefix):
        calls["n"] += 1
        # first read returns the pre-race log ([0]), so the writer
        # attempts v=1, which already exists
        return [0] if calls["n"] == 1 else real(spark_, root_, prefix)

    monkeypatch.setattr(versioned, "list_numbered_dirs", stale_once)
    assert write_version(_df(spark, [(4, 4.0)]), root) == 2
    assert calls["n"] >= 2  # the retry actually happened

    assert list_versions(spark, root) == [0, 1, 2]
    # winner's snapshot untouched, with no nested staging dir left inside
    assert {(r["k"], r["x"]) for r in read_version(spark, root, 1).collect()} == {(3, 3.0)}
    # (staging names carry a writer-unique token since r13: match by prefix)
    assert not [
        d for d in os.listdir(f"{root}/v=1") if d.startswith(".staging_v1")
    ]
    assert {(r["k"], r["x"]) for r in read_version(spark, root, 2).collect()} == {(4, 4.0)}


def _boom_commit(kind):
    """One commit of ``kind``; every frame but ``vector_sidecar``'s
    fails its write job on row 3."""
    from pyspark_big_data_spark.operators.deletes import delete_keys, delete_positions
    from pyspark_big_data_spark.operators.transactions import commit_replace_where
    from pyspark_big_data_spark.operators.versioned import append_version

    def boom(spark):
        return spark.range(5).selectExpr(
            "if(id = 3, raise_error('boom'), id) AS k", "CAST(id AS DOUBLE) AS x"
        )

    return {
        "write_version": lambda spark, root: write_version(boom(spark), root),
        "append_version": lambda spark, root: append_version(boom(spark), root),
        "delete_keys": lambda spark, root: delete_keys(spark, root, boom(spark), "k"),
        # non-nullable addresses: the null-address pre-check folds away,
        # so the failure happens in the tombstone write's job
        "delete_positions": lambda spark, root: delete_positions(
            spark,
            root,
            spark.range(5).selectExpr(
                "'v=0/part-0.parquet' AS _file",
                "coalesce(if(id = 3, raise_error('boom'), id), 0L) AS _pos",
            ),
        ),
        "commit_replace_where": lambda spark, root: commit_replace_where(
            spark, root, boom(spark), "k", [3], 0
        ),
        # a good frame: the test fails the sidecar stamp instead
        "vector_sidecar": lambda spark, root: delete_keys(
            spark, root, spark.range(2).toDF("k"), "k"
        ),
    }[kind]


@pytest.mark.parametrize(
    "kind",
    ["write_version", "append_version", "delete_keys", "delete_positions",
     "commit_replace_where", "vector_sidecar"],
)
def test_failed_commit_leaves_no_staging(spark, tmp_path, monkeypatch, kind):
    """A commit whose stage fails propagates the error, publishes
    nothing and leaves no ``.staging_*`` debris anywhere under the
    table root. A vector commit's failing frame fails in the shuffle
    before its write starts, so ``vector_sidecar`` also fails one after
    the tombstone bytes are written (at the ``_rows.json`` stamp)."""
    from pyspark_big_data_spark.operators import deletes

    root = str(tmp_path / "vds")
    write_version(_df(spark, [(1, 1.0), (2, 2.0)]), root)
    if kind == "vector_sidecar":
        def boom(*_):
            raise RuntimeError("boom")

        monkeypatch.setattr(deletes, "_write_json", boom)
    with pytest.raises(Exception, match="boom"):
        _boom_commit(kind)(spark, root)
    debris = [
        os.path.join(d, n)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
        if n.startswith(".staging_")
    ]
    assert debris == []
    assert list_versions(spark, root) == [0]
    assert deletes.list_delete_commits(spark, root, 0) == []
    assert deletes.list_pos_delete_commits(spark, root, 0) == []


def test_distributed_footer_stats_match_driver_path(spark, tmp_path, monkeypatch):
    """The distributed footer pass (taken above ``_DRIVER_STATS_MAX_FILES``
    files, and on remote roots) must stamp exactly the per-file stats,
    null counts and row counts the driver-side pass derives from the
    same files."""
    from pyspark_big_data_spark.operators import versioned

    driver_calls = []
    real_entry = versioned._file_footer_entry

    def spy(path, cols):
        driver_calls.append(path)
        return real_entry(path, cols)

    root = str(tmp_path / "vds")
    df = spark.range(0, 60).selectExpr(
        "id AS k",
        "concat('s', CAST(id % 7 AS STRING)) AS s",
        "if(id % 5 = 0, NULL, id * 1.5) AS x",
    ).repartitionByRange(4, "k")
    cols = ["k", "s", "x"]
    monkeypatch.setattr(versioned, "_DRIVER_STATS_MAX_FILES", 0)
    monkeypatch.setattr(versioned, "_file_footer_entry", spy)
    write_version(df, root, stats_cols=cols)
    assert driver_calls == []  # the footers were read on executors
    monkeypatch.undo()

    m = manifest(spark, root, 0)
    fs, _, jvm = versioned._fs(spark, root)
    files = versioned._list_parquet_files(fs, jvm, f"{root}/v=0")
    assert len(files) > 1
    stats, nulls, rows = versioned._collect_file_stats(spark, files, cols)
    assert m["files"] == stats
    assert m["file_nulls"] == nulls
    assert m["file_rows"] == rows
    assert sum(rows.values()) == 60
    assert sum(n["x"] for n in nulls.values()) == 12


def test_derived_chain_reads_pinned_snapshots(spark, tmp_path):
    """The witness shape: each version derives from the READ-BACK
    previous one, and after the chain every historical read still
    returns its own snapshot."""
    root = str(tmp_path / "vds")
    write_version(_df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), root)
    v0 = read_version(spark, root, 0)
    write_version(v0.filter(F.col("k") != 2), root)
    v1 = read_version(spark, root, 1)
    write_version(v1.withColumn("x", F.col("x") + 10.0), root)

    assert [r["k"] for r in read_version(spark, root, 0).orderBy("k").collect()] == [1, 2, 3]
    assert [r["k"] for r in read_version(spark, root, 1).orderBy("k").collect()] == [1, 3]
    assert [
        (r["k"], r["x"]) for r in read_version(spark, root, 2).orderBy("k").collect()
    ] == [(1, 11.0), (3, 13.0)]


# ---------------------------------------------------------------------------
# Sharded manifests + metadata-only MIN/MAX
# ---------------------------------------------------------------------------


def test_sharded_manifest_reads_identical_to_flat(spark, tmp_path):
    """Every manifest consumer (pruning plan, row count, min/max) must
    return identical answers through a sharded and a flat manifest of
    the same snapshot."""
    from pyspark_big_data_spark.operators.versioned import snapshot_min_max

    df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id % 97 AS DOUBLE) AS x")
    flat_root = str(tmp_path / "flat")
    shard_root = str(tmp_path / "shard")
    clustered = df.repartitionByRange(6, "k")
    write_version(clustered, flat_root, stats_cols=["k"])
    write_version(
        clustered, shard_root, stats_cols=["k"], manifest_shard_files=2
    )

    m = manifest(spark, shard_root, 0)
    assert m["n_shards"] == 3 and len(m["files"]) == 6
    assert len(manifest(spark, flat_root, 0)["files"]) == len(m["files"])

    for root in (flat_root, shard_root):
        _, n_sel, n_total = pruned_file_plan(spark, root, "k", upper=100)
        assert n_sel < n_total
        got = {tuple(r) for r in
               read_version_pruned(spark, root, "k", upper=100).collect()}
        assert got == {(i, float(i % 97)) for i in range(101)}
        assert snapshot_row_count(spark, root) == 1000
        assert snapshot_min_max(spark, root, ["k"])["k"] == (0, 999)


def test_sharding_below_threshold_stays_flat(spark, tmp_path):
    root = str(tmp_path / "small")
    df = spark.range(0, 10).selectExpr("id AS k")
    write_version(df.coalesce(2), root, stats_cols=["k"], manifest_shard_files=8)
    m = manifest(spark, root, 0)
    assert "n_shards" not in m and m["manifest_version"] == 2


def test_min_max_raises_on_uncovered_or_missing_stats(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import snapshot_min_max

    root = str(tmp_path / "mm")
    df = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x")
    write_version(df, root, stats_cols=["k"])
    with pytest.raises(ValueError, match="no stats for 'x'"):
        snapshot_min_max(spark, root, ["x"])


def test_sharded_blooms_roundtrip(spark, tmp_path):
    """Bloom point lookups must work through shard boundaries too."""
    root = str(tmp_path / "sb")
    df = spark.range(0, 400).selectExpr("id AS k", "id % 7 AS grp")
    write_version(
        df.repartition(5, "grp"), root, stats_cols=["k"], bloom_cols=["k"],
        manifest_shard_files=2,
    )
    _, n_sel, n_total = bloom_file_plan(spark, root, "k", [123])
    assert n_sel < n_total
    rows = read_version_point(spark, root, "k", 123).collect()
    assert [(r["k"], r["grp"]) for r in rows] == [(123, 123 % 7)]


def test_write_version_audit_hook(spark, tmp_path):
    """WAP hook: a refusing audit deletes staging and publishes nothing;
    a passing audit commits normally; the hook sees STAGED bytes."""
    import pytest as _pytest

    from pyspark_big_data_spark.operators.versioned import (
        AuditFailed,
        latest_version,
        read_version,
        write_version,
    )

    root = str(tmp_path / "wap")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")

    seen_rows = []

    def good(staged):
        seen_rows.append(staged.count())
        return True

    assert write_version(df, root, audit=good) == 0
    assert seen_rows == [2]  # audited the staged bytes, not a stub

    with _pytest.raises(AuditFailed):
        write_version(df, root, audit=lambda staged: False)
    assert latest_version(spark, root) == 0  # counter did not advance
    import os

    assert not [d for d in os.listdir(root) if d.startswith(".staging_")]
    # the committed snapshot is untouched by the refused write
    assert read_version(spark, root, 0).count() == 2


def test_audited_publish_reports_failed_rules(spark, tmp_path):
    import pytest as _pytest

    from pyspark_big_data_spark.operators.expectations import audited_publish
    from pyspark_big_data_spark.operators.versioned import AuditFailed

    root = str(tmp_path / "wap2")
    clean = spark.createDataFrame([(1, 5.0), (2, 6.0)], "k long, x double")
    n, report = audited_publish(
        clean, root, [("not_null", "k", "k_nn"), ("bounds", "x", 0.0, 10.0, "x_b")]
    )
    assert n == 0 and all(r["passed"] for r in report)

    dirty = spark.createDataFrame([(None, 50.0)], "k long, x double")
    with _pytest.raises(AuditFailed, match="k_nn"):
        audited_publish(
            dirty, root, [("not_null", "k", "k_nn"), ("bounds", "x", 0.0, 10.0, "x_b")]
        )


def test_snapshot_history_metadata_only(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import (
        snapshot_history,
        write_version,
    )

    root = str(tmp_path / "hist")
    a = spark.createDataFrame([(i, float(i)) for i in range(10)], "k long, v double")
    write_version(a, root, stats_cols=["k"])
    write_version(a.limit(4), root)  # no manifest: n_rows unknown, not guessed

    hist = snapshot_history(spark, root)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[0]["n_rows"] == 10 and hist[0]["has_manifest"]
    assert hist[0]["n_files"] > 0
    assert hist[1]["n_rows"] is None and not hist[1]["has_manifest"]


def test_null_counts_and_not_null_pruning(spark, tmp_path):
    """Footer null counts: metadata-only null census + IS NOT NULL
    file pruning (all-null files provably skipped, others kept)."""
    from pyspark_big_data_spark.operators.versioned import (
        not_null_file_plan,
        read_version_not_null,
        snapshot_null_counts,
    )

    root = str(tmp_path / "vds")
    # file layout by k-range: low files all-null in x, high files dense
    df = spark.range(0, 800).select(
        F.col("id").alias("k"),
        F.when(F.col("id") >= 400, F.col("id") * 2.0).alias("x"),
    )
    write_version(df.repartitionByRange(8, "k"), root, stats_cols=["k", "x"])

    assert snapshot_null_counts(spark, root, ["x"], 0) == {"x": 400}
    assert snapshot_null_counts(spark, root, ["k"], 0) == {"k": 0}

    sel, n_sel, n_total = not_null_file_plan(spark, root, "x", 0)
    assert 0 < n_sel < n_total == 8  # the all-null half is skipped
    got = read_version_not_null(spark, root, "x", 0)
    want = read_version(spark, root, 0).filter(F.col("x").isNotNull())
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    touched = {os.path.basename(p) for p in got.inputFiles()}
    assert touched <= {os.path.basename(p) for p in sel}


def test_null_counts_chain_aware(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import (
        append_version,
        snapshot_null_counts,
    )

    root = str(tmp_path / "vds")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(None).cast("double").alias("x")
    )
    write_version(base, root, stats_cols=["x"])
    delta = spark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    append_version(delta, root, stats_cols=["x"])
    assert snapshot_null_counts(spark, root, ["x"], 1) == {"x": 100}


def test_metadata_memo_invalidated_by_expiry(spark, tmp_path):
    """The process-level (root, version) metadata memo (r13: committed
    manifests and chain schemas are immutable, so they are memoized
    across operations) must be dropped when retention DELETES version
    dirs — a stale memo would serve a manifest for bytes that no
    longer exist."""
    from pyspark_big_data_spark.operators.versioned import expire_versions

    root = str(tmp_path / "memo_expire")
    write_version(_df(spark, [(1, 1.0), (2, 2.0)]), root, stats_cols=["k"])
    write_version(_df(spark, [(3, 3.0)]), root, stats_cols=["k"])
    # prime the memo for v=0 (manifest + chain schema)
    assert manifest(spark, root, 0) is not None
    assert read_version(spark, root, 0).count() == 2
    assert expire_versions(spark, root, keep_last=1) == [0]
    # the memo must not resurrect the expired version's metadata
    assert manifest(spark, root, 0) is None
    with pytest.raises(ValueError):
        read_version(spark, root, 0)
