"""Typed change data feed over mutating chains (operators/cdf.py) and
the version-anchored row mutations that feed it
(operators/merge.py::delete_where / update_where): per-commit typing,
update pairing by manifest merge keys and by row_mutation markers, the
keyless changeset fallback, multiset folding back to the head state,
and the soundness refusals (external vectors, full rewrites)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pyspark_big_data_spark.operators.cdf import (
    CHANGE_TYPE_COL,
    COMMIT_VERSION_COL,
    INSERT,
    UPDATE_POST,
    UPDATE_PRE,
    fold_changes,
    table_changes_typed,
)
from pyspark_big_data_spark.operators.deletes import (
    delete_keys,
    read_version_mor,
)
from pyspark_big_data_spark.operators.merge import (
    delete_where,
    merge_into,
    update_where,
)
from pyspark_big_data_spark.operators.versioned import (
    append_version,
    read_version,
    table_changes,
    write_version,
)


def _base(spark, n=20):
    return spark.createDataFrame(
        [(i, f"u{i}", float(i * 10)) for i in range(n)],
        "k int, name string, val double",
    )


def _counts(ch):
    return {
        (r[COMMIT_VERSION_COL], r[CHANGE_TYPE_COL]): r["n"]
        for r in ch.groupBy(COMMIT_VERSION_COL, CHANGE_TYPE_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _assert_fold_equals_head(spark, root, from_v, to_v, **kw):
    # the feed's baseline is the MOR LOGICAL state at from_version (a
    # start version inside a merge chain still carries later-retired
    # physical rows in its own delta dirs)
    ch = table_changes_typed(spark, root, from_v, to_v, **kw)
    folded = fold_changes(read_version_mor(spark, root, from_v), ch)
    head = read_version_mor(spark, root, to_v)
    assert folded.exceptAll(head).count() == 0
    assert head.exceptAll(folded).count() == 0


def test_merge_commit_pairs_updates_by_manifest_keys(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    src = spark.createDataFrame(
        [(i, f"upd{i}", float(i * 100)) for i in range(8)]
        + [(i, f"new{i}", float(i)) for i in (30, 31)],
        "k int, name string, val double",
    )
    res = merge_into(
        spark,
        root,
        src,
        "k",
        when_matched_update="source.k < 5",
        when_matched_delete="source.k >= 5",
        when_not_matched_insert=True,
    )
    ch = table_changes_typed(spark, root, 0, res["version"])
    got = _counts(ch)
    v = res["version"]
    assert got == {
        (v, "update_postimage"): 5,
        (v, "update_preimage"): 5,
        (v, "delete"): 3,
        (v, "insert"): 2,
    }
    _assert_fold_equals_head(spark, root, 0, v)


def test_pure_append_is_all_inserts(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    v1 = append_version(_base(spark).filter("k < 3"), root)
    ch = table_changes_typed(spark, root, 0, v1)
    assert _counts(ch) == {(v1, "insert"): 3}


def test_update_where_typed_by_marker_and_delete_where(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    v1 = update_where(spark, root, {"val": "val + 1000"}, "k < 4")["version"]
    v2 = delete_where(spark, root, "k >= 18")["version"]
    ch = table_changes_typed(spark, root, 0, v2)
    assert _counts(ch) == {
        (v1, "update_preimage"): 4,
        (v1, "update_postimage"): 4,
        (v2, "delete"): 2,
    }
    # updated rows carry the recomputed value, preimages the original
    post = ch.filter(
        (F.col(CHANGE_TYPE_COL) == "update_postimage") & (F.col("k") == 0)
    ).collect()
    assert post[0]["val"] == 1000.0
    pre = ch.filter(
        (F.col(CHANGE_TYPE_COL) == "update_preimage") & (F.col("k") == 0)
    ).collect()
    assert pre[0]["val"] == 0.0
    _assert_fold_equals_head(spark, root, 0, v2)


def test_keyless_vector_commit_serves_delete_insert_changeset(spark, tmp_path):
    """A vector-bearing commit with NO manifest merge_keys and no
    marker (e.g. written by a pre-r13 merge, simulated here with a raw
    embedded-vector append) falls back to the exact changeset: delta
    rows insert, preimages delete — and still folds bit-exactly. An
    explicit merge_keys parameter upgrades it to update pairing."""
    from pyspark_big_data_spark.operators.deletes import (
        FILE_COL,
        POS_COL,
        with_positions,
    )

    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    vec = with_positions(spark, root).filter("k = 1").select(FILE_COL, POS_COL)
    delta = spark.createDataFrame(
        [(1, "x", 5.0)], "k int, name string, val double"
    )
    v = append_version(
        delta, root, allow_base_tombstones=True, embedded_pos_deletes=vec
    )
    a = _counts(table_changes_typed(spark, root, 0, v))
    assert a == {(v, "insert"): 1, (v, "delete"): 1}
    b = _counts(table_changes_typed(spark, root, 0, v, merge_keys="k"))
    assert b == {(v, "update_preimage"): 1, (v, "update_postimage"): 1}
    _assert_fold_equals_head(spark, root, 0, v)
    # the r13 merge records its keys, so pairing needs no parameter
    v2 = merge_into(
        spark,
        root,
        spark.createDataFrame([(2, "y", 6.0)], "k int, name string, val double"),
        "k",
    )["version"]
    c = _counts(table_changes_typed(spark, root, v, v2))
    assert c == {(v2, "update_preimage"): 1, (v2, "update_postimage"): 1}


def test_multi_commit_feed_folds_to_head(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    append_version(
        spark.createDataFrame(
            [(i, f"u{i}", float(i * 10)) for i in range(20, 25)],
            "k int, name string, val double",
        ),
        root,
    )
    merge_into(
        spark,
        root,
        spark.createDataFrame(
            [(2, "m", 1.0), (40, "n", 2.0)], "k int, name string, val double"
        ),
        "k",
    )
    update_where(spark, root, {"name": "upper(name)"}, "k < 3")
    v = delete_where(spark, root, "k = 21")["version"]
    _assert_fold_equals_head(spark, root, 0, v)
    # and from an interior start version too
    _assert_fold_equals_head(spark, root, 2, v)


def test_empty_feed_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    ch = table_changes_typed(spark, root, 0, 0)
    assert ch.count() == 0
    assert ch.columns == ["k", "name", "val", CHANGE_TYPE_COL, COMMIT_VERSION_COL]


def test_external_vector_in_range_refuses(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    v1 = append_version(_base(spark).filter("k < 2"), root)
    delete_keys(
        spark, root, spark.createDataFrame([(1,)], "k int"), "k", version=v1
    )
    with pytest.raises(ValueError, match="EXTERNAL deletion vectors"):
        table_changes_typed(spark, root, 0, v1)


def test_external_vector_below_range_is_fine(spark, tmp_path):
    """A post-hoc vector against a version at or below from_version
    masks both endpoints identically — the interval feed still
    serves."""
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    delete_keys(
        spark, root, spark.createDataFrame([(1,)], "k int"), "k", version=0
    )
    v1 = append_version(
        _base(spark).filter("k >= 18"), root, allow_base_tombstones=True
    )
    ch = table_changes_typed(spark, root, 0, v1)
    assert _counts(ch) == {(v1, "insert"): 2}
    # fold against the MOR state at v0 (the vector applies to both)
    folded = fold_changes(read_version_mor(spark, root, 0), ch)
    head = read_version_mor(spark, root, v1)
    assert folded.exceptAll(head).count() == 0
    assert head.exceptAll(folded).count() == 0


def test_full_rewrite_in_range_refuses(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    write_version(_base(spark, 5), root)  # v1: full rewrite
    with pytest.raises(ValueError, match="full rewrite"):
        table_changes_typed(spark, root, 0, 1)


def test_schema_evolution_null_fills_preimages(spark, tmp_path):
    """Preimages read from pre-evolution ancestor files null-fill the
    late column, exactly like chain reads."""
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    append_version(
        _base(spark).filter("k < 1").withColumn("extra", F.lit("e")),
        root,
        allow_evolution=True,
    )
    v2 = delete_where(spark, root, "k = 5")["version"]
    ch = table_changes_typed(spark, root, 0, v2)
    dels = ch.filter(F.col(CHANGE_TYPE_COL) == "delete").collect()
    assert len(dels) == 1 and dels[0]["extra"] is None
    _assert_fold_equals_head(spark, root, 0, v2)


def test_warm_feed_and_mor_builds_run_no_jobs(spark, tmp_path, count_jobs):
    """Every vector, delta and preimage read binds a known schema, so
    on a warm 200-row table with three merge_into commits building the
    typed feed or the MOR read starts no Spark job, and neither does
    building the adds-only feed over three appends."""
    root = str(tmp_path / "t")
    write_version(_base(spark, 200), root)
    for i in range(3):
        src = spark.createDataFrame(
            [(i * 10 + j, f"m{i}", 1.0) for j in range(4)] + [(300 + i, "n", 0.0)],
            "k int, name string, val double",
        )
        merge_into(spark, root, src, "k")
    appends = str(tmp_path / "a")
    write_version(_base(spark, 200), appends)
    for i in range(3):
        added = _base(spark, 5).withColumn("k", F.col("k") + 200 + 5 * i)
        append_version(added, appends)

    builds = {
        "table_changes_typed": lambda: table_changes_typed(spark, root, 0, 3, "k"),
        "read_version_mor": lambda: read_version_mor(spark, root, 3),
        "table_changes": lambda: table_changes(spark, appends, 0, 3),
    }
    for build in builds.values():
        build()  # warm: memoizes manifests and chain schemas
    jobs = {name: count_jobs(build) for name, build in builds.items()}
    assert jobs == dict.fromkeys(builds, 0)
    assert builds["table_changes"]().count() == 15
    per_commit = {UPDATE_PRE: 4, UPDATE_POST: 4, INSERT: 1}
    assert _counts(builds["table_changes_typed"]()) == {
        (v, t): n for v in (1, 2, 3) for t, n in per_commit.items()
    }


def test_delete_where_noop_and_update_where_noop(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    assert delete_where(spark, root, "k = 999") == {
        "version": None,
        "n_deleted": 0,
    }
    assert update_where(spark, root, {"val": "val"}, "k = 999") == {
        "version": None,
        "n_updated": 0,
    }


def test_update_where_validates_columns(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    with pytest.raises(ValueError, match="non-existent"):
        update_where(spark, root, {"nope": "1"}, "k = 1")
    with pytest.raises(ValueError, match="at least one"):
        update_where(spark, root, {}, "k = 1")


def test_sequential_mutations_compose(spark, tmp_path):
    """delete_where on a chain that already carries a MERGE's embedded
    vector plans on the MOR state — the second commit never
    resurrects or double-deletes."""
    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    merge_into(
        spark,
        root,
        spark.createDataFrame([(3, "m3", 1.0)], "k int, name string, val double"),
        "k",
    )
    v2 = delete_where(spark, root, "k = 3")["version"]
    got = read_version_mor(spark, root, v2)
    assert got.filter("k = 3").count() == 0
    assert got.count() == 19
    _assert_fold_equals_head(spark, root, 0, v2)


def test_table_changes_typed_as_of(spark, tmp_path):
    """Timestamp endpoints resolve via the version_as_of boundary rule
    and serve the same typed rows as the version form."""
    from pyspark_big_data_spark.operators.cdf import table_changes_typed_as_of
    from pyspark_big_data_spark.operators.versioned import (
        version_commit_times,
    )

    root = str(tmp_path / "t")
    write_version(_base(spark), root)
    v1 = update_where(spark, root, {"val": "val + 1"}, "k < 3")["version"]
    times = version_commit_times(spark, root)
    ch = table_changes_typed_as_of(spark, root, times[0], times[v1])
    assert _counts(ch) == {
        (v1, "update_preimage"): 3,
        (v1, "update_postimage"): 3,
    }


@pytest.mark.parametrize("seed", [11, 29])
def test_typed_feed_model_randomized(spark, tmp_path, seed):
    """Model-based randomized exercise of the typed feed: a seeded
    random sequence of mutations (append / MERGE / UPDATE WHERE /
    DELETE WHERE) against a dict model. After EVERY commit:

    - the MOR head equals the model exactly (the mutation layer
      applied what the model says and nothing else);
    - the typed feed from v0 folds onto v0 to the head bit-exactly
      (no lost, duplicated, or mistyped change row anywhere in the
      chain).
    """
    import random

    rng = random.Random(seed)
    root = str(tmp_path / "t")
    model = {i: (f"u{i}", float(i * 10)) for i in range(12)}
    write_version(
        spark.createDataFrame(
            [(k, n, v) for k, (n, v) in model.items()],
            "k int, name string, val double",
        ),
        root,
    )
    next_key = 100
    head = 0

    def df_of(rows):
        return spark.createDataFrame(rows, "k int, name string, val double")

    for step in range(8):
        op = rng.choice(["append", "merge", "update", "delete"])
        if op == "append":
            rows = [
                (next_key + i, f"a{next_key + i}", float(step)) for i in range(3)
            ]
            next_key += 3
            head = append_version(df_of(rows), root, allow_base_tombstones=True)
            model.update({k: (n, v) for k, n, v in rows})
        elif op == "merge":
            existing = rng.sample(sorted(model), min(4, len(model)))
            upd = [(k, f"m{step}", model[k][1] + 1) for k in existing[:2]]
            dele = [(k, "x", 0.0) for k in existing[2:]]
            ins = [(next_key, f"i{step}", 7.0)]
            next_key += 1
            src = df_of(upd + ins).withColumn("__del", F.lit(False)).unionByName(
                df_of(dele).withColumn("__del", F.lit(True))
            )
            res = merge_into(
                spark,
                root,
                src,
                "k",
                when_matched_update="NOT source.__del",
                when_matched_delete="source.__del",
                when_not_matched_insert="NOT source.__del",
            )
            if res["version"] is None:
                continue
            head = res["version"]
            for k, n, v in upd:
                model[k] = (n, v)
            for k, _, _ in dele:
                model.pop(k, None)
            for k, n, v in ins:
                model[k] = (n, v)
        elif op == "update":
            m = rng.randint(2, 5)
            res = update_where(
                spark, root, {"val": "val + 100"}, f"k % {m} = 0"
            )
            if res["version"] is None:
                continue
            head = res["version"]
            for k in list(model):
                if k % m == 0:
                    n, v = model[k]
                    model[k] = (n, v + 100)
        else:
            m = rng.randint(5, 9)
            res = delete_where(spark, root, f"k % {m} = {m - 1}")
            if res["version"] is None:
                continue
            head = res["version"]
            for k in list(model):
                if k % m == m - 1:
                    del model[k]

        got = {
            r["k"]: (r["name"], r["val"])
            for r in read_version_mor(spark, root, head).collect()
        }
        assert got == model, (seed, step, op)
        _assert_fold_equals_head(spark, root, 0, head)
