"""Merge-on-read deletes for versioned snapshots: the
deletion-vector seam, without a table format.

A delete against a versioned snapshot (operators/versioned.py) does
NOT rewrite any data file. It commits a TOMBSTONE sidecar — a small
parquet of deleted keys — under::

    root/_deletes/v=N/d=K/ ... parquet + _SUCCESS

targeting exactly snapshot ``v=N``; data files stay byte-identical.
``read_version_mor`` ("merge on read") then serves the logical state
as the physical read anti-joined against the committed tombstones, and
``materialize_deletes`` is the compaction that folds the tombstones
into a NEW physical version, returning reads to the zero-join fast
path. This is the copy-on-write vs merge-on-read trade every lakehouse
format exposes (Delta deletion vectors, Iceberg v2 position/equality
deletes — the public-knowledge shapes): deletes become cheap
O(deleted keys) writes, and reads pay a small anti-join until the next
materialize.

CHAIN semantics (the r11 resurrection fix): an APPEND CHAIN's MOR read
resolves the tombstones of EVERY chain member, not just the head —
``delete_keys(v=N)`` followed by ``append_version`` → v=N+1 keeps the
deleted rows gone in ``read_version_mor(N+1)``. Equality vectors are
SEQUENCE-AWARE, exactly like Iceberg's sequence-number rule: a vector
committed against member M masks only rows that live in chain members
<= M, so a row re-inserted by a LATER append with the same key
survives. Positional vectors address immutable (file, row) pairs, so
they apply unconditionally; addresses are VERSION-QUALIFIED
(``v=N/part-....parquet``) so identically-named part files in two
chain members can never alias (r10 advice item). MERGE commits embed
their positional vectors INSIDE the committed version directory
(``v=N/_merge_deletes/`` — underscore-prefixed, invisible to data
scans), which makes a MERGE one atomic rename; the chain read picks
them up like any other member vector.

Layout: external vectors live at ``root/_deletes/v=N/d=K`` (equality)
and ``root/_pos_deletes/v=N/d=K`` (positional); MERGE-embedded ones at
``v=N/_merge_deletes``. No other operator module knows these names.
``_member_vectors`` is the one census of committed external vectors
over a set of chain members (two parent listings, then one ``d=``
listing per member that has a tree), walked lazily so
``has_any_delete_vectors`` stops at the first vector-bearing member;
``external_vectors`` collects it into a dict. Callers that also need
embedded vectors ask ``_embedded_deletes_dir``, which answers from
the memoized manifest. ``vector_dirs`` names the external trees that
go with a version when retention or a rollback deletes it.

Commit protocol: ``delete_keys`` and ``delete_positions`` publish
through ``_commit_vector``, which hands the tombstone to
``versioned.commit_next`` on the ``d=`` log — the same verified
single-rename as ``write_version`` (rename is the commit; a race loser
deletes its bytes and retries at K+1), so concurrent deleters can
never drop each other's tombstones and readers never observe a
half-written one. Each commit also carries a ``_rows.json`` row-count
sidecar, counted by an observation on the tombstone write (no extra
job), which is what lets the read path price the anti-join without a
job.

100 TB economics: the tombstone side is deleted-keys-sized, so the
MOR anti-join broadcasts it (plan: BroadcastHashJoin LeftAnti — zero
shuffle of the data side, the only acceptable cost model when the
snapshot is 100 TB and the delete is a few million keys). The
broadcast hint is ENFORCED by a threshold, not assumed: above
``BROADCAST_THRESHOLD_ROWS`` total tombstones (priced from the
row-count sidecars, zero jobs) the hint is dropped and the planner
falls back to a shuffle join — a billion-row erasure vector degrades
to a slower plan instead of a driver OOM. That is also the signal to
``materialize_deletes``.

Reference parity note: the reference engine
(/root/reference/src/query1-4.py) is read-only; deletes are extension
surface for production pipelines (GDPR erasure against a pinned
snapshot without a full rewrite is the motivating case — the eager
full-rewrite variant is operators/upsert.py::erase_keys_parquet).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pyspark_big_data_spark.operators.versioned import (
    EMBEDDED_DELETES_DIR,
    _fs,
    _read_json,
    _resolve_version,
    _write_json,
    commit_next,
    list_numbered_dirs,
    list_versions,
    manifest,
    read_chain_files,
    read_version,
    version_chain,
    write_version,
)

DELETES_DIR = "_deletes"

# Ceiling for broadcasting a priced join side: the tombstones of the MOR
# anti-join here, a MERGE source (merge.py), a typed-feed commit's
# retired rows (cdf.py) and the keyed branch-merge extracts (refs.py).
# ~10M keys (~100-200 MB serialized) is the upper edge of a sane
# driver/executor broadcast budget; above it the hint is dropped. Every
# caller reads this name at call time (never a bound default), so one
# setting moves them all.
BROADCAST_THRESHOLD_ROWS = 10_000_000


def _deletes_root(root: str, version: int) -> str:
    return f"{root.rstrip('/')}/{DELETES_DIR}/v={version}"


def list_delete_commits(
    spark: SparkSession, root: str, version: int
) -> list[int]:
    """Committed equality-delete commit ids against ``v=version``,
    ascending. Like versions, a commit counts iff its dir sits at
    ``d=K`` (the rename is the commit); staging dirs never match."""
    return list_numbered_dirs(spark, _deletes_root(root, version), "d=")


def _commit_vector(spark: SparkSession, droot: str, tomb: DataFrame) -> int:
    """Publish ``tomb`` as the next ``d=K`` commit under ``droot`` and
    return K. Each commit carries a ``_rows.json`` row-count sidecar
    (underscore-prefixed: invisible to scans), so the read path prices
    the anti-join without a job; the count is observed on the write
    itself, not read back."""
    fs, _, jvm = _fs(spark, droot)

    def stage(staging: str, _k: int) -> None:
        obs = Observation()
        tomb.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(staging)
        _write_json(fs, jvm, f"{staging}/_rows.json", {"rows": int(obs.get["rows"])})

    return commit_next(spark, droot, "d=", stage)


def _commit_rows(spark: SparkSession, commit_dir: str) -> tuple[int, bool]:
    """``(rows, has_sidecar)`` of one tombstone commit: the row count
    comes from the ``_rows.json`` sidecar when present, else from a
    footer-only count (pre-r11 commits, which predate the sidecar)."""
    fs, _, jvm = _fs(spark, commit_dir)
    side = f"{commit_dir}/_rows.json"
    if fs.exists(jvm.org.apache.hadoop.fs.Path(side)):
        return int(_read_json(fs, jvm, side)["rows"]), True
    spark.catalog.refreshByPath(commit_dir)
    # schema-less: a pre-r11 commit may be equality (any key) or positional
    return spark.read.parquet(commit_dir).count(), False


def delete_keys(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key: str,
    version: int | None = None,
) -> int:
    """Commit an EQUALITY deletion vector against snapshot ``v=version``
    (default latest) and return the delete-commit id. No data file is
    touched — the delete is a tombstone parquet of DISTINCT, NON-NULL
    ``key`` values (nulls are dropped: an equality delete on NULL
    matches no row in SQL semantics, so carrying them would be dead
    weight that silently never deletes).

    The key column must exist in the snapshot schema, and every delete
    commit against one version must use the SAME key column — mixed-key
    tombstones would force N anti-joins and make materialize order-
    sensitive, so the second writer with a different key raises.

    Sequence semantics on chains: the vector masks rows living in chain
    members <= ``version`` for every MOR read at or above ``version`` —
    rows appended AFTER the delete (same key or not) are never masked."""
    version = _resolve_version(spark, root, version)
    if version not in list_versions(spark, root):
        raise ValueError(f"version {version} does not exist under {root}")
    snap_cols = read_version(spark, root, version).columns
    if key not in snap_cols:
        raise ValueError(
            f"delete key {key!r} is not a column of v={version} "
            f"(schema: {sorted(snap_cols)})"
        )
    commits = list_delete_commits(spark, root, version)
    existing = _equality_tombstones(
        spark, version, _delete_commit_dirs(root, version, commits)
    )
    if existing is not None and existing.columns != [key]:
        raise ValueError(
            f"v={version} already has tombstones keyed by {existing.columns[0]!r}; "
            f"a second key column ({key!r}) would make merge-on-read "
            "ambiguous — materialize first"
        )
    tomb = keys.select(F.col(key)).filter(F.col(key).isNotNull()).distinct()
    return _commit_vector(spark, _deletes_root(root, version), tomb)


def _delete_commit_dirs(root: str, version: int, commits: list[int]) -> list[str]:
    droot = _deletes_root(root, version)
    return [f"{droot}/d={k}" for k in commits]


def _equality_tombstones(
    spark: SparkSession, version: int, paths: list[str]
) -> DataFrame | None:
    """The union of the equality tombstones committed at ``paths`` for
    ``v=version`` (None when there are none), read once with merged
    schemas: one schema job for the whole member, which the MOR
    anti-join then reuses. Enforces the one-key contract on that read:
    a foreign file with another column in the deletes tree widens the
    merged schema and fails loudly instead of silently skewing the
    anti-join. Not de-duplicated: each commit is distinct by
    construction, the anti-join ignores duplicates, and a cross-commit
    distinct would be a shuffle re-paid on every MOR evaluation."""
    if not paths:
        return None
    for p in paths:
        spark.catalog.refreshByPath(p)
    # merged, not bound: a foreign column widens it and the one-key check fails
    keys = spark.read.option("mergeSchema", "true").parquet(*paths)
    if len(keys.columns) != 1:
        raise ValueError(
            f"tombstones of v={version} carry mixed key columns "
            f"{sorted(keys.columns)}; merge-on-read needs exactly one"
        )
    return keys


# ---------------------------------------------------------------------------
# POSITIONAL deletes: the other deletion-vector type. An equality
# delete says "any row whose KEY is k is gone"; a positional delete
# says "row #i of file f is gone" — the form engines emit from a MERGE
# scan, and the only form that can delete ONE of two bit-identical
# rows. Tombstones are (_file, _pos) parquet under
# root/_pos_deletes/v=N/d=K (same verified-rename commit) or embedded
# inside a MERGE commit's own version dir (v=N/_merge_deletes); the
# MOR read anti-joins on Spark's parquet _metadata columns, which cost
# nothing to materialize — they come off the reader state, no data
# pass. Addresses are version-qualified relative paths
# ("v=N/part-...parquet"), never bare basenames.
# ---------------------------------------------------------------------------

POS_DELETES_DIR = "_pos_deletes"

FILE_COL = "_file"
POS_COL = "_pos"
_MEMBER_COL = "_member_version"

# Every positional vector, external or MERGE-embedded, is written as
# exactly this schema (``as_vector``), so every vector read binds it
# instead of inferring it.
VECTOR_SCHEMA = StructType(
    [StructField(FILE_COL, StringType()), StructField(POS_COL, LongType())]
)


def as_vector(addresses: DataFrame) -> DataFrame:
    """``addresses`` projected and cast to ``VECTOR_SCHEMA``."""
    return addresses.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in VECTOR_SCHEMA]
    )


def _qualified_file_expr():
    """Version-qualified file address off the reader's ``_metadata``:
    the trailing ``v=N/<part file>`` of the absolute path — stable
    under dataset-root relocation, and unambiguous across chain
    members that happen to carry identically-named part files."""
    return F.regexp_extract(F.col("_metadata.file_path"), r"(v=\d+/[^/]+)$", 1)


def _member_version_expr():
    """The chain-member version a row physically lives in, parsed from
    the same ``_metadata.file_path`` — the sequence number for
    sequence-aware equality-vector application."""
    return F.regexp_extract(
        F.col("_metadata.file_path"), r"v=(\d+)/[^/]+$", 1
    ).cast("long")


def _pos_deletes_root(root: str, version: int) -> str:
    return f"{root.rstrip('/')}/{POS_DELETES_DIR}/v={version}"


def _embedded_deletes_dir(
    spark: SparkSession, root: str, version: int
) -> str | None:
    """The embedded positional-vector dir a MERGE commit staged inside
    ``v=version`` (None when absent). Underscore-prefixed, so data
    scans never see it; committed atomically with the version's data
    files by the one rename.

    Answered from the version's MANIFEST when one exists (r14):
    ``write_version`` is the only committer that stages embedded
    vectors, and it always stamps ``pos_delete_rows`` into the
    manifest it writes for the same commit — so for a manifest-bearing
    version, key presence <=> dir presence, and the (memoized) manifest
    replaces a per-call fs probe. Manifest-less versions (plain
    write_version, txn commits) can never carry embedded vectors by
    construction, but keep the conservative fs probe for them — a
    foreign/hand-built version dir must still be seen."""
    d = f"{root.rstrip('/')}/v={version}/{EMBEDDED_DELETES_DIR}"
    m = manifest(spark, root, version)
    if m is not None:
        return d if "pos_delete_rows" in m else None
    fs, hp, _ = _fs(spark, d)
    return d if fs.exists(hp) else None


def list_pos_delete_commits(
    spark: SparkSession, root: str, version: int
) -> list[int]:
    """Committed positional-delete commit ids against ``v=version``,
    ascending."""
    return list_numbered_dirs(spark, _pos_deletes_root(root, version), "d=")


def vector_dirs(root: str, version: int) -> list[str]:
    """The external deletion-vector trees pinned to ``v=version`` (equality
    and positional). Whoever deletes the version deletes these with it;
    embedded MERGE vectors live inside ``v=version`` itself."""
    return [_deletes_root(root, version), _pos_deletes_root(root, version)]


def _member_vectors(
    spark: SparkSession, root: str, versions: Iterable[int]
) -> Iterator[tuple[int, list[int], list[int]]]:
    """``(member, equality ids, positional ids)`` of committed EXTERNAL
    vectors for each of ``versions`` in order, lazily, so a caller can
    stop at the first member it cares about.

    Two parent listings bound the probes: a member with no ``v=N``
    dir under either tree has nothing to list, which is the common
    case for merge/append chains, whose vectors are MERGE-embedded
    (ask ``_embedded_deletes_dir`` for those). A listed dir may hold
    only staging, so the members inside those sets pay one ``d=``
    listing each, when reached. Always LIVE listings, never memoized:
    external vectors are mutable post-commit."""
    base = root.rstrip("/")
    eq_vs = set(list_numbered_dirs(spark, f"{base}/{DELETES_DIR}", "v="))
    pos_vs = set(list_numbered_dirs(spark, f"{base}/{POS_DELETES_DIR}", "v="))
    for v in versions:
        eq = list_delete_commits(spark, root, v) if v in eq_vs else []
        pos = list_pos_delete_commits(spark, root, v) if v in pos_vs else []
        yield v, eq, pos


def external_vectors(
    spark: SparkSession, root: str, versions: Iterable[int]
) -> dict[int, tuple[list[int], list[int]]]:
    """The census of EXTERNAL deletion vectors (``delete_keys`` /
    ``delete_positions`` commits) over ``versions``: for each member
    with at least one committed external vector, its ``(equality,
    positional)`` commit ids, in the order ``versions`` gives."""
    return {
        v: (eq, pos)
        for v, eq, pos in _member_vectors(spark, root, versions)
        if eq or pos
    }


def has_any_delete_vectors(
    spark: SparkSession, root: str, version: int
) -> bool:
    """True iff ANY chain member of ``v=version`` carries equality,
    positional, or embedded (MERGE) deletion vectors — the question
    every physical-read consumer (compaction, plain appends, CDF)
    must ask before trusting ``read_version``. Stops at the first
    member, newest first, that carries either kind, so the members
    below it pay no ``d=`` listing."""
    return any(
        eq or pos or _embedded_deletes_dir(spark, root, v) is not None
        for v, eq, pos in _member_vectors(
            spark, root, version_chain(spark, root, version)
        )
    )


def with_positions(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """The pinned snapshot with its physical addresses attached:
    ``_file`` (version-qualified relative path) and ``_pos`` (row index
    within the file) from the parquet reader's ``_metadata`` struct.
    This is the scan a MERGE/DELETE planner runs to DECIDE positional
    tombstones — the address columns are reader state, not data, so the
    scan costs the same as the plain read. Raises if the data schema
    already uses the reserved address names — a silent duplicate column
    would corrupt the anti-join."""
    base = read_version(spark, root, version)
    _guard_reserved_address_cols(base)
    return base.select(
        _qualified_file_expr().alias(FILE_COL),
        F.col("_metadata.row_index").alias(POS_COL),
        "*",
    )


def _guard_reserved_address_cols(df: DataFrame) -> None:
    clash = {FILE_COL, POS_COL, _MEMBER_COL} & set(df.columns)
    if clash:
        raise ValueError(
            f"snapshot schema uses reserved merge-on-read address "
            f"column(s) {sorted(clash)}; rename them before using "
            "deletion vectors"
        )


def delete_positions(
    spark: SparkSession,
    root: str,
    positions: DataFrame,
    version: int | None = None,
) -> int:
    """Commit a POSITIONAL deletion vector against ``v=version``: a
    parquet of distinct ``(_file, _pos)`` addresses (build them with
    ``with_positions``), published by the verified rename. No data
    file is touched; nulls in either address column are refused (a
    null address is a planner bug, not a deletable row)."""
    version = _resolve_version(spark, root, version)
    if version not in list_versions(spark, root):
        raise ValueError(f"version {version} does not exist under {root}")
    missing = {FILE_COL, POS_COL} - set(positions.columns)
    if missing:
        raise ValueError(
            f"positional delete needs columns {sorted((FILE_COL, POS_COL))}; "
            f"missing {sorted(missing)} (build with with_positions)"
        )
    tomb = as_vector(positions).distinct()
    if tomb.filter(
        F.col(FILE_COL).isNull() | F.col(POS_COL).isNull()
    ).limit(1).count():
        raise ValueError("positional delete contains null addresses")
    return _commit_vector(spark, _pos_deletes_root(root, version), tomb)


def _chain_vectors(spark: SparkSession, root: str, version: int):
    """Census of every deletion vector visible to a MOR read of
    ``v=version``: ``(eq, pos_paths, legacy_pos_paths, total_rows)``
    where ``eq`` is ``[(member, keys_df, key_col)]`` newest-first and
    ``pos_paths`` is every positional-vector parquet dir (external
    commits + embedded MERGE vectors) across the chain.
    ``legacy_pos_paths`` are external commits that PREDATE the r11
    version-qualified address format (detected by the absence of the
    ``_rows.json`` sidecar, which the same r11 change started writing
    into every staging dir): their ``_file`` column holds bare
    basenames, so the MOR read must match them by basename or those
    tombstones silently stop masking. ``total_rows`` is priced from
    the commit row-count sidecars / manifests — zero Spark jobs on the
    sidecar-bearing path."""
    eq: list[tuple[int, DataFrame, str]] = []
    pos_paths: list[str] = []
    legacy_pos_paths: list[str] = []
    total_rows = 0
    members = version_chain(spark, root, version)
    external = external_vectors(spark, root, members)
    for v in members:
        eq_ids, pos_ids = external.get(v, ([], []))
        paths = _delete_commit_dirs(root, v, eq_ids)
        keys = _equality_tombstones(spark, v, paths)
        if keys is not None:
            eq.append((v, keys, keys.columns[0]))
            total_rows += sum(_commit_rows(spark, p)[0] for p in paths)
        proot = _pos_deletes_root(root, v)
        for k in pos_ids:
            p = f"{proot}/d={k}"
            rows, has_sidecar = _commit_rows(spark, p)
            # no sidecar: a pre-r11 commit with bare-basename addresses
            (pos_paths if has_sidecar else legacy_pos_paths).append(p)
            total_rows += rows
        emb = _embedded_deletes_dir(spark, root, v)
        if emb is not None:
            # embedded vectors arrived WITH the qualified format —
            # never legacy
            pos_paths.append(emb)
            m = manifest(spark, root, v)
            n = (m or {}).get("pos_delete_rows")
            total_rows += int(n) if n is not None else _commit_rows(spark, emb)[0]
    return eq, pos_paths, legacy_pos_paths, total_rows


def read_version_mor(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    keep_addresses: bool = False,
    selected_files: list[str] | None = None,
) -> DataFrame:
    """Merge-on-read: the LOGICAL state of ``v=version`` = the pinned
    physical snapshot minus every committed deletion vector — equality
    AND positional, across EVERY chain member (the Iceberg v2 read
    contract). A version whose chain has no deletes returns the plain
    ``read_version`` plan (zero extra nodes).

    Vector application rules:

    - positional vectors (external commits and MERGE-embedded alike)
      address immutable version-qualified (file, row) pairs — one
      anti-join on the union, unconditional;
    - equality vectors are sequence-aware: a vector against member M
      masks only rows living in chain members <= M, so a later append
      can re-insert a deleted key (vectors against the read HEAD mask
      the whole chain — at read time the head IS the newest member).

    The tombstone side is broadcast while the total vector rows
    (priced from commit sidecars, zero jobs) stay at or under
    ``BROADCAST_THRESHOLD_ROWS``; above it the hint is dropped and the
    planner picks a shuffle join — slower, but never a driver OOM.
    That is the cue to ``materialize_deletes``.

    ``keep_addresses=True`` retains the ``(_file, _pos)`` address
    columns of the SURVIVING rows — the planner scan a MERGE runs to
    decide which live rows its own positional vectors retire
    (operators/merge.py).

    ``selected_files`` (a caller-computed file plan, e.g.
    ``pruned_file_plan``'s or ``bloom_file_plan``'s) reads only that
    file subset, so file pruning COMPOSES with merge-on-read (skip
    files first, mask tombstones second, both before any wide op). It
    is a SUPERSET pre-cut like every plan here: the caller's own
    predicate/join provides exactness. An empty list is the
    provably-no-file case (empty frame, correct schema)."""
    version = _resolve_version(spark, root, version)
    if selected_files is not None:
        base = read_chain_files(spark, root, version, selected_files)
    else:
        base = read_version(spark, root, version)
    eq, pos_paths, legacy_pos, total_rows = _chain_vectors(spark, root, version)
    if not eq and not pos_paths and not legacy_pos:
        if not keep_addresses:
            return base
        _guard_reserved_address_cols(base)
        return base.select(
            _qualified_file_expr().alias(FILE_COL),
            F.col("_metadata.row_index").alias(POS_COL),
            "*",
        )

    hint = total_rows <= BROADCAST_THRESHOLD_ROWS
    members = version_chain(spark, root, version)
    # vectors against the head mask the whole chain; only INTERIOR
    # vectors need the per-row member sequence
    need_member = any(m != version for m, _, _ in eq) and len(members) > 1
    need_pos = bool(pos_paths) or bool(legacy_pos) or keep_addresses

    proj = []
    if need_pos:
        proj += [
            _qualified_file_expr().alias(FILE_COL),
            F.col("_metadata.row_index").alias(POS_COL),
        ]
    if need_member:
        proj.append(_member_version_expr().alias(_MEMBER_COL))
    if proj:
        _guard_reserved_address_cols(base)
        base = base.select(*proj, "*")
    added = {FILE_COL, POS_COL} if need_pos else set()
    if need_member:
        added.add(_MEMBER_COL)

    if pos_paths:
        for p in pos_paths:
            spark.catalog.refreshByPath(p)
        # NO distinct on the tombstone side (r14): a LEFT ANTI join
        # drops a row on ANY match, so duplicate addresses cannot
        # change the result — and every committed vector is distinct
        # within itself by construction (a retired row is invisible to
        # later merges, delete_keys writes distinct). The distinct was
        # a full shuffle re-paid on EVERY evaluation of every MOR plan.
        tomb = spark.read.schema(VECTOR_SCHEMA).parquet(*pos_paths)
        if hint:
            tomb = F.broadcast(tomb)
        base = base.join(tomb, [FILE_COL, POS_COL], "left_anti")

    if legacy_pos:
        # pre-r11 vectors hold bare basenames: match on the basename of
        # the qualified address (part-file names are write-UUID-unique,
        # so the basename is unambiguous within a chain)
        for p in legacy_pos:
            spark.catalog.refreshByPath(p)
        ltomb = spark.read.schema(VECTOR_SCHEMA).parquet(*legacy_pos).select(
            F.col(FILE_COL).alias("__legacy_file"),
            F.col(POS_COL).alias("__legacy_pos"),
        )  # no distinct: anti-join semantics (see the pos_paths note)
        if hint:
            ltomb = F.broadcast(ltomb)
        base = base.join(
            ltomb,
            (
                F.element_at(F.split(F.col(FILE_COL), "/"), -1)
                == F.col("__legacy_file")
            )
            & (F.col(POS_COL) == F.col("__legacy_pos")),
            "left_anti",
        )

    for m, keys_df, kcol in eq:
        side = F.broadcast(keys_df) if hint else keys_df
        if need_member and m != version:
            tk = f"__tomb_{kcol}"
            side = side.withColumnRenamed(kcol, tk)
            base = base.join(
                side,
                (F.col(kcol) == F.col(tk)) & (F.col(_MEMBER_COL) <= F.lit(m)),
                "left_anti",
            )
        else:
            base = base.join(side, kcol, "left_anti")

    # drop ONLY the address columns this read itself projected — a
    # data column that legitimately shares a reserved name (possible on
    # the equality-only path, where no guard fires) stays intact
    keep = (FILE_COL, POS_COL) if keep_addresses else ()
    drop = [c for c in added if c not in keep]
    return base.drop(*drop) if drop else base


def materialize_deletes(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    target_files: int | None = None,
    manifest_extra: dict | None = None,
) -> int:
    """Fold every deletion vector visible to ``v=version`` (its own and
    its chain ancestors', equality and positional alike) into a NEW
    physical version (copy-on-write moment of the MOR lifecycle) and
    return its number. The new snapshot carries the source manifest's
    stats/bloom columns (re-derived over the new files), has NO
    tombstones, and reads of it take the zero-join fast path again. The
    SOURCE version and its tombstones are untouched — time travel to
    the pre-delete physical state or replay of the MOR view both keep
    working until retention expires them. With ``target_files``, the
    rewrite also bin-packs (a delete wave often strands small files;
    folding the compaction into the same rewrite saves a second full
    pass).

    The rewrite CUTS the chain (no base link), so like the streaming
    sinks' compaction it CARRIES the folded chain's ``writer_batch_id``
    markers forward as ``writer_batch_ids`` in its own manifest — a
    micro-batch redelivered right after maintenance still resolves to
    a no-op instead of re-applying (the exactly-once contract of
    streaming/sinks.py). ``manifest_extra`` adds caller keys on top
    (reserved keys refused by write_version; an explicit
    ``writer_batch_ids`` overrides the carried set)."""
    from pyspark_big_data_spark.operators.versioned import (
        chain_writer_markers,
    )

    version = _resolve_version(spark, root, version)
    if not has_any_delete_vectors(spark, root, version):
        raise ValueError(
            f"v={version} under {root} has no tombstones to materialize"
        )
    m = manifest(spark, root, version)
    stats_cols = list(m["stats_cols"]) if m and m.get("stats_cols") else None
    bloom_cols = list(m["bloom_cols"]) if m and m.get("bloom_cols") else None
    extra = dict(manifest_extra or {})
    if "writer_batch_ids" not in extra:
        markers = chain_writer_markers(spark, root, version)
        if markers:
            extra["writer_batch_ids"] = sorted(markers)
    df = read_version_mor(spark, root, version)
    if target_files is not None:
        df = df.coalesce(target_files)
    return write_version(
        df,
        root,
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        manifest_extra=extra or None,
    )
