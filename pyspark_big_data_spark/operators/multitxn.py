"""MULTI-TABLE atomic commits over versioned snapshots — the
cross-table write-audit-publish shape.

``operators/versioned.py`` makes each TABLE's commit atomic (one
rename); a pipeline that must publish ``orders`` and ``lineitem``
together still has a window where a reader joins the new orders
against the old lineitem. This module closes it with one more level of
the same primitive: a transaction GROUP is a directory whose tables
are ordinary versioned datasets, plus a top-level transaction log::

    group_root/
        orders/v=0 v=1 ...          # plain versioned datasets
        lineitem/v=0 v=1 ...
        _txn/t=K/manifest.json      # {"tables": {"orders": 1, ...}}

A transaction writes each table's data as a NORMAL per-table version
(crash-safe, but UNREFERENCED — nothing reads it yet), then publishes
ONE manifest naming every table's pinned version via the shared
commit loop (``versioned.commit_next`` on the ``t=`` log, whose
per-attempt stage arbitrates a lost race as below). Readers resolve
every table through the latest transaction manifest
(``read_txn_table``), so they observe either ALL of a transaction's
table versions or NONE — a crash between the data writes and the
manifest rename leaves the group at ``t=K-1`` with the half-written
versions invisible (retention reclaims them like any unreferenced
version).

Concurrency is optimistic, table-granular: losing the ``t=K`` rename
re-reads the winner's manifest — if the winner touched a DISJOINT set
of tables, the loser's map is rebased (merged) and re-published at
``t=K+1``; any table overlap raises ``TxnConflict`` (the loser's data
versions stay unreferenced; the caller re-derives against the new
state). ``expected_txn`` pins the planning snapshot for callers doing
their own read-modify-write reasoning.

100 TB: the transaction layer is pure metadata — one tiny JSON per
transaction, O(1) regardless of table sizes; data bytes are written
exactly once through the per-table commit machinery (appends stay
O(delta)).

Surrounding surface: the exactly-once STREAMING fan-out sink
(streaming/sinks.py::exactly_once_multi_table_sink) publishes each
micro-batch across tables through one ``commit_txn``; the statement
form is ``COMMIT TRANSACTION ON <group> WRITE t FROM v[, ...]``
(operators/mutation_sql.py); retention is ``expire_group`` (per-table
``expire_versions`` alone does not know about transaction pins).

Reference parity note: the reference engine (src/query1-4.py) is
read-only; this extends the mutation surface (VERDICT r11 next-step
#4: "multi-table atomic commit — the cross-table WAP shape").
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from pyspark_big_data_spark.operators.deletes import vector_dirs
from pyspark_big_data_spark.operators.versioned import (
    _fs,
    _read_json,
    _write_json,
    commit_next,
    list_numbered_dirs,
    read_version,
    write_version,
)

_TXN_DIR = "_txn"
_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,99}$")


class TxnConflict(RuntimeError):
    """A concurrent transaction touched one of this transaction's
    tables. Nothing was published under a live manifest; the caller
    re-derives against the new state."""


def _txn_root(group_root: str) -> str:
    return f"{group_root.rstrip('/')}/{_TXN_DIR}"


def _table_root(group_root: str, table: str) -> str:
    if not _NAME_RE.match(table):
        raise ValueError(f"invalid table name: {table!r}")
    return f"{group_root.rstrip('/')}/{table}"


def list_txns(spark: SparkSession, group_root: str) -> list[int]:
    """Committed transaction ids, ascending (the rename is the commit;
    staging dirs never match)."""
    return list_numbered_dirs(spark, _txn_root(group_root), "t=")


def latest_txn(spark: SparkSession, group_root: str) -> int | None:
    txns = list_txns(spark, group_root)
    return txns[-1] if txns else None


def txn_manifest(
    spark: SparkSession, group_root: str, txn: int | None = None
) -> dict:
    """The manifest of transaction ``t=txn`` (default: latest).
    ``manifest["tables"]`` maps table name -> pinned version."""
    if txn is None:
        txn = latest_txn(spark, group_root)
        if txn is None:
            raise ValueError(f"transaction group at {group_root} has no commits")
    elif txn not in list_txns(spark, group_root):
        raise ValueError(f"transaction t={txn} does not exist under {group_root}")
    p = f"{_txn_root(group_root)}/t={txn}/manifest.json"
    fs, _, jvm = _fs(spark, p)
    return _read_json(fs, jvm, p)


def read_txn_table(
    spark: SparkSession,
    group_root: str,
    table: str,
    txn: int | None = None,
) -> DataFrame:
    """Read ``table`` AT transaction ``txn`` (default: latest) — the
    only read path with the cross-table guarantee: every table resolved
    through one manifest, so a reader can never join table A's new
    version against table B's old one."""
    m = txn_manifest(spark, group_root, txn)
    if table not in m["tables"]:
        raise ValueError(
            f"table {table!r} is not part of transaction group {group_root} "
            f"(tables: {sorted(m['tables'])})"
        )
    return read_version(
        spark, _table_root(group_root, table), int(m["tables"][table])
    )


_RESERVED_TXN_KEYS = {"tables", "base_txn", "writer"}


def commit_txn(
    spark: SparkSession,
    group_root: str,
    writes: dict[str, DataFrame],
    append: bool = False,
    expected_txn: int | None = None,
    stats_cols: dict[str, list[str]] | None = None,
    manifest_extra: dict | None = None,
) -> int:
    """Atomically publish new versions of every table in ``writes``
    and return the new transaction id.

    Phase 1 writes each table's data as an ordinary per-table version
    (``append=True`` chains onto the table's version AS PINNED BY the
    current transaction manifest — never the bare per-table latest,
    which could include a concurrent loser's unreferenced commit).
    Phase 2 publishes ONE manifest carrying forward the untouched
    tables' pins: the single rename is the whole cross-table
    transaction.

    On a lost rename: disjoint-table winners rebase automatically
    (their map merges with ours); a winner that touched any of OUR
    tables raises ``TxnConflict``. ``expected_txn`` pins the
    transaction this write was PLANNED against — checked before any
    data is written AND re-checked at publish: a pinned commit never
    rebases (the caller's writes may be derived from OTHER tables'
    state at the pin, which a disjoint-table rebase would silently
    violate), it refuses on any movement. ``manifest_extra`` adds
    caller keys to the TRANSACTION manifest (reserved keys refused) —
    the seam the exactly-once streaming sink stamps its batch markers
    through."""
    if not writes:
        raise ValueError("commit_txn with no table writes is a no-op")
    if manifest_extra and _RESERVED_TXN_KEYS & set(manifest_extra):
        raise ValueError(
            "manifest_extra may not override reserved txn keys: "
            f"{sorted(_RESERVED_TXN_KEYS & set(manifest_extra))}"
        )
    current = latest_txn(spark, group_root)
    if expected_txn is not None and current != expected_txn:
        raise TxnConflict(
            f"group {group_root} moved: expected t={expected_txn}, "
            f"found t={current}"
        )
    base_map: dict[str, int] = (
        dict(txn_manifest(spark, group_root, current)["tables"])
        if current is not None
        else {}
    )
    if append:
        missing = sorted(set(writes) - set(base_map))
        if missing:
            raise ValueError(
                f"cannot append to tables not yet in the group: {missing}"
            )

    new_map = dict(base_map)
    for table, df in sorted(writes.items()):
        new_map[table] = write_version(
            df,
            _table_root(group_root, table),
            stats_cols=(stats_cols or {}).get(table),
            _append=append,
            _base_override=base_map[table] if append else None,
        )

    fs, _, jvm = _fs(spark, group_root)
    my_tables = set(writes)

    def stage(staging: str, k: int) -> None:
        nonlocal current, base_map, new_map
        latest = k - 1 if k else None
        if latest != current:
            # someone committed between our planning read and now
            if expected_txn is not None:
                # the caller PINNED its planning snapshot (it derived
                # these writes from other tables' state at that txn):
                # a disjoint-table rebase would still publish data
                # derived from a stale read — refuse, never rebase
                raise TxnConflict(
                    f"group {group_root} moved past pinned t={expected_txn} "
                    f"(now t={latest}); re-derive and retry"
                )
            # unpinned: rebase iff the winner touched none of our tables
            winner = dict(txn_manifest(spark, group_root, latest)["tables"])
            touched = {
                t
                for t in winner
                if t not in base_map or base_map[t] != winner[t]
            }
            if touched & my_tables:
                raise TxnConflict(
                    f"concurrent transaction changed {sorted(touched & my_tables)} "
                    f"under {group_root}; re-derive and retry"
                )
            new_map = {**winner, **{t: new_map[t] for t in my_tables}}
            base_map = winner
            current = latest  # base_txn records the ACTUAL rebase base
        doc = {
            **(manifest_extra or {}),
            "tables": {t: int(v) for t, v in sorted(new_map.items())},
            "base_txn": current,
            "writer": uuid.uuid4().hex,
        }
        _write_json(fs, jvm, f"{staging}/manifest.json", doc)

    # a lost rename re-lists the log, re-reads the winner and
    # re-arbitrates in the next attempt's stage
    return commit_next(spark, _txn_root(group_root), "t=", stage)


def expire_group(
    spark: SparkSession,
    group_root: str,
    keep_last_txns: int,
    keep_last_versions: int = 1,
    reclaim_unreferenced: bool = False,
    reclaim_older_than: float | None = None,
) -> dict:
    """Retention vacuum for a transaction GROUP — the only safe way to
    expire grouped tables: per-table ``expire_versions`` alone does not
    know about transaction pins, so it could delete a version an older
    txn manifest still names (breaking transaction time travel the way
    deleting a tagged version would break tags).

    Keeps the newest ``keep_last_txns`` transaction manifests (>= 1),
    deletes the older ``t=K`` dirs (time travel to them fails loudly
    afterwards — the same contract as version retention), then expires
    each table with every SURVIVING manifest's pin protected
    (``expire_versions(extra_protected=...)``, which also protects the
    pins' append chains).

    Crash/conflict DEBRIS (per-table versions no surviving manifest
    pins): versions BELOW a table's newest pin are reclaimed by the
    normal pass. A version ABOVE every pin is indistinguishable from a
    LIVE writer's phase-1 commit whose manifest rename hasn't happened
    yet, so by default it is left alone — the next committed
    transaction seals over it and a later vacuum reclaims it (the
    lifecycle self-heals). ``reclaim_unreferenced=True`` deletes those
    too; it is the caller's assertion that no transaction is in
    flight (a quiesced-maintenance-window flag, like the table
    formats' aggressive VACUUM).

    ``reclaim_older_than`` (seconds, r13) is the middle ground for
    LIVE groups where a crash-looping writer would otherwise grow the
    above-pin debris unboundedly: an above-pin version whose directory
    modification time is older than the threshold is reclaimed WITHOUT
    the quiesce assertion — a live writer's phase-1 commit is by
    definition younger than one manifest-publish cycle, so pick an age
    far above the longest transaction (hours, not seconds) and stale
    orphans drain on every vacuum while in-flight work is spared.

    Returns ``{"txns": [expired], "versions": {table: [expired]}}``."""
    if keep_last_txns < 1:
        raise ValueError("keep_last_txns must be >= 1")
    from pyspark_big_data_spark.operators.versioned import (
        expire_versions,
        list_versions,
    )

    txns = list_txns(spark, group_root)
    keep = txns[-keep_last_txns:]
    drop = [t for t in txns if t not in keep]
    pins: dict[str, set[int]] = {}
    tables: set[str] = set()
    for t in keep:
        for table, v in txn_manifest(spark, group_root, t)["tables"].items():
            pins.setdefault(table, set()).add(int(v))
            tables.add(table)

    fs, _, jvm = _fs(spark, group_root)
    Path = jvm.org.apache.hadoop.fs.Path
    for t in drop:
        fs.delete(Path(f"{_txn_root(group_root)}/t={t}"), True)

    expired: dict[str, list[int]] = {}
    for table in sorted(tables):
        troot = _table_root(group_root, table)
        table_pins = pins.get(table, set())
        if table_pins and (reclaim_unreferenced or reclaim_older_than is not None):
            # quiesced window (reclaim_unreferenced): versions above
            # every surviving pin are provably debris ONLY under the
            # caller's no-writer assertion. Age-gated (reclaim_older_
            # than): an above-pin version older than the threshold is
            # a stale orphan even with writers live — delete either so
            # the newest-kept rule below anchors on pinned history,
            # not on the debris.
            import time

            now_ms = time.time() * 1000.0
            top = max(table_pins)
            for v in list_versions(spark, troot):
                if v <= top:
                    continue
                if not reclaim_unreferenced:
                    vdir = Path(f"{troot}/v={v}")
                    age_s = (
                        now_ms - fs.getFileStatus(vdir).getModificationTime()
                    ) / 1000.0
                    if age_s < reclaim_older_than:
                        continue  # fresh: could be a live writer's phase 1
                fs.delete(Path(f"{troot}/v={v}"), True)
                for d in vector_dirs(troot, v):
                    fs.delete(Path(d), True)
                expired.setdefault(table, []).append(v)
                from pyspark_big_data_spark.operators.versioned import (
                    invalidate_metadata_cache,
                )

                invalidate_metadata_cache(troot)
        expired.setdefault(table, [])
        expired[table] = sorted(
            expired[table]
            + expire_versions(
                spark,
                troot,
                keep_last_versions,
                extra_protected=table_pins,
            )
        )
    return {"txns": drop, "versions": expired}
