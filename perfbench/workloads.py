"""The benchmark's three workloads.

A workload turns a seed into inputs, builds whatever state it needs
before the timed passes, yields the operations of each pass, and checks
results: read ops against their DuckDB oracles, and the mutation cycle
against DuckDB replaying the same statements.

Every operation is one of:

- ``read``: ``run()`` returns a DataFrame; the caller materializes it to
  a ``noop`` sink and takes its digest, so nothing is pruned away.
- ``commit``: ``run()`` publishes a new table state.
- ``maintenance``: ``run()`` reorganizes storage without changing rows.
"""

from __future__ import annotations

import functools
import io
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


@dataclass
class Op:
    name: str
    kind: str  # "read" | "commit" | "maintenance"
    run: Callable[[], object]
    # read ops of the mutation cycle: check the observed digest row
    check: Callable[[dict], str | None] | None = None
    # untimed bookkeeping after a successful run (the DuckDB replay)
    after: Callable[[], None] | None = None
    # layer whose span wraps ``run`` (read ops whose build is a query)
    layer: str | None = None
    # traced run only: untimed measurements taken just before the op
    probe: Callable[[], dict] | None = None


@dataclass
class Failure:
    op: str
    pass_no: int | None  # None: every pass
    reason: str
    whole_pass: bool = False  # fails every op of the pass, not only ``op``


def digest_columns(df) -> list:
    """Order-insensitive digest of a whole result: row count, a sum of
    32-bit row hashes and an xor of 64-bit row hashes."""
    cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    h = F.xxhash64(*cols)
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("h"),
        F.bit_xor(h).alias("x"),
    ]


class RegistryReads:
    """Registry queries at one scale, each checked against a DuckDB
    oracle: its own, or for an ``_np`` kernel its oracled twin's."""

    min_warm_passes = 2

    def __init__(self, sf: float, ops: list[str], python_ops: set[str],
                 oracle_of: dict[str, str] | None = None):
        self.sf = sf
        self.op_names = ops
        self.python_ops = python_ops
        self.oracle_of = oracle_of or {}
        self.data = None
        self.spark = None

    def build(self, spark, data: str, work: str, seed: int) -> None:
        self.spark, self.data = spark, data

    def ops(self, pass_no: int) -> list[Op]:
        from pyspark_big_data_spark.queries import REGISTRY

        return [
            Op(name, "read", functools.partial(REGISTRY[name], self.spark, self.data),
               layer="queries")
            for name in self.op_names
        ]

    def storage(self) -> list[str]:
        return []

    def space_amp(self) -> float:
        return 0.0

    def reads_per_pass(self) -> int:
        return len(self.op_names)

    def after_pass(self, pass_no: int) -> list[Failure]:
        return []

    def gate(self, digests: dict[str, list[tuple[int, dict]]]) -> list[Failure]:
        """Collect each op once, compare it with its oracle, then require
        every timed run of the op to have produced the same digest."""
        from pyspark.sql import Observation

        from pyspark_big_data_spark.queries import ORACLES, REGISTRY
        from pyspark_big_data_spark.testing import compare_frames, duckdb_oracle

        failures = []
        for name in self.op_names:
            self.spark.catalog.clearCache()
            try:
                df = REGISTRY[name](self.spark, self.data)
                obs = Observation()
                got = df.observe(obs, *digest_columns(df)).toPandas()
                verified = obs.get
                want = duckdb_oracle(ORACLES[self.oracle_of.get(name, name)], self.data)
                compare_frames(got, want)
            except Exception as exc:  # noqa: BLE001 — any failure fails the gate
                failures.append(Failure(name, None, f"oracle check: {exc!r}"[:500]))
                continue
            for pass_no, d in digests.get(name, []):
                if d != verified:
                    failures.append(Failure(name, pass_no, f"digest {d} != verified {verified}"))
        return failures


ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]
_STATUS = ["O", "F", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_CHECK_SQL = ("count(*) AS n, sum(o_orderkey) AS k, sum(o_custkey) AS c, "
              "sum(o_totalprice) AS p, count(DISTINCT o_orderkey) AS d")


@dataclass
class MutationCycle:
    """Rounds of MERGE / UPDATE / DELETE / APPEND with merge-on-read
    reads between them on a versioned ``orders`` table, the same MERGE
    source upserted into a plain-parquet twin, and maintenance
    (materialize deletes, expire versions) closing each pass.

    DuckDB holds the expected state of both tables and replays every
    statement after the engine commits it."""

    sf: float
    merge_frac: float = 0.01
    inserts: int = 500
    target_files: int = 4
    spark: object = None
    root: str = ""
    twin: str = ""
    data: str = ""
    seed: int = 0
    work: str = ""
    schema: object = None
    con: object = None
    n0: int = 0
    next_key: int = 0
    n_cust: int = 0
    python_ops: frozenset = frozenset()
    # passes are short and noisy, so take a median of three
    min_warm_passes: int = 3

    def build(self, spark, data: str, work: str, seed: int) -> None:
        """The untimed initial commit (runs once per set-up)."""
        import duckdb

        from pyspark_big_data_spark.io import read_table
        from pyspark_big_data_spark.operators import versioned

        self.spark, self.data, self.seed, self.work = spark, data, seed, work
        tables = os.path.join(work, "tables")
        shutil.rmtree(tables, ignore_errors=True)
        self.root = os.path.join(tables, "orders_v")
        self.twin = os.path.join(tables, "orders_twin")
        orders = read_table(spark, data, "orders").select(*ORDERS_COLS)
        self.schema = orders.schema
        versioned.invalidate_metadata_cache()
        versioned.write_version(orders, self.root, stats_cols=["o_orderkey"])
        orders.write.parquet(self.twin)
        if self.con is not None:
            self.con.close()
        self.con = duckdb.connect()
        src = os.path.join(data, "orders.parquet")
        for t in ("orders_v", "orders_t"):
            self.con.execute(f"CREATE TABLE {t} AS SELECT {', '.join(ORDERS_COLS)} "
                             f"FROM read_parquet('{src}')")
        self.n0, top_key, top_cust = self.con.execute(
            "SELECT count(*), max(o_orderkey), max(o_custkey) FROM orders_v").fetchone()
        self.next_key, self.n_cust = top_key + 1, top_cust + 1

    def _rows(self, rng, keys: np.ndarray) -> pd.DataFrame:
        n = len(keys)
        days = rng.integers(0, int(6.5 * 365), n)
        return pd.DataFrame({
            "o_orderkey": keys.astype("int64"),
            "o_custkey": rng.integers(0, self.n_cust, n).astype("int64"),
            "o_orderstatus": [_STATUS[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000, 400_000, n), 2),
            "o_orderdate": pd.Timestamp("1995-01-01") + pd.to_timedelta(days, unit="D"),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n)],
        }).astype({"o_orderdate": "datetime64[us]"})

    def _frame(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf, schema=self.schema)

    def _replay(self, *sql: str, **frames: pd.DataFrame):
        def run():
            for name, pdf in frames.items():
                self.con.register(name, pdf)
            for stmt in sql:
                self.con.execute(stmt)
            for name in frames:
                self.con.unregister(name)

        return run

    def _mor_read(self, label: str) -> Op:
        from pyspark_big_data_spark.operators import deletes

        def check(obs: dict) -> str | None:
            want = self.con.execute("SELECT count(*) FROM orders_v").fetchone()[0]
            return None if obs["n"] == want else f"MOR read has {obs['n']} rows, expected {want}"

        return Op(f"read_version_mor@{label}", "read",
                  lambda: deletes.read_version_mor(self.spark, self.root), check=check)

    def reads_per_pass(self) -> int:
        return 2

    def ops(self, pass_no: int) -> list[Op]:
        from pyspark_big_data_spark.operators import deletes, merge, upsert, versioned

        rng = np.random.default_rng([self.seed, pass_no])
        n_upd = max(1, int(self.merge_frac * self.n0))
        upd_keys = rng.choice(self.next_key, size=n_upd, replace=False)
        new_keys = np.arange(self.next_key, self.next_key + self.inserts)
        app_keys = np.arange(self.next_key + self.inserts, self.next_key + 2 * self.inserts)
        self.next_key += 2 * self.inserts
        src_pdf = self._rows(rng, np.concatenate([upd_keys, new_keys]))
        app_pdf = self._rows(rng, app_keys)
        source, appended = self._frame(src_pdf), self._frame(app_pdf)
        # rows handed to the commits: merge and upsert get src, append app
        source_bytes = 2 * _parquet_bytes(src_pdf) + _parquet_bytes(app_pdf)
        m = int(rng.integers(0, 97))
        d = int(rng.integers(0, 211))
        upd_cond = f"o_custkey % 97 = {m}"
        del_cond = f"o_orderkey % 211 = {d}"
        upsert_sql = ("DELETE FROM {t} WHERE o_orderkey IN (SELECT o_orderkey FROM src)",
                      "INSERT INTO {t} SELECT * FROM src")
        return [
            Op("merge_into", "commit",
               lambda: merge.merge_into(self.spark, self.root, source, "o_orderkey"),
               after=self._replay(*(s.format(t="orders_v") for s in upsert_sql), src=src_pdf),
               probe=lambda: {"source_bytes": source_bytes}),
            Op("update_where", "commit",
               lambda: merge.update_where(self.spark, self.root,
                                          {"o_totalprice": "o_totalprice + 1.5"}, upd_cond),
               after=self._replay("UPDATE orders_v SET o_totalprice = o_totalprice + 1.5 "
                                  f"WHERE {upd_cond}")),
            self._mor_read("update"),
            Op("delete_where", "commit",
               lambda: merge.delete_where(self.spark, self.root, del_cond),
               after=self._replay(f"DELETE FROM orders_v WHERE {del_cond}")),
            Op("append_version", "commit",
               lambda: versioned.append_version(appended, self.root),
               after=self._replay("INSERT INTO orders_v SELECT * FROM app", app=app_pdf)),
            self._mor_read("append"),
            Op("upsert_parquet", "commit",
               lambda: upsert.upsert_parquet(self.spark, self.twin, source, "o_orderkey"),
               after=self._replay(*(s.format(t="orders_t") for s in upsert_sql), src=src_pdf)),
            Op("materialize_deletes", "maintenance",
               lambda: deletes.materialize_deletes(self.spark, self.root,
                                                   target_files=self.target_files),
               probe=lambda: {"chain_len": len(_unwrapped(versioned.version_chain)(
                   self.spark, self.root))}),
            Op("expire_versions", "maintenance",
               lambda: versioned.expire_versions(self.spark, self.root, keep_last=1)),
        ]

    def storage(self) -> list[str]:
        return [self.root, self.twin]

    def _tables(self):
        from pyspark_big_data_spark.operators.deletes import read_version_mor

        return (("orders_v", _unwrapped(read_version_mor)(self.spark, self.root), "orders_v"),
                ("orders_twin", self.spark.read.parquet(self.twin), "orders_t"))

    def after_pass(self, pass_no: int) -> list[Failure]:
        """Untimed: both tables' checksums against the replayed state."""
        failures = []
        for label, df, table in self._tables():
            got = tuple(df.selectExpr(*_CHECK_SQL.split(", ")).first())
            want = self.con.execute(f"SELECT {_CHECK_SQL} FROM {table}").fetchone()
            same = got[:3] == tuple(want[:3]) and got[4] == want[4] and np.isclose(
                float(got[3]), float(want[3]), rtol=1e-12)
            if not same:
                failures.append(Failure(label, pass_no, f"checksum {got} != replayed {want}",
                                        whole_pass=True))
        return failures

    def gate(self, digests) -> list[Failure]:
        """Full row-level comparison of both tables with the replay."""
        from pyspark_big_data_spark.testing import compare_frames

        failures = []
        for label, df, table in self._tables():
            try:
                compare_frames(df.toPandas(), self.con.execute(f"SELECT * FROM {table}").fetchdf())
            except AssertionError as exc:
                failures.append(Failure(label, None, f"final state: {exc}"[:500], whole_pass=True))
        return failures

    def space_amp(self) -> float:
        """Bytes on disk of the table root over the bytes of the same
        rows written once as plain parquet."""
        ref = os.path.join(self.work, "space_ref")
        self._tables()[0][1].write.mode("overwrite").parquet(ref)
        return sum(dir_files([self.root]).values()) / sum(dir_files([ref]).values())

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
            self.con = None


def _unwrapped(fn):
    """The package function under a traced run's span wrapper, for the
    benchmark's own untimed calls."""
    return getattr(fn, "__wrapped__", fn)


def _parquet_bytes(pdf: pd.DataFrame) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), buf)
    return buf.tell()


def dir_files(paths: list[str]) -> dict[str, int]:
    """Path -> size of every file under ``paths``."""
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for top in paths for d, _, files in os.walk(top) for f in files}


OLAP_OPS = [
    "q1_top_months_per_year",
    "q2_event_time_bins",
    "q3_segment_profile_top",
    "q4_avg_distance",
    "q4_avg_distance_pandas_udf",
    "pricing_summary",
]

ARROW_OPS = [
    "bloom_semi_join_witness",
    "semantic_dedup_multiprobe_np",
    "ann_topk_bruteforce_np",
    "ann_topk_ivf_np",
    "ann_topk_quantized_np",
]

# un-oracled numpy kernels are checked against their oracled twin's SQL
NP_TWINS = {n: n[: -len("_np")] for n in ARROW_OPS if n.endswith("_np")}


SF = 0.05
SF_MUTATION = 0.02  # 30k orders rows; pass time is set by jobs per commit


def make_workload(name: str, scale: float = 1.0):
    """Fresh workload object; ``scale`` multiplies the scale factor."""
    if name == "olap_reads":
        return RegistryReads(SF * scale, OLAP_OPS, {"q4_avg_distance_pandas_udf"})
    if name == "arrow_kernels":
        return RegistryReads(SF * scale, ARROW_OPS, set(ARROW_OPS), NP_TWINS)
    if name == "mutation_cycle":
        return MutationCycle(sf=SF_MUTATION * scale)
    raise KeyError(name)


WORKLOADS = ("olap_reads", "arrow_kernels", "mutation_cycle")
