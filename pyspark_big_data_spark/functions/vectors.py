"""Vector primitives over ArrayType(Float/Double) embedding columns.

Pure Column expressions (higher-order functions, JVM-side): dot product,
norm, cosine. The accumulation is sequential left-to-right — bit-identical
to DuckDB's list_dot_product — so differential oracles can compare
exactly before rounding.

For heavy linear algebra (signature matrices, batched top-k) the engine
switches to Arrow-batched numpy via pandas_udf/mapInPandas — but keeps
the per-pair cosine in column expressions where Catalyst can see it.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, functions as F


def to_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def flatten_vec(df, vec_col: str, dim: int, prefix: str, keep: list[str]):
    """Explode an array column into ``dim`` flat double columns
    ``{prefix}0..{prefix}{dim-1}`` (plus ``keep`` passthrough columns).

    The getItems are independent top-level expressions here, so codegen
    splits them into small JIT-able methods; a later ``dot_flat`` over
    the flat columns then reads plain doubles with no per-term bounds
    checks — the combination that keeps a 64-term dot inside the JIT
    (see dot_flat's cliff note)."""
    return df.select(*keep, *[df[vec_col][i].alias(f"{prefix}{i}") for i in range(dim)])


def dot_flat(prefix_a: str, prefix_b: str, dim: int) -> Column:
    """Sequential-fold dot over two flat column families — the exact
    accumulation order of ``dot``/list_dot_product, at codegen speed.

    Measured JIT cliff (native sf1, 26M pairs, 64-dim): unrolling the
    dot over the ARRAY form (``0.0 + a[0]*b[0] + …``) generates enough
    bytecode per getItem term that past ~32 terms the generated method
    exceeds the JVM JIT's huge-method limit and silently runs in the
    bytecode interpreter — 52 s, worse than the HOF ``dot`` (14 s).
    ``flatten_vec`` + this fold over plain double columns stays inside
    the JIT: 7.9 s on the same workload."""
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.col(f"{prefix_a}{i}") * F.col(f"{prefix_b}{i}")
    return acc


def cosine(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    na = norm(a) if norm_a is None else norm_a
    nb = norm(b) if norm_b is None else norm_b
    return dot(a, b) / (na * nb)


def lit_vector(values: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in values])


def random_hyperplanes(n_planes: int, dim: int, seed: str = "pyspark-big-data-lsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    Derived from md5 so the exact same constants can be inlined into both
    the Spark plan and the DuckDB oracle SQL (no RNG library to agree on).
    Components are rounded to 6 decimals so their SQL literal round-trips
    to the identical double in any engine.
    """
    planes: list[list[float]] = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            u = int(h[:12], 16) / float(1 << 48)  # [0, 1)
            row.append(round(2.0 * u - 1.0, 6))
        planes.append(row)
    return planes


def simhash_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection LSH bucket id: bit p set iff dot(vec, plane_p) > 0."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        bit = F.when(dot(vec, lit_vector(plane)) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit.cast("long")
    return bucket
