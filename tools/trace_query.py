#!/usr/bin/env python
"""Trace registry queries: wall time, Spark jobs, stages and tasks, and
a per-span ledger of where the time and jobs went.

Usage: python tools/trace_query.py <data_dir> [<data_dir> ...] <query> [<query> ...]

Arguments that name a directory are data dirs; the rest are registry
queries. Each query runs once on each data dir, in argument order, in
one warm session, and its whole result goes to a ``noop`` sink. The
spans are the benchmark's own (``perfbench/run.py::install_spans``:
session, ``io.read_table`` and the operator entry points, wherever the
package imported them), and the Spark counters come from the event log
of this session, attributed to the innermost span open when each job
started. The ledger lists per span name: calls, inclusive seconds, self
seconds (minus nested spans) and the jobs the span launched itself;
``(query body)`` is what the query ran outside every traced span. A
witness's ``*_gate`` columns are observed on the same write and printed
as their minimum over the result (1 means every row passed). The header
line also gives the run's codegen compiles (the change in
``CodegenMetrics.METRIC_COMPILATION_TIME``'s count) and their Janino
milliseconds (the change in ``CodeGenerator.compileTime``); a warm rerun
that still compiles means the codegen cache is evicting its working set.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import configure_env, install_spans, stop_spark  # noqa: E402
from perfbench.spans import Tracer, read_event_log, self_times  # noqa: E402


def main(argv: list[str]) -> int:
    data_dirs = [a for a in argv if os.path.isdir(a)]
    names = [a for a in argv if not os.path.isdir(a)]
    if not data_dirs or not names:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"trace_query-{os.getpid()}")
    configure_env(work, trace=True)
    try:
        runs, spans, counters = trace(work, data_dirs, names)
        report(runs, spans, counters)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def trace(work: str, data_dirs: list[str], names: list[str]):
    from pyspark.sql import Observation, functions as F

    from pyspark_big_data_spark import session
    from pyspark_big_data_spark.queries import REGISTRY

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"not registry queries or data dirs: {unknown}")
    tracer = Tracer()
    install_spans(tracer)
    spark = session.get_spark("trace_query")
    runs = []
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer.jsc = spark.sparkContext._jsc
        codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm codegen
        for name in names:
            for data_dir in data_dirs:
                spark.catalog.clearCache()
                tracer.op = len(runs)
                obs = Observation()
                n0, ns0 = compiles.getCount(), codegen.compileTime()
                t0 = time.perf_counter()
                with tracer.span(name, "query"):
                    df = REGISTRY[name](spark, data_dir)
                    gates = [F.min(c).alias(c) for c in df.columns if c.endswith("_gate")]
                    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"), *gates)
                    observed.write.format("noop").mode("overwrite").save()
                runs.append({"name": name, "data_dir": data_dir,
                             "wall_s": time.perf_counter() - t0,
                             "compiles": compiles.getCount() - n0,
                             "compile_ms": (codegen.compileTime() - ns0) / 1e6, **obs.get})
                tracer.op = None
    finally:
        stop_spark(spark)
    return runs, tracer.spans, read_event_log(os.path.join(work, "eventlog"))


def report(runs: list[dict], spans: list[dict], counters: dict[int, dict]) -> None:
    spans = [s for s in spans if s["op"] is not None and s["t1"] is not None]
    selfs = self_times(spans)
    for op, run in enumerate(runs):
        mine = [s for s in spans if s["op"] == op]
        total = defaultdict(float)
        ledger: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0, 0])
        for s in mine:
            c = counters.get(s["id"], {})
            for k in ("jobs", "stages", "tasks"):
                total[k] += c.get(k, 0)
            if s["parent"] is None:
                row = ledger["(query body)"]
            else:
                row = ledger[f"{s['layer']}.{s['name']}"]
                row[0] += 1
                row[1] += s["t1"] - s["t0"]
            row[2] += selfs[s["id"]]
            row[3] += c.get("jobs", 0)
        gates = {k: v for k, v in run.items() if k.endswith("_gate")}
        print(f"\n== {run['name']} @ {run['data_dir']}: {run['wall_s']:.3f} s, "
              f"{run['rows']} rows, {total['jobs']:.0f} jobs, "
              f"{total['stages']:.0f} stages, {total['tasks']:.0f} tasks, "
              f"{run['compiles']} compiles in {run['compile_ms']:.0f} ms"
              + (f", min gates {gates}" if gates else ""))
        print(f"  {'calls':>5} {'s':>8} {'self_s':>8} {'jobs':>5}  span")
        for label, (calls, incl, own, jobs) in sorted(ledger.items(), key=lambda kv: -kv[1][2]):
            calls_s = f"{calls:5.0f}" if calls else f"{'-':>5}"
            incl_s = f"{incl:8.3f}" if calls else f"{'-':>8}"
            print(f"  {calls_s} {incl_s} {own:8.3f} {jobs:5.0f}  {label}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
