"""Workload `registry_mix`: registry rows through the `noop` sink.

Rows from four families (see `metrics.REGISTRY_FAMILIES`): one-shot
queries, cold index builds, an iterative driver loop and a streaming
row. They bypass the master dataset, the shard export and the
lookups. The seed generates the tables (all ten test-table schemas at
the default scale). The rows run in a fixed order: a row's time
depends on which rows ran before it in the session (up to ~1.5x
across orders), so a seeded order would swamp the data's effect.

Set-up includes a warm-up pass that collects every row; that pass's
output is checked against the row's DuckDB oracle under
`tools/driver_check.py`'s canonicalisation (the oracle work itself is
not timed). The measured passes then run each row as
``QUERIES[name](spark, sf_dir)`` (build) plus a `noop` write (exec),
and release the plan-internal caches (`cacheutil.release_persisted`)
after each row, as `bench.py` does. There is one pass per `PASS_S`
seconds of ``--seconds`` (one at 10 s), at least one; a row's time is
its fastest pass and `registry_total_s` sums those. The host speed
probe runs before and after every row.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import gen
from proc import CpuMeter
from metrics import REGISTRY_FAMILIES, REGISTRY_ROWS
from spans import COUNTERS, STREAM_COUNTERS

SCALE = 0.1
#: one timed pass per this many seconds of ``--seconds`` (a pass takes
#: 5-10 s on 4 cores), at least one; fixed for a given ``--seconds``, so
#: a faster or slower host does not change how many samples a row gets
PASS_S = 10
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _oracle_check(spark, sf_dir: str, rows: tuple[str, ...]) -> tuple[dict[str, str | None], float]:
    """Warm-up pass: collect every row and compare it with its oracle.
    Returns per-row failure (None = match) and the seconds spent in
    Spark (the warm-up part of set-up)."""
    import duckdb

    from big_data_code_spark.cacheutil import release_persisted
    from big_data_code_spark.plans.registry import ORACLES, QUERIES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from driver_check import compare

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    verdict: dict[str, str | None] = {}
    spark_s = 0.0
    for name in rows:
        t = time.perf_counter()
        try:
            pdf = QUERIES[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - recorded as the row's failure
            verdict[name] = f"raised {e!r}"
            continue
        finally:
            release_persisted()
            spark_s += time.perf_counter() - t
        _, match, diff = compare(pdf, con.sql(ORACLES[name]).df())
        verdict[name] = None if match else f"oracle mismatch: {diff}"
    con.close()
    return verdict, spark_s


def run(ctx) -> None:
    from big_data_code_spark.cacheutil import release_persisted
    from big_data_code_spark.plans.registry import QUERIES

    spark, tr = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "sf")
    gen.write_sf_dir(ctx.seed, ctx.scale or SCALE, sf_dir, TABLES)

    with tr.span("session.warm", "session"):
        verdict, warm_s = _oracle_check(spark, sf_dir, REGISTRY_ROWS)
    ctx.setup_s += warm_s

    family = {r: f for f, rows in REGISTRY_FAMILIES.items() for r in rows}
    row_s: dict[str, list[float]] = {r: [] for r in REGISTRY_ROWS}
    passes: list[float] = []
    released = 0
    cpu = CpuMeter()
    measure0 = time.perf_counter()
    # a row's time is its fastest pass (`bench.py`'s min-of-reps)
    for _ in range(max(1, round(ctx.seconds / PASS_S))):
        total = 0.0
        for name in REGISTRY_ROWS:
            fam = family[name]
            ctx.probe.sample()
            try:
                t = time.perf_counter()
                with cpu.measure(name), tr.span(f"row.{name}", f"plans.{fam}"):
                    with tr.span(f"build.{fam}", f"plans.{fam}.build"):
                        df = QUERIES[name](spark, sf_dir)
                    with tr.span(f"exec.{fam}", f"plans.{fam}.exec"):
                        df.write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t
                row_s[name].append(dt)
                total += dt
                ctx.op(verdict[name] is None, f"{name}: {verdict[name]}")
            except Exception as e:  # noqa: BLE001 - an op that raises is a failed op
                ctx.op(False, f"{name}: raised {e!r}")
            finally:
                with tr.span("cacheutil.release", "cacheutil"):
                    released += release_persisted()
            ctx.probe.sample()
        passes.append(total)
    measured = time.perf_counter() - measure0

    best = {r: min(xs) for r, xs in row_s.items() if xs}
    ctx.e2e["cpu_s_per_op"] = cpu.per_op()
    ctx.report.update({
        "op_p50_ms": statistics.median(best.values()) * 1000,
        "ops_per_s": len(best) / sum(best.values()),
        "registry_total_s": sum(best.values()),
        "passes": len(passes),
        "rows": best,
        "row_passes": row_s,
        "measured_s": measured,
        "cpu_s_samples": cpu.samples,
    })

    n_passes = len(passes)
    layer = ctx.layer
    layer["session.warm_s"] = tr.by_name("session.warm")[0].duration
    layer["cacheutil.released"] = released
    for fam in REGISTRY_FAMILIES:
        build = tr.by_name(f"build.{fam}")
        exe = tr.by_name(f"exec.{fam}")
        layer[f"registry.{fam}.build_s"] = sum(s.duration for s in build) / n_passes
        layer[f"registry.{fam}.exec_s"] = sum(s.duration for s in exe) / n_passes
        for c in COUNTERS:
            layer[f"registry.{fam}.{c}"] = sum(s.counters.get(c, 0) for s in build + exe) / n_passes
    # the streaming family runs the speed layer's micro-batches
    streaming = tr.by_name("build.streaming") + tr.by_name("exec.streaming")
    for c in STREAM_COUNTERS:
        layer[f"speed.{c}"] = sum(s.counters.get(c, 0) for s in streaming) / n_passes
    for name in REGISTRY_ROWS:
        spans = tr.by_name(f"row.{name}")
        layer[f"row.{name}.s"] = min(s.duration for s in spans)
        # the row's own jobs: those of its build and exec spans
        ids = {s.id for s in spans}
        kids = [s for s in tr.spans if s.parent in ids]
        layer[f"row.{name}.jobs"] = sum(s.counters.get("jobs", 0) for s in kids) / n_passes
