"""Workload `lambda_cycle`: one Lambda pass, writes and reads.

Input: a seeded events table (100 000 facts at the default scale 0.1)
split into a bootstrap base (40% of the time range) and time-ordered
arrival increments; 5% of every increment's facts carry an event
time from an earlier increment, so they arrive late.

Set-up: the base becomes the master dataset and the first batch view
(one batch cycle), then a few warm-up lookups and the first arrival
(the session's first streaming query, which compiles the speed
layer's code paths). The measured part starts with the second
arrival.

Every arrival lands one parquet file in the speed layer's source
directory; the speed layer processes only that file
(`events_file_stream` → `pageviews_over_time_stream` →
`upsert_to_keyvalue_sink` with a checkpoint) and the serving answer
for the arrival's hourly keys is the loaded batch domain plus
`read_store` of the realtime view. `realtime_miss_ratio` is the share
of arrived-but-not-absorbed facts in those keys that the answer
misses: the late facts the speed layer's watermark dropped.

After every second arrival (counting the warm-up one) comes a batch
cycle as in the reference's batch workflow: ingest the pending
increments into a new-data `MasterDataset` with shred, consolidate
it, absorb it into the master, snapshot, recompute the pageview
(`operators.rollup`) and uniques (`operators.uniques`) views over the
snapshot, `export_key_value` the pageview domain, load the new domain
version for serving, and flip the realtime view to a fresh one so no
fact is counted twice.

After the cycle, a closed loop with one client reads the new domain:
`N_LOOKUPS` point lookups, each `python_hash_mod` (the driver-side
shard computation) plus `lookup(...).collect()` on that shard; keys
are drawn Zipf(1.1) over the exported keys of all granularities, 10%
of them absent (future buckets).

Operations: arrivals, batch cycles and lookups; `cpu_s_per_op` takes
each kind at its cheapest sample (`proc.CpuMeter.per_op`), and the
host speed probe runs before every arrival, the cycle and every
`PROBE_EVERY`-th lookup. Checks, outside every timed region, against
a NumPy recompute over every arrived fact: per arrival, no hourly key
is over-counted and the batch part is exact; per cycle, the view and
the exported shards equal the recompute and the flipped realtime view
is empty, so the merged answer equals the recompute too; per lookup,
a hit returns exactly the exported value and a miss returns no row.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa

import gen
from proc import CpuMeter

SCALE = 0.1
BASE_SHARE = 0.4
#: arrival increments; the first ``WARM_ARRIVALS`` are set-up
N_INCREMENTS = 3
WARM_ARRIVALS = 1
CYCLE_EVERY = 2
LATE_SHARE = 0.05
N_SHARDS = 32
KEY_COLS = ["event_type", "hour_bucket"]
N_LOOKUPS = 12
WARM_LOOKUPS = 2
ZIPF_S = 1.1
ABSENT_SHARE = 0.10
#: host speed probes: before every arrival and cycle, and every
#: ``PROBE_EVERY``-th lookup
PROBE_EVERY = 4


class Pipeline:
    """One Lambda deployment under ``root``: a master dataset, a
    versioned export of the batch view (and the loaded copy the
    serving answer reads), and a realtime view (store + checkpoint +
    source directory) that is replaced at every flip."""

    def __init__(self, ctx, root: str):
        from big_data_code_spark.sources.master_dataset import MasterDataset

        self.ctx = ctx
        self.root = root
        self.master = MasterDataset(os.path.join(root, "master"))
        self.generation = 0
        self.landed: list[str] = []  # files of the pending increments
        self.export_dir: str | None = None
        self.views_dir: str | None = None
        self.domain: dict[str, int] = {}
        self.n_cycles = 0
        self._new_generation()

    # ---------------------------------------------------- speed layer

    def _new_generation(self) -> None:
        g = os.path.join(self.root, f"rt_{self.generation:03d}")
        self.src_dir = os.path.join(g, "src")
        self.store_dir = os.path.join(g, "store")
        self.ckpt_dir = os.path.join(g, "ckpt")
        os.makedirs(self.src_dir)
        os.makedirs(self.store_dir)

    def land(self, table: pa.Table, name: str) -> None:
        """Atomically place one increment file in the source dir."""
        tmp = os.path.join(self.src_dir, f".{name}.tmp")
        gen.write_table(table, tmp)
        final = os.path.join(self.src_dir, f"{name}.parquet")
        os.rename(tmp, final)
        self.landed.append(final)

    def run_speed(self) -> None:
        from big_data_code_spark.streaming import speed_layer as sl

        with self.ctx.tracer.span("speed.run", "streaming.speed_layer"):
            stream = sl.events_file_stream(self.ctx.spark, self.src_dir)
            agg = sl.pageviews_over_time_stream(stream)
            q = sl.upsert_to_keyvalue_sink(agg, self.store_dir, KEY_COLS,
                                           checkpoint_dir=self.ckpt_dir)
            q.awaitTermination()

    def merged_answer(self, keys: list[tuple[str, int]]) -> dict[tuple[str, int], tuple[int, int]]:
        """Serving answer for hourly keys: (batch part, realtime part)."""
        from pyspark.sql import functions as F

        from big_data_code_spark.streaming import speed_layer as sl

        hours = sorted({h for _, h in keys})
        with self.ctx.tracer.span("speed.read_store", "streaming.speed_layer"):
            rt = {
                (r[0], r[1]): r[2]
                for r in sl.read_store(self.ctx.spark, self.store_dir)
                .where(F.col("hour_bucket").isin(hours))
                .select("event_type", "hour_bucket", "n_views").collect()
            }
        return {(t, h): (self.domain.get(f"{t}/h-{h}", 0), rt.get((t, h), 0)) for t, h in keys}

    # ---------------------------------------------------- batch layer

    def batch_cycle(self, shred: int) -> None:
        from pyspark.sql import functions as F

        from big_data_code_spark.operators.rollup import multi_granularity_rollup
        from big_data_code_spark.operators.uniques import uniques_hll
        from big_data_code_spark.schema import pageview_facts
        from big_data_code_spark.serving import keyvalue as kv
        from big_data_code_spark.sources.master_dataset import MasterDataset

        spark, tr, c = self.ctx.spark, self.ctx.tracer, self.n_cycles
        new = MasterDataset(os.path.join(self.root, f"new_{c:03d}"))
        with tr.span("master.ingest", "sources.master_dataset"):
            new.ingest(pageview_facts(spark.read.parquet(*self.landed)), shred_partitions=shred)
        with tr.span("master.consolidate", "sources.master_dataset"):
            new.consolidate(spark)
        with tr.span("master.absorb", "sources.master_dataset"):
            self.master.absorb(new, spark)
        with tr.span("master.snapshot", "sources.master_dataset"):
            snap = self.master.snapshot(f"cycle_{c:03d}")
        views = os.path.join(self.root, f"views_{c:03d}")
        with tr.span("batch.recompute", "operators"):
            facts = self.master.read_snapshot(spark, snap).where(F.col("unit") == "page_view")
            pv = facts.select(
                F.col("page_view.page.url").alias("url"),
                F.timestamp_seconds(F.col("pedigree.true_as_of_secs")).alias("ts"),
                F.col("page_view.person.user_id").alias("user_id"),
            )
            multi_granularity_rollup(
                pv, key="url", ts="ts", agg=F.sum("cnt"),
                key_name="event_type", value_name="total_views",
            ).write.parquet(os.path.join(views, "pageviews"))
            uniques_hll(pv, "url", "ts", "user_id").write.parquet(os.path.join(views, "uniques"))
        export = os.path.join(self.root, f"export_{c:03d}")
        with tr.span("serving.export", "serving.keyvalue"):
            view = spark.read.parquet(os.path.join(views, "pageviews"))
            key = kv.url_bucketed_key(F.col("event_type"), F.col("granularity"), F.col("bucket"))
            kv.export_key_value(view, export, key, ["total_views"], kv.hash_mod_shard(key, N_SHARDS))
        with tr.span("serving.load_domain", "bench.serve"):
            domain = {r[0]: r[1] for r in spark.read.parquet(export)
                      .select("key", "total_views").collect()}
        with tr.span("speed.flip", "bench.flip"):
            old_export, self.export_dir, self.domain = self.export_dir, export, domain
            old_rt = os.path.dirname(self.src_dir)
            self.generation += 1
            self._new_generation()
            self.landed = []
            shutil.rmtree(old_rt)
            shutil.rmtree(new.path)
            if old_export:
                shutil.rmtree(old_export)
        self.n_cycles += 1
        self.views_dir = views

    # ---------------------------------------------------------- reads

    def lookup(self, key: str) -> tuple[list, float, float]:
        """One point lookup; returns (rows, shard seconds, scan seconds)."""
        from big_data_code_spark.serving import keyvalue as kv

        spark, tr = self.ctx.spark, self.ctx.tracer
        t = time.perf_counter()
        with tr.span("serving.shard", "serving.keyvalue"):
            shard = kv.python_hash_mod(key, N_SHARDS, spark)
        t1 = time.perf_counter()
        with tr.span("serving.scan", "serving.keyvalue"):
            rows = kv.lookup(spark, self.export_dir, key, lambda _: shard).collect()
        return rows, t1 - t, time.perf_counter() - t1


# -------------------------------------------------------------- oracle


def hourly_counts(ev: dict, idx: np.ndarray) -> dict[tuple[str, int], int]:
    """(event_type, hour) -> facts among rows ``idx``."""
    hours = (ev["ts_s"][idx] // 3600).astype(np.int64)
    types = ev["type"][idx]
    keys, counts = np.unique(np.rec.fromarrays([types, hours]), return_counts=True)
    return {(str(k[0]), int(k[1])): int(n) for k, n in zip(keys, counts)}


def view_rows(hourly: dict[tuple[str, int], int]) -> dict[str, int]:
    """Exported key -> total_views: the h/d/w/m fan-out of the hourly
    counts, keyed ``url/gran-bucket``."""
    out: dict[str, int] = {}
    for (t, h), n in hourly.items():
        day = h // 24
        for g, b in (("h", h), ("d", day), ("w", day // 7), ("m", day // 28)):
            k = f"{t}/{g}-{b}"
            out[k] = out.get(k, 0) + n
    return out


def absent_keys(expected: dict[str, int]) -> list[str]:
    """Keys of buckets past the data: per event type and granularity,
    1, 7 and 30 buckets after the last one."""
    last: dict[tuple[str, str], int] = {}
    for k in expected:
        t, rest = k.split("/")
        g, b = rest.split("-")
        last[(t, g)] = max(last.get((t, g), -1), int(b))
    return [f"{t}/{g}-{b + d}" for (t, g), b in sorted(last.items()) for d in (1, 7, 30)]


def check_cycle(ctx, pipe: Pipeline, expected: dict[str, int]) -> bool:
    """Right after a cycle every arrived fact is absorbed and the
    realtime view is empty, so the view, the exported shards (as
    loaded for serving) and the merged answer must all equal the
    recompute."""
    from big_data_code_spark.streaming import speed_layer as sl

    view = {r[0]: r[1] for r in ctx.spark.read.parquet(os.path.join(pipe.views_dir, "pageviews"))
            .selectExpr("concat(event_type, '/', granularity, '-', CAST(bucket AS STRING))",
                        "total_views").collect()}
    try:
        sl.read_store(ctx.spark, pipe.store_dir)
        realtime_empty = False
    except FileNotFoundError:
        realtime_empty = True
    return view == expected and pipe.domain == expected and realtime_empty


# ---------------------------------------------------------------- run


def _events(seed: int, scale: float):
    table = gen.events_table(seed, int(1_000_000 * scale))
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    arr = gen.split_arrivals(seed, ts, BASE_SHARE, N_INCREMENTS, LATE_SHARE)
    table = table.set_column(table.schema.get_field_index("ts"), "ts",
                             pa.array(arr.ts_us, type=pa.timestamp("us")))
    ev = {"ts_s": arr.ts_us // 1_000_000,
          "type": table.column("event_type").to_numpy(zero_copy_only=False).astype(str)}
    return table, arr, ev


def _lookups(ctx, pipe: Pipeline, expected: dict[str, int], seed: int, n: int,
             lat: list, shard_ms: list, scan_ms: list, jobs: list, cpu: CpuMeter,
             measured: bool = True) -> None:
    """Closed loop of ``n`` checked lookups against the current domain."""
    tr = ctx.tracer
    for j, k in enumerate(gen.zipf_keys(seed, sorted(expected), n, ZIPF_S, ABSENT_SHARE,
                                        absent_keys(expected))):
        if measured and j % PROBE_EVERY == 0:
            ctx.probe.sample()
        try:
            with cpu.measure("lookup"):
                rows, t_shard, t_scan = pipe.lookup(k)
        except Exception as e:  # noqa: BLE001 - an op that raises is a failed op
            ctx.op(False, f"lookup {k}: {e!r}")
            continue
        lat.append(t_shard + t_scan)
        shard_ms.append(t_shard * 1000)
        scan_ms.append(t_scan * 1000)
        if tr.enabled:
            jobs.append(sum(s.counters.get("jobs", 0) for s in tr.spans[-2:]))
        want = expected.get(k)
        got = [r["total_views"] for r in rows]
        ctx.op(got == ([] if want is None else [want]), f"lookup {k}: got {got}, want {want}")


def run(ctx) -> None:
    from stamp import cpus

    scale = ctx.scale or SCALE
    tr = ctx.tracer
    table, arr, ev = _events(ctx.seed, scale)
    absorbed, pending = arr.parts[0], np.array([], dtype=np.int64)
    freshness, cycles, miss, pend = [], [], 0, 0

    def arrival(i: int, cpu: CpuMeter, measured: bool) -> None:
        """Land increment ``i``, run the speed layer on it and check the
        merged answer for its hourly keys."""
        nonlocal pending, miss, pend
        idx = arr.parts[i]
        try:
            pipe.land(table.take(idx), f"inc{i:03d}")
            t_land = time.perf_counter()
            with cpu.measure("arrival"), tr.span("lambda.arrival", "bench.lambda"):
                pipe.run_speed()
                merged = pipe.merged_answer(list(hourly_counts(ev, idx)))
            t_done = time.perf_counter()
            pending = np.concatenate([pending, idx])
            exp_all = hourly_counts(ev, np.concatenate([absorbed, pending]))
            exp_abs = hourly_counts(ev, absorbed)
            over = sum(b + r > exp_all[k] for k, (b, r) in merged.items())
            batch_exact = all(b == exp_abs.get(k, 0) for k, (b, _) in merged.items())
            if measured:
                freshness.append(t_done - t_land)
                miss += sum(exp_all[k] - b - r for k, (b, r) in merged.items())
                exp_pending = hourly_counts(ev, pending)
                pend += sum(exp_pending.get(k, 0) for k in merged)
            ctx.op(over == 0 and batch_exact, f"arrival {i}: {over} keys over-counted, "
                   f"batch part exact={batch_exact}")
        except Exception as e:  # noqa: BLE001 - an op that raises is a failed op
            ctx.op(False, f"arrival {i}: {e!r}")

    t0 = time.perf_counter()
    pipe = Pipeline(ctx, os.path.join(ctx.work, "lambda"))
    shred = cpus()
    with tr.span("session.warm", "session"):
        pipe.land(table.take(arr.parts[0]), "base")
        pipe.batch_cycle(shred)
        _lookups(ctx, pipe, view_rows(hourly_counts(ev, arr.parts[0])), ctx.seed + 1,
                 WARM_LOOKUPS, [], [], [], [], CpuMeter(), measured=False)
        # the session's first streaming queries compile the speed
        # layer's code paths (a cold arrival costs ~2x a warm one)
        for i in range(1, WARM_ARRIVALS + 1):
            arrival(i, CpuMeter(), measured=False)
    ctx.setup_s += time.perf_counter() - t0
    expected = pipe.domain

    lat, shard_ms, scan_ms, jobs = [], [], [], []
    cpu = CpuMeter()
    measure0 = time.perf_counter()  # layer metrics count spans from here
    for i in range(WARM_ARRIVALS + 1, len(arr.parts)):
        ctx.probe.sample()
        arrival(i, cpu, measured=True)
        if i % CYCLE_EVERY == 0:
            ctx.probe.sample()
            try:
                t = time.perf_counter()
                with cpu.measure("cycle"), tr.span("lambda.cycle", "bench.lambda"):
                    pipe.batch_cycle(shred)
                cycles.append(time.perf_counter() - t)
                absorbed = np.concatenate([absorbed, pending])
                pending = np.array([], dtype=np.int64)
                expected = view_rows(hourly_counts(ev, absorbed))
                with tr.span("lambda.check", "bench.check"):
                    ok = check_cycle(ctx, pipe, expected)
                ctx.op(ok, f"cycle after arrival {i}: view/export/merged answer != recompute")
            except Exception as e:  # noqa: BLE001
                ctx.op(False, f"cycle after arrival {i}: {e!r}")
    _lookups(ctx, pipe, expected, ctx.seed, N_LOOKUPS, lat, shard_ms, scan_ms, jobs, cpu)

    # latency and throughput over the operations' own time; the checks
    # between them are not part of it
    ops = freshness + cycles + lat
    ctx.e2e["cpu_s_per_op"] = cpu.per_op()
    ctx.report.update({
        "op_p50_ms": statistics.median(ops) * 1000,
        "ops_per_s": len(ops) / sum(ops),
        "cycle_s": statistics.median(cycles),
        "cycle_samples": len(cycles),
        "freshness_s": statistics.median(freshness),
        "freshness_samples": len(freshness),
        "realtime_miss_ratio": miss / pend if pend else 0.0,
        "lookup_p50_ms": statistics.median(lat) * 1000,
        "lookups": len(lat),
        "cpu_s_fastest": cpu.fastest(),
        "cpu_s_samples": cpu.samples,
    })
    _layer_metrics(ctx, pipe, n_facts=len(absorbed), since=measure0)
    ctx.layer.update({
        "serving.shard_ms": statistics.median(shard_ms),
        "serving.scan_ms": statistics.median(scan_ms),
        "serving.jobs_per_lookup": statistics.mean(jobs) if jobs else 0.0,
    })


def _layer_metrics(ctx, pipe: Pipeline, n_facts: int, since: float) -> None:
    """Per-layer figures over the measured pass (spans started at or
    after ``since``); set-up spans count only in ``session.warm_s``."""
    tr = ctx.tracer
    spans = lambda name: [s for s in tr.by_name(name) if s.start >= since]  # noqa: E731
    med = lambda name: statistics.median([s.duration for s in spans(name)] or [0.0])  # noqa: E731
    total = lambda name, k: sum(s.counters.get(k, 0) for s in spans(name))  # noqa: E731
    files = glob.glob(os.path.join(pipe.master.data_dir, "**", "*.parquet"), recursive=True)
    speed = spans("speed.run")
    ctx.layer.update({
        "session.warm_s": tr.by_name("session.warm")[0].duration,
        "master.ingest_s": med("master.ingest"),
        "master.consolidate_s": med("master.consolidate"),
        "master.absorb_s": med("master.absorb"),
        "master.snapshot_s": med("master.snapshot"),
        "master.files": len(files),
        "master.bytes_per_fact": sum(os.path.getsize(f) for f in files) / max(n_facts, 1),
        "batch.recompute_s": med("batch.recompute"),
        "batch.jobs": total("batch.recompute", "jobs"),
        "batch.shuffle_write_bytes": total("batch.recompute", "shuffle_write_bytes"),
        "serving.export_s": med("serving.export"),
        "serving.export_files": len(glob.glob(os.path.join(pipe.export_dir, "**", "*.parquet"),
                                              recursive=True)),
        "speed.run_s": med("speed.run"),
        "speed.microbatches": total("speed.run", "microbatches"),
        "speed.add_batch_ms": statistics.median([s.counters.get("add_batch_ms", 0) for s in speed]),
        "speed.wal_commit_ms": statistics.median([s.counters.get("wal_commit_ms", 0) for s in speed]),
        "speed.state_rows": max(s.counters.get("state_rows", 0) for s in speed),
        "speed.dropped_late_rows": total("speed.run", "dropped_late_rows"),
    })
