"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py            # generators + catalogue + smoke runs
    python3 perfbench/selftest.py --quick    # skip the smoke runs

Checks that the same seed gives byte-identical inputs and another
seed different ones, that ``BENCHMARK.json`` mirrors `metrics.py`,
and runs every workload once at scale 0.001 (plus one traced run),
requiring a correct result line. Exits non-zero on any failure.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from run import HELD_OUT_SEED, WORKLOADS  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def check_generators(work: str) -> None:
    dirs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[tag] = gen.write_sf_dir(seed, 0.001, os.path.join(work, tag), TABLES)
    for t in TABLES:
        f = f"{t}.parquet"
        if not filecmp.cmp(os.path.join(dirs["a"], f), os.path.join(dirs["b"], f), shallow=False):
            raise AssertionError(f"seed 7 gave two different {f}")
        if t not in ("region", "nation") and filecmp.cmp(
                os.path.join(dirs["a"], f), os.path.join(dirs["c"], f), shallow=False):
            raise AssertionError(f"seeds 7 and 8 gave the same {f}")
    ts = gen.events_table(7, 1000).column("ts").cast("int64").to_numpy()
    a1, a2 = (gen.split_arrivals(7, ts, 0.4, 3, 0.05) for _ in range(2))
    a3 = gen.split_arrivals(8, ts, 0.4, 3, 0.05)
    if not all((x == y).all() for x, y in zip(a1.parts + [a1.ts_us], a2.parts + [a2.ts_us])):
        raise AssertionError("split_arrivals is not deterministic")
    if (a1.ts_us == a3.ts_us).all():
        raise AssertionError("split_arrivals ignores the seed")
    keys = [f"k{i}" for i in range(50)]
    z = [gen.zipf_keys(s, keys, 100, 1.1, 0.1, ["x"]) for s in (7, 7, 8)]
    if z[0] != z[1] or z[0] == z[2]:
        raise AssertionError("zipf_keys is not seeded")


def check_catalogue() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    layer = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    if e2e != list(END_TO_END) or layer != list(PER_LAYER):
        raise AssertionError("BENCHMARK.json and metrics.py disagree")
    if [w["name"] for w in bench["workloads"]] != list(WORKLOADS):
        raise AssertionError("BENCHMARK.json and run.WORKLOADS disagree")


def smoke(workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(HELD_OUT_SEED), "--seconds", "1", "--trace", str(trace),
           "--scale", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise AssertionError(f"{workload}: exit {out.returncode}\n{out.stderr[-3000:]}")
    res = json.loads(lines[-1])
    want = {n for n, *_ in (PER_LAYER if trace else END_TO_END)}
    if set(res) != {"correct", "attempted", "failed", "metrics"} or set(res["metrics"]) != want:
        raise AssertionError(f"{workload}: malformed result {lines[-1][:300]}")
    if not res["correct"] or res["failed"]:
        raise AssertionError(f"{workload}: incorrect result\n{out.stderr[-3000:]}")
    print(f"selftest: {workload} trace={trace} ok ({res['attempted']} ops)")


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    try:
        check_generators(work)
        print("selftest: generators ok")
        check_catalogue()
        print("selftest: catalogue ok")
        if "--quick" not in sys.argv:
            for w in WORKLOADS:
                smoke(w, trace=0)
            smoke("lambda_cycle", trace=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
