"""Benchmark command: run one workload with a seed, print its metrics.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The command writes the workload's
inputs under ``.perfbench/`` in the checkout, pins the run settings,
starts one client process (``perfbench/client.py``) with a fresh Spark
session, waits for it with a deadline, stops every process it left
behind, and prints two JSON lines: the run's detail (settings, load,
sample counts, per-op CPU and wall times; per-layer rollup when traced), then
the result ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import boatgen, fixtures  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.workloads import PIPELINE_OP, WORKLOADS, ops_of  # noqa: E402

FIXTURE_SEED = 42
FIXTURE_SCALE = 0.01
BOAT_ROWS = 5_000
CPUS = 4
DRIVER_MEM = "1g"
CLIENT_DEADLINE_S = 160
END_TO_END = {
    "setup_s": "s",
    "ops_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_share": "ratio",
}


def _settings_env(work: str) -> dict[str, str]:
    """Environment for the client: pinned parallelism and heap, and
    every scratch location inside the run's work directory."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "local", "stream", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(min(CPUS, os.cpu_count() or 1)),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_STREAM_TMP": dirs["stream"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        # The driver JVM's heap starts at its cap, so the collector never
        # resizes it and GC work does not depend on when it would have.
        # It is not pre-touched: pages become resident only as objects
        # are allocated into them, so peak RSS still follows heap use.
        # The JIT is the quick compiler alone, at a twentieth of its
        # usual call counts: it compiles in the cold pass what the
        # optimizing compiler would still be compiling minutes later,
        # so warm passes measure the program and not the JIT's progress.
        "SPARK_SUBMIT_OPTS": f"-Xms{DRIVER_MEM} -XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05",
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",
    })
    return env


def _group_alive(pgid: int) -> bool:
    """True while a non-zombie process of the group exists."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Terminate what is left of the client's process group and wait."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def run_client(cfg: dict, env: dict) -> dict | None:
    cfg["t_start"] = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.client", json.dumps(cfg)],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=CLIENT_DEADLINE_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"client passed its {CLIENT_DEADLINE_S}s deadline", file=sys.stderr)
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if code != 0 or not os.path.exists(cfg["out"]):
        return None
    with open(cfg["out"]) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_main = time.monotonic()
    # a terminated benchmark still stops its client and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    for need in ("__spark_entry__.py", "boat_etl_pyspark_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"not a checkout of the engine: {need} is missing", file=sys.stderr)
            return 2

    state = os.path.join(ROOT, ".perfbench")
    fixture_dir = fixtures.fixture_dir(state, FIXTURE_SEED, FIXTURE_SCALE)
    fixtures.write_fixtures(fixture_dir, FIXTURE_SEED, FIXTURE_SCALE)
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        env = _settings_env(work)
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "fixtures": fixture_dir,
            "oracle_cache": f"{fixture_dir}-oracle",
            "out": os.path.join(work, "result.json"),
            "out_dir": os.path.join(work, "out"),
        }
        if PIPELINE_OP in ops_of(args.workload):
            cfg["boat_csv"] = os.path.join(work, "boat_data.csv")
            cfg["expected"] = boatgen.write_csv(cfg["boat_csv"], args.seed, BOAT_ROWS)
        result = run_client(cfg, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1

    units = PER_LAYER if args.trace else END_TO_END
    values = result["layers"] if args.trace else result["metrics"]
    detail = result["detail"] | {
        "end_to_end": result["metrics"], "run_wall_s": time.monotonic() - t_main}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
