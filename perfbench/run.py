"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 8 --trace 0

Run from the repository root. Starts one Spark session on
``local[nproc]``, generates the workload's inputs from ``--seed``, runs
one cold pass, warms up until passes are steady, then times passes for
``--seconds``. Outputs of the last pass are checked against independent
references. Prints a report line with every metric and provenance, then,
as the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer ledger instead.
CPU is that of the whole process tree (Python driver, JVM, Python
workers) without the JVM's JIT compiler threads.
All state lives under ``.perfbench/run-<pid>`` in the checkout and is
removed at exit; spans are written to ``.perfbench/spans/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import config  # noqa: E402
import workloads  # noqa: E402
from harness import LAYERS, Bench, median, percentile, tree_bytes  # noqa: E402
from ledger import LAYER_METRICS  # noqa: E402
from procstat import PeakRss, tree_cpu_s  # noqa: E402

MIN_TIMED_PASSES = 2
STEADY = 0.08  # warm-up ends when two passes agree within this share
# A timed pass during which the hypervisor took more than this share of
# the cores (steal time) measured the neighbours, not the program: it is
# run again, at most MAX_STOLEN_PASSES times per run.
MAX_STEAL = 0.05
MAX_STOLEN_PASSES = 2
# Extra passes (warm-up beyond the workload's minimum, re-runs of stolen
# passes) start only this many seconds into the run, so that a slow host
# cannot stretch a run past the benchmark's time budget.
EXTRA_PASSES_UNTIL_S = 55
SETUP_REPEATS = 3


def _provenance(seed: int) -> dict:
    """Commit (when the checkout is a git work tree), a digest of the
    library sources (always), versions, core count, seed and load."""
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    digest = hashlib.sha1()
    pkg = os.path.join(ROOT, "dask_felleskomponenter_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    import pyspark

    return {
        "commit": commit,
        "source_sha1": digest.hexdigest(),
        "pyspark": pyspark.__version__,
        "nproc": len(os.sched_getaffinity(0)),
        "seed": seed,
        "loadavg_start": os.getloadavg()[0],
        "steal_s_start": _steal_s(),
    }


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, in s."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _isolate(run_dir: str, nproc: int) -> None:
    """Point every piece of state at the per-run directory; must run
    before the JVM starts."""
    for sub in ("local", "tmp", "ann", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_ANN_ROOT"] = os.path.join(run_dir, "ann")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = config.DRIVER_MEM
    # the session the library builds by default, on local[nproc]: knobs
    # inherited from the caller's environment would change what is measured
    for name in ("SPARK_MASTER", "MASTER", "PYSPARK_SUBMIT_ARGS",
                 "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_PY_WORKER_REUSE",
                 "SPARK_GRAFT_PY_DAEMON", "SPARK_UI_ENABLED"):
        os.environ.pop(name, None)


def _session(run_dir: str, trace: bool):
    from dask_felleskomponenter_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a heap at full size from the start: no growth phase that moves
        # GC cost and resident memory from pass to pass
        "spark.driver.extraJavaOptions": (
            f"-Xms{config.DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={run_dir}"
        ),
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "ckpt"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every stage readable until the step is read
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> int:
    import dask_felleskomponenter_spark  # noqa: F401  (fails outside a checkout)

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir, nproc)
    prov = _provenance(args.seed)
    spark = _session(run_dir, args.trace)
    session_s = time.time() - T_START
    try:
        with PeakRss(os.getpid()) as rss:
            result = _measure(spark, run_dir, args, session_s, rss)
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    prov["loadavg_end"] = os.getloadavg()[0]
    prov["steal_s"] = _steal_s() - prov.pop("steal_s_start")
    report, final = result
    report["provenance"] = prov
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps(final, sort_keys=True))
    return 0


def _measure(spark, run_dir, args, session_s, rss):
    wl = workloads.WORKLOADS[args.workload](spark, run_dir, args.seed)
    prep_s = []
    for k in range(SETUP_REPEATS):
        if k:
            wl.discard_inputs()
        t = time.perf_counter()
        wl.prepare()
        prep_s.append(time.perf_counter() - t)
    setup_s = session_s + median(prep_s)

    bench = Bench(spark, wl.write_roots, args.trace)

    nproc = len(os.sched_getaffinity(0))
    stolen_passes = 0

    def one_pass(label: str, traced: bool = False) -> tuple[float, float, float]:
        """Wall, CPU and the share of the cores stolen during the pass."""
        wl.reset()
        rss.mark()
        c0, s0, t0 = tree_cpu_s(os.getpid()), _steal_s(), time.perf_counter()
        bench.begin_pass(label, traced)
        wl.run_pass(bench)
        wall = bench.end_pass()
        stolen = (_steal_s() - s0) / (nproc * (time.perf_counter() - t0))
        cpu = tree_cpu_s(os.getpid()) - c0
        rss.mark()
        return wall, cpu, stolen

    cold = one_pass("cold")[0]

    # Warm-up: the workload's fixed number of passes, then on until a pass
    # agrees with the one before it within STEADY. That pass is the first
    # timed one; every later untraced pass is timed too, until the timed
    # passes cover --seconds. In trace mode traced passes alternate.
    warm = [one_pass(f"warmup-{k}")[0] for k in range(wl.min_warmup)]
    walls, cpus, ops, written, traced_walls = [], [], [], [], []
    layer_sum = {l: dict.fromkeys(LAYER_METRICS, 0.0) for l in LAYERS}
    while (len(walls) < MIN_TIMED_PASSES or sum(walls) < args.seconds
           or (args.trace and not traced_walls)):
        traced = bool(args.trace) and 0 < len(walls) and len(traced_walls) < len(walls)
        wall, cpu, stolen = one_pass(
            f"pass-{len(warm) + len(walls) + len(traced_walls)}", traced)
        extra_ok = time.time() - T_START < EXTRA_PASSES_UNTIL_S
        if (not traced and extra_ok and stolen > MAX_STEAL
                and stolen_passes < MAX_STOLEN_PASSES):
            stolen_passes += 1
            continue
        if traced:
            traced_walls.append(wall)
            for layer, m in bench.pass_layers.items():
                for k, v in m.items():
                    layer_sum[layer][k] += v
            continue
        if (not walls and extra_ok and len(warm) < wl.max_warmup
                and abs(wall - warm[-1]) > STEADY * wall):
            warm.append(wall)
            continue
        walls.append(wall)
        cpus.append(cpu)
        ops.extend(bench.pass_ops)
        written.append(bench.pass_written)

    mismatches = wl.check(bench)
    wall_s = median(walls)
    p90, beyond = percentile(ops, 0.90)
    stored = tree_bytes(wl.write_roots)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_wall_s": (cold, "s"),
        "wall_s": (wall_s, "s"),
        "op_p50_s": (median(ops), "s"),
        "cpu_s": (median(cpus), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    # an operation is a step; a step whose checked output is wrong fails
    attempted = bench.attempted
    failed = bench.failed + len(mismatches["wrong"])
    report = {
        "workload": args.workload,
        "trace": int(args.trace),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "op_p90_s": {"value": p90, "unit": "s", "samples": len(ops),
                     "beyond": beyond},
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
        "warmup_s": [round(w, 4) for w in warm],
        "cpu_s_passes": [round(c, 3) for c in cpus],
        "steady": abs(walls[0] - warm[-1]) <= STEADY * walls[0],
        "stolen_passes": stolen_passes,
        "peak_rss_parts_mb": rss.parts_mb,
        "timed_passes": len(walls),
        "setup_prepare_s": [round(p, 4) for p in prep_s],
        "session_s": session_s,
        "checked": mismatches["checked"],
        "wrong": mismatches["wrong"],
    }
    if wl.input_rows:
        report["rows_per_s"] = {"value": wl.input_rows / wall_s, "unit": "1/s"}
    changed = wl.changed_bytes()
    if changed:
        report["write_amp"] = {"value": median(written) / changed, "unit": "ratio"}
    live = wl.live_bytes()
    if live:
        report["space_amp"] = {"value": stored / live, "unit": "ratio"}

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        n = len(traced_walls)
        metrics = {}
        for layer in LAYERS:
            for k in LAYER_METRICS:
                metrics[f"{layer}.{k}"] = {
                    "value": layer_sum[layer][k] / n,
                    "unit": config.LAYER_UNITS[k],
                }
        metrics["session.calls"]["value"] = 1.0
        metrics["session.call_s"]["value"] = session_s
        for key, (num, den) in config.RATIOS.items():
            d = bench.counts.get(den, 0.0)
            metrics[key] = {
                "value": bench.counts.get(num, 0.0) / d if d else 0.0,
                "unit": "ratio",
            }
        metrics["bench.traced_wall_s"] = {"value": median(traced_walls), "unit": "s"}
        metrics["bench.trace_overhead_s"] = {
            "value": median(traced_walls) - wall_s, "unit": "s",
        }
    spans = os.path.join(
        ROOT, ".perfbench", "spans",
        f"{args.workload}-seed{args.seed}-trace{int(args.trace)}-{os.getpid()}.jsonl",
    )
    bench.write_spans(spans)
    final = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return report, final


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=config.WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=config.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=config.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
