"""Seeded, checked benchmark of the engine; run from the repository root.

    python3 perfbench/run.py --workload retail_features --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --quick     # every workload, tiny inputs, traced too

One run generates the workload's inputs from ``--seed``, starts a pinned
``local[k]`` session (k = usable cores, ``shuffle.partitions`` = k), warms
up with one checked iteration, then runs a closed loop (one driver thread,
the next iteration starts when the previous one ends) for ``--seconds``.
Every iteration's output is checked outside its timed window.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones:

- ``setup_s``: imports, session start and the checked warm-up iteration;
- ``warm_s``: median wall of one timed iteration;
- ``input_rows_per_s``: input rows / ``warm_s``;
- ``peak_rss_mb``: peak resident memory (VmHWM) of the JVM plus the
  Python driver during the timed loop;
- ``ok_share``: share of checked iterations whose output check passed.

With ``--trace 1`` the session also writes an uncompressed event log;
after the timed loop one more iteration runs as a traced composition of
the engine's layer functions (see ``spans.py``), its output must equal the
untraced output, and the metrics are the per-layer ones. The line before
the result holds the run's settings, input properties and iteration times.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time includes the imports below

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

DRIVER_MEMORY = "3g"
E2E_UNITS = {
    "setup_s": "s",
    "warm_s": "s",
    "input_rows_per_s": "1/s",
    "peak_rss_mb": "MiB",
    "ok_share": "share",
}
#: per-layer metrics that cover a whole workload
WORKLOAD_UNITS = {
    "session.retained_rdds": "count",
    "dedup.lsh_verified_share": "share",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    "trace.overlap_s": "s",
    "trace.unattributed_jobs": "count",
}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _reset_hwm(pid: int) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


class Session:
    """The pinned Spark session and the JVM process behind it."""

    def __init__(self, cores: int, work: str, trace: bool) -> None:
        from bigdata_retailrocket_recsys_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -Xms = -Xmx: heap growth steps made peak RSS bimodal across
            # runs (1.4 vs 2.3 GiB on graph_embed); no hsperfdata file,
            # which the JVM would write under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        }
        if trace:
            self.event_dir = os.path.join(work, "eventlog")
            os.makedirs(self.event_dir)
            extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            driver_memory=DRIVER_MEMORY,
            extra_conf=extra,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway = self.spark.sparkContext._gateway
        self.jvm_pid = self.gateway.proc.pid

    def retained_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        try:
            self.spark.stop()
        finally:
            self.gateway.shutdown()
            proc = self.gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _checked(wl, fn, expected, ref):
    """Run and time ``fn``, then check its output against ``expected``
    and, when given, the reference digest; returns (ok, digest, fn's
    wall seconds). The check is outside the timed part."""
    t = time.perf_counter()
    try:
        result = fn()
        wall = time.perf_counter() - t
        ok, digest = wl.check(result, expected)
        return ok and (ref is None or digest == ref), digest, wall
    except Exception:  # an iteration that raises counts as failed
        traceback.print_exc()
        return False, None, time.perf_counter() - t


def all_layers() -> list[str]:
    from workloads import WORKLOADS

    return [name for w in WORKLOADS.values() for name in w.layers]


def layer_units() -> dict[str, str]:
    from spans import MEASURES, UNITS

    units = {f"{name}.{m}": UNITS[m] for name in all_layers() for m in MEASURES}
    units.update(WORKLOAD_UNITS)
    return units


def measure(wl, sess, args, data, out, expected, bench_s) -> dict:
    """Warm-up, timed closed loop and, with ``--trace 1``, the traced
    iteration, all on the live session. ``bench_s`` is the time spent on
    generating inputs and expected outputs, which set-up excludes."""
    spark = sess.spark
    if args.trace:
        from spans import UNTRACED

        spark.sparkContext.setJobGroup(UNTRACED, UNTRACED)

    def iteration():
        return wl.iterate(spark, data, out)

    ok, ref, _ = _checked(wl, iteration, expected, None)
    attempted, failed = 1, int(not ok)
    spark.catalog.clearCache()
    setup_s = time.perf_counter() - T_START - bench_s

    pids = (os.getpid(), sess.jvm_pid)
    for pid in pids:
        _reset_hwm(pid)
    times = []
    t_loop = time.perf_counter()
    while not times or time.perf_counter() - t_loop < args.seconds:
        ok, digest, wall = _checked(wl, iteration, expected, ref)
        times.append(wall)
        attempted += 1
        failed += not ok
        ref = ref or digest
        spark.catalog.clearCache()
    peak_mb = sum(_vm_hwm_kb(p) for p in pids) / 1024.0
    r = {
        "attempted": attempted,
        "failed": failed,
        "times": times,
        "digest": ref,
        "setup_s": setup_s,
        "warm_s": statistics.median(times),
        "peak_rss_mb": peak_mb,
    }
    if args.trace:
        from spans import Tracer

        r["session.retained_rdds"] = sess.retained_rdds()
        tracer = Tracer(spark)

        def traced():
            with tracer:
                return wl.traced(spark, data, out, tracer)

        # the traced composition must reproduce the untraced output
        ok, _, _ = _checked(wl, traced, expected, ref)
        spark.catalog.clearCache()
        r["attempted"] += 1
        r["failed"] += not ok
        r["tracer"] = tracer
        r["trace.overhead_s"] = (tracer.end - tracer.start) - r["warm_s"]
    return r


def run(args) -> dict:
    import numpy as np

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    # the engine's scratch tables and Spark's spill stay in the work dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    try:
        t = time.perf_counter()
        props = wl.generate(np.random.default_rng(args.seed), data, wl.sizes[args.size])
        expected = wl.expected(data)
        bench_s = time.perf_counter() - t
        sess = Session(cores, work, bool(args.trace))
        try:
            r = measure(wl, sess, args, data, out, expected, bench_s)
        finally:
            sess.stop()
        info = {
            "workload": wl.name,
            "seed": args.seed,
            "master": f"local[{cores}]",
            "shuffle_partitions": cores,
            "driver_memory": DRIVER_MEMORY,
            "size": args.size,
            "inputs": props,
            "iteration_s": [round(t, 4) for t in r["times"]],
            "digest": r["digest"],
        }
        if args.trace:
            from spans import layer_metrics, read_event_log

            tracer = r["tracer"]
            counts = read_event_log(sess.event_dir, tracer.epoch_ms)
            metrics = layer_metrics(tracer, counts, all_layers(), cores)
            metrics["session.retained_rdds"] = r["session.retained_rdds"]
            metrics["trace.overhead_s"] = r["trace.overhead_s"]
            metrics["dedup.lsh_verified_share"] = 0.0
            metrics.update(wl.workload_metrics(metrics))
            units = layer_units()
            info["spans"] = tracer.records()
            info["traced_wall_s"] = tracer.end - tracer.start
        else:
            metrics = {
                "setup_s": r["setup_s"],
                "warm_s": r["warm_s"],
                "input_rows_per_s": wl.input_rows(props) / r["warm_s"],
                "peak_rss_mb": r["peak_rss_mb"],
                "ok_share": (r["attempted"] - r["failed"]) / r["attempted"],
            }
            units = E2E_UNITS
        print(json.dumps(info))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def quick() -> int:
    """Every workload at its quick size, untraced and traced, one short
    run each; asserts every named metric is emitted with its unit and
    every check passes."""
    from workloads import WORKLOADS

    failures = []
    for name in WORKLOADS:
        for trace, units in ((0, E2E_UNITS), (1, layer_units())):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "quick"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            lines = proc.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                problems = []
                if proc.returncode != 0:
                    problems.append(f"exit code {proc.returncode}")
                if got != units:
                    problems.append(f"metrics differ: {sorted(set(got) ^ set(units))}")
                if not res["correct"] or res["failed"]:
                    problems.append(f"checks failed: {res['failed']}/{res['attempted']}")
            except (IndexError, ValueError, KeyError) as e:
                problems = [f"no result line ({e}): {proc.stderr[-2000:]}"]
            status = "ok" if not problems else "; ".join(problems)
            print(f"{name} trace={trace}: {status}", flush=True)
            if problems:
                failures.append((name, trace))
    return 1 if failures else 0


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "quick"), default="full")
    ap.add_argument("--quick", action="store_true", help="smoke-test every workload at quick size")
    args = ap.parse_args(argv)
    if args.quick:
        return quick()
    if args.workload is None:
        ap.error("--workload is required")
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
