"""Benchmark entry point.

    python3 perfbench/run.py --workload order_stream --seed 1 --seconds 15 --trace 0

Run from the repository root. It generates the inputs from ``--seed``,
starts a Spark session with the engine's ``get_spark``, runs one workload,
checks its outputs and prints, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer ones. A layer a workload does no
work in (its ``NO_WORK``) reads 0; any other metric it fails to produce
stops the run. Everything the run writes lives under ``.perfbench_work/``
and is removed when the run ends. Before it exits, the run ends the Spark
JVM and its Python workers and waits until each has gone, also when it
fails or gets SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("order_stream", "llm_curation")
# Spark task threads. The driver JVM's JIT compilers keep one to two cores
# busy throughout a run (``jvm.jit_s``) and the Python driver another; at
# local[4] on four cores those contend with the tasks, and the same
# curation inputs ran 102-124 documents/s from run to run, and ten seeds
# spread 22% in throughput. At local[2] they spread 8-9%, at the same
# speed: neither workload is bound by task parallelism.
MAX_CORES = 2
DRIVER_MEMORY = "2g"


def process_start() -> float:
    """``time.perf_counter()`` value at which this process started, so
    set-up time includes interpreter start and imports."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        started = int(f.read().rsplit(")", 1)[1].split()[19]) / tick
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - started)


def main(argv=None) -> int:
    t_start = process_start()
    # SIGTERM unwinds like an error, so the clean-up below still runs
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "flink_learning_practise_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    try:
        return _run(args, spec, t_start)
    finally:
        procstat.stop_tree(_spark_gateway())
        shutil.rmtree(WORK, ignore_errors=True)


def _spark_gateway() -> list:
    """The Spark JVM this process launched, if any. It exits when its
    standard input closes; the Python process exiting would close it too,
    but the JVM would then outlive the run by a second or more."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return [proc] if proc is not None else []


def _run(args, spec: dict, t_start: float) -> int:
    from flink_learning_practise_spark.session import get_spark

    if args.workload == "order_stream":
        import stream as workload
    else:
        import curation as workload

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    box = procstat.box_facts(cores)
    with procstat.Sampler() as sampler:
        t = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            # the engine's sizing rule for shuffle partitions: 2-3x cores
            shuffle_partitions=2 * cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed, bounded heap keeps peak memory small and
                # repeatable: a growing heap's size follows GC timing
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            },
        )
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        try:
            rec = workload.run(spark, WORK, args.seed, args.seconds, bool(args.trace),
                               sampler)
        finally:
            spark.stop()
    box["loadavg_1m_end"] = procstat.load_average()

    e2e = dict(rec["end_to_end"])
    e2e["setup_s"] = rec["setup_done"] - t_start
    e2e["peak_rss_mb"] = sampler.peak_rss_mb
    layers = dict(rec["layers"])
    layers["session.start_s"] = session_s
    if args.trace:
        wanted, have = spec["per_layer"], {**dict.fromkeys(workload.NO_WORK, 0.0), **layers}
    else:
        wanted, have = spec["end_to_end"], e2e
    missing = [m["name"] for m in wanted if m["name"] not in have]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 3
    metrics = {m["name"]: {"value": float(have[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    detail = {"workload": args.workload, "seed": args.seed, "box": box,
              "checks": rec["checks"], "detail": rec["detail"],
              "end_to_end": e2e, "layers": layers}
    print("perfbench detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
