"""Warehouse benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload daily_load_ref --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. Workloads:

- ``daily_load_ref``: a seeded two-day star load at the reference CSV's
  size (8,399 lines a day) through the cron-facing orchestrator, then BI
  query rounds over the target star;
- ``txn_upsert_lookup``: ``TxTable`` create, then merge_upsert commits
  each followed by pruned reads.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and Spark counters and prints the per-layer metrics,
writing every span to ``perfbench/.work/trace-<workload>-<seed>.json``.
The last line of standard output is the JSON result. Everything the run
writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import time

T_START = time.time()   # before the heavy imports: set-up starts here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

sys.dont_write_bytecode = True   # write nothing outside the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REF_LINES = 8399          # lines a day in the reference CSV


def _env(work: str) -> None:
    """Confine the engine to ``local[<usable cores>]`` and to ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:   # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("daily_load_ref", "txn_upsert_lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import walmart_project_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from perfbench import gen, loads, metrics, txn
    from perfbench.trace import Tracer, peak_rss_mb

    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    _env(work)
    tracer = Tracer(args.trace == 1)

    try:
        # set-up: inputs, session and a warm-up (see each workload)
        days = gen.generate(args.seed, REF_LINES)
        load = args.workload == "daily_load_ref"
        csvs = (loads.write_sources(work, [gen.to_csv(d) for d in days])
                if load else None)
        from walmart_project_etl_spark.session import get_spark

        t = time.time()
        spark = get_spark()
        tracer.record("session.get_spark", t, time.time())
        spark.sparkContext.setLogLevel("ERROR")
        try:
            if load:
                txn.warm_up(spark, work, days[0])
                tracer.attach(spark)
                setup_s = time.time() - T_START
                res = loads.run(spark, work, list(days), csvs,
                                args.seconds, tracer)
            else:   # set-up ends inside, after the untimed cycles
                tracer.attach(spark)
                res = txn.run(spark, work, days[0], args.seconds, tracer,
                              args.seed)
                setup_s = res["ready_at"] - T_START
            res["setup_s"] = setup_s
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            res["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    e2e = {n: {"value": res[n], "unit": u}
           for n, u, _, _ in metrics.END_TO_END}
    if tracer.enabled:
        os.makedirs(work_root, exist_ok=True)
        path = os.path.join(work_root,
                            f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "end_to_end": e2e, "results": res,
                       "spans": tracer.to_json(),
                       "overhead_s": tracer.overhead_s}, fh, indent=1,
                      default=str)
        values = metrics.per_layer(tracer.spans, res, tracer.overhead_s)
        out = {n: {"value": values[n], "unit": u}
               for n, u, _ in metrics.PER_LAYER}
    else:
        out = e2e
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
