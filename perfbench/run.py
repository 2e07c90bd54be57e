"""Repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload s3_api --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads: ``s3_api``,
``corpus_serve``, ``nightly_batch`` (see perfbench/README.md).  The last
line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics from a separate traced run.  The line before it is
a report with run metadata, sample counts and the workload-specific
figures.  Every file a run writes lives under ``.perfbench/`` in the
checkout and is removed at exit, except the span dump of a traced run
(``.perfbench/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("s3_api", "corpus_nightly")


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, seed, seconds, cores, work, tracer, plant):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.work = work
        self.tracer = tracer
        self.plant = plant

    def duckdb(self, data_dir, tables):
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        return con


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one served answer before the checks, "
                         "to show that the checks catch it")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "pithos_spark")):
        print("perfbench: no pithos_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import common

    cores = common.nproc()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    spark = None
    try:
        spark = common.start_spark(work, cores)
        mode = "group" if args.workload == "s3_api" else "window"
        tracer = common.Tracer(spark, enabled=bool(args.trace), mode=mode)
        ctx = Ctx(spark, args.seed, args.seconds, cores, work, tracer,
                  args.plant_wrong)
        module = __import__(args.workload)
        ticks = common.host_cpu_ticks()
        t_run = time.perf_counter()
        out = module.run(ctx)
        t_run = time.perf_counter() - t_run
        steal = common.steal_pct(ticks, common.host_cpu_ticks())
        tracer.harvest()
        import layers

        meta = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": cores, "spark_cores": cores,
            "loadavg": os.getloadavg(),
            "spark_version": spark.version,
            "python": platform.python_version(),
            "sizes": out["sizes"], "run_s": t_run,
            "host_steal_pct": steal,
        }
        report = {k: {"value": v, "n": n} for k, (v, n) in out["report"].items()}
        report["failed_frac"] = {"value": out["failed"] / out["attempted"],
                                 "n": out["attempted"]}
        if args.trace:
            per_layer = layers.compute(tracer, out)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {k: {"value": per_layer[k], "unit": units[k]}
                       for k in units}
            trace_path = os.path.join(
                ROOT, ".perfbench", "traces",
                f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            tracer.dump(trace_path)
            meta["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            e2e = dict(out["e2e"])
            e2e["peak_rss_mb"] = common.peak_rss_mb()
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps({"meta": meta, "report": report}))
        print(json.dumps({"correct": out["failed"] == 0,
                          "attempted": out["attempted"],
                          "failed": out["failed"], "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: do not leave it running
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
