"""One scheduled pipeline run in a fresh process, as cron launches it.

    python3 perfbench/worker.py --inputs DIR --sink DIR --watermark ISO
        --result FILE --spawned-at EPOCH_S [--trace-out FILE]

Starts the engine's SparkSession (``session.get_spark``), warms it with
one trivial job, then times ``run_all_sites(runs,
incremental_site_loader(ParquetIncrementalSink(sink), watermark))`` over
the ``<inputs>/<SITE>/events.parquet`` files.  Writes a JSON result:
set-up time, run wall time, process-tree CPU, peak RSS, what the sink
wrote, the run log, and, with ``--trace-out``, the per-layer metrics of
a traced run (spans go to that file).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import sinkfs  # noqa: E402


def _sites(inputs: str) -> list[str]:
    return sorted(s for s in os.listdir(inputs) if os.path.isdir(os.path.join(inputs, s)))


def _site_runs(spark, inputs: str) -> list:
    """One ``SiteRun`` per site directory: the harness event stream
    mapped onto the downtime log, with the line config and production
    log derived from it exactly as the ``site_etl_full`` entry does."""
    from fhc_rco_etl_scalable_spark.plans.harness_queries import downtime_log_from_events
    from fhc_rco_etl_scalable_spark.plans.multi_site import SiteRun
    from fhc_rco_etl_scalable_spark.plans.rco_pipeline import SiteParams
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    runs = []
    for site in _sites(inputs):
        downtime = downtime_log_from_events(load_table(spark, "events", os.path.join(inputs, site)))
        line_config = downtime.select("LINE").distinct().select(
            F.col("LINE").alias("MDC_Line_Name"),
            F.lit("CM").alias("Constraint_Machine_String"),
        )
        production = downtime.filter(F.col("BRANDCODE").isNotNull()).select(
            "BRANDCODE",
            F.concat(F.lit("Product "), F.col("BRANDCODE")).alias("ProdDesc"),
            F.substring("BRANDCODE", 1, 2).alias("ProdFam"),
            F.lit("G1").alias("ProdGroup"),
            (F.pmod(F.length("OPERATOR_COMMENT"), F.lit(24)) + 1).alias("FirstPackCount"),
            F.col("DOWNTIME").alias("StatFactor"),
        )
        runs.append(SiteRun(SiteParams(server=site), downtime, production=production,
                            line_config=line_config))
    return runs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--sink", required=True)
    ap.add_argument("--watermark", required=True)
    ap.add_argument("--update-time", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args(argv)

    # --- set-up: imports, session, one warm job ---------------------------
    sys.path.insert(0, os.getcwd())
    # the run's modules are imported here, so their import is set-up time
    import fhc_rco_etl_scalable_spark.plans.harness_queries  # noqa: F401
    from fhc_rco_etl_scalable_spark.plans import multi_site
    from fhc_rco_etl_scalable_spark.plans.multi_site import incremental_site_loader, run_all_sites
    from fhc_rco_etl_scalable_spark.session import get_spark
    from fhc_rco_etl_scalable_spark.sinks.incremental import ParquetIncrementalSink

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 16).selectExpr("sum(id % 7)").collect()
    setup_s = time.time() - args.spawned_at

    tracer = None
    if args.trace_out:
        from tracing import Tracer

        tracer = Tracer(spark, run_id=f"run{os.getpid()}")
        tracer.install(multi_site, ParquetIncrementalSink)

    input_bytes = sum(
        os.path.getsize(os.path.join(args.inputs, s, "events.parquet"))
        for s in _sites(args.inputs)
    )
    before = sinkfs.inodes(args.sink)
    watermark = datetime.fromisoformat(args.watermark)
    update_time = datetime.fromisoformat(args.update_time)

    # --- the timed run: input on disk -> every site's outputs committed ---
    cpu0 = procstat.tree_cpu_s()
    t0 = time.perf_counter()
    sink = ParquetIncrementalSink(spark, args.sink)
    runs = _site_runs(spark, args.inputs)
    load = incremental_site_loader(sink, watermark)
    if tracer is not None:
        load = tracer.wrap_load(load)
        with tracer.span("run") as root:
            tracer.root_id = root["id"]  # parent of the site threads' spans
            log = run_all_sites(runs, load, data_update_time=update_time)
    else:
        log = run_all_sites(runs, load, data_update_time=update_time)
    run_s = time.perf_counter() - t0
    cpu_s = procstat.tree_cpu_s() - cpu0

    written = sinkfs.written_since(args.sink, before)
    result = {
        "setup_s": setup_s,
        "run_s": run_s,
        "cpu_s": cpu_s,
        "peak_rss_mb": procstat.driver_peak_rss_mb(),
        "written": written,
        "table_files": sinkfs.current_files(args.sink),
        "log": log,
    }
    if tracer is not None:
        from tracing import layer_metrics

        tracer.uninstall()
        # JVM since launch: JIT compiler and garbage collector time
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        jit_s = mx.getCompilationMXBean().getTotalCompilationTime() / 1e3
        gc_s = sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()) / 1e3
        jobs, stages = tracer.status_store()
        layers, batch_rows = layer_metrics(tracer, jobs, stages, input_bytes)
        layers.update({
            "session.start_s": setup_s,
            "session.jit_s": jit_s,
            "session.gc_s": gc_s,
            "session.peak_rss_mb": result["peak_rss_mb"],
            "sinks.files_written": float(written["files"]),
            "sinks.partitions_touched": float(written["partitions"]),
            "sinks.write_amplification": written["rows"] / batch_rows if batch_rows else 0.0,
        })
        result["layers"] = layers
        tracer.dump(args.trace_out, {"layers": layers, "run_s": run_s, "log": log})

    with open(args.result, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
