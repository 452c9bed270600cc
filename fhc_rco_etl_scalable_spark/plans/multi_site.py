"""Multi-site orchestration (reference E1: App/rco_main.py:70-118).

The reference iterates sites sequentially, collecting a per-site
Success/Failure dict into a JSON run log (S13). Sites are independent
— here each site's lazy DAG is submitted from its own driver thread
(Spark schedules the jobs concurrently across the shared executors;
FAIR scheduling recommended on a busy cluster), and the run log is the
same status mapping, plus the error detail the reference discards.

A failure in one site never aborts the others (reference semantics:
try/except per site, App/rco_main.py:112-117).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rco_pipeline import SiteParams
from .site_etl import site_etl


@dataclass
class SiteRun:
    site: SiteParams
    downtime: DataFrame
    production: DataFrame | None = None
    line_config: DataFrame | None = None


def run_all_sites(
    runs: list[SiteRun],
    load: Callable[[str, dict[str, DataFrame]], None],
    max_parallel_sites: int = 4,
    data_update_time: datetime | None = None,
) -> dict[str, Any]:
    """Execute every site's ETL and hand its outputs to ``load`` (the
    side-effecting sink stage). Returns the run log:
    ``{server: 'Success' | {'Failure': <error>}}``.
    """

    def one(run: SiteRun) -> tuple[str, Any]:
        try:
            outs = site_etl(
                run.downtime,
                run.production,
                run.site,
                line_config=run.line_config,
                data_update_time=data_update_time,
            )
            load(run.site.server, outs)
            return run.site.server, "Success"
        except Exception as e:  # per-site isolation (reference :112-117)
            return run.site.server, {"Failure": f"{type(e).__name__}: {e}"}

    with ThreadPoolExecutor(max_workers=max_parallel_sites) as pool:
        return dict(pool.map(one, runs))


# ---------------------------------------------------------------------------
# Standard persistence stage: the reference orchestrator's per-table
# load semantics (ref/RCO_Overall_orchestrator.R:304-394 delete+append
# with -10 s pad, :362 Gantt (15+5) min pad, :556-585 BRANDCODE merge,
# :236-282/:502-546 Script_Data upsert), expressed over the
# partition-scoped parquet sink. ``run_all_sites(runs,
# incremental_site_loader(sink, watermark))`` is the whole E1 lifecycle.
# ---------------------------------------------------------------------------

# table -> (mode, time column | merge keys, delete-scope keys, pad seconds)
_LOAD_SPECS: dict[str, tuple] = {
    "CO_Aggregated_Data": ("delete_overlap", "CO_StartTime", ("LINE", "Server"), 10.0),
    "CO_Event_Log": ("delete_overlap", "START_TIME", ("LINE", "Server"), 10.0),
    "First_Stop_after_CO_Data": ("delete_overlap", "CO_EndTime", ("LINE", "Server"), 10.0),
    "Gantt_Data": ("delete_overlap", "StartTime", ("Line", "Server"), 1200.0),
    "Event_Log_for_Gantt": ("delete_overlap", "START_TIME", ("Line", "Server"), 1200.0),
    "Runtime_per_Day_data": ("delete_overlap", "Date", ("LINE", "Server"), 0.0),
    # Date-grained like Runtime_per_Day (whole days recompute; the
    # batch's min Date floors the cutoff). Its schema is per-site
    # config (category columns), so the loader resolves it from the
    # batch via schemas.dynamic_output_schema. A changed category list
    # reshapes the table on the next load: align_to_schema pads new
    # categories' history with NULL and DROPS removed ones' columns
    # from survivors — keep the list stable per table, or version it.
    "Daily_Cause_Summary": ("delete_overlap", "Date", ("LINE", "Server"), 0.0),
    "BRANDCODE_data": ("merge", ("BRANDCODE", "Server"), None, None),
    "Script_Data": ("upsert", ("System", "Server"), None, None),
}


def incremental_site_loader(
    sink, watermark: datetime
) -> Callable[[str, dict[str, DataFrame]], None]:
    """Build the ``load`` callback for :func:`run_all_sites`: every
    output table lands with the reference's incremental semantics over
    a :class:`~..sinks.incremental.ParquetIncrementalSink`. ``watermark``
    is the analysis-window start (the delete cutoff anchor) — at scale
    derived per run via ``sinks.incremental.lookback_start``."""
    import threading

    from ..schemas import OUTPUT_SCHEMAS, dynamic_output_schema

    # Every sink write is read-modify-commit through the sink's one
    # commit path: it reads the current snapshot, writes the next one
    # and flips the version pointer. Two sites loading the same table
    # would both build on the same snapshot; the second pointer flip
    # then fails as a concurrent commit. So loads are serialized — but
    # each output is MATERIALIZED (localCheckpoint) before the lock is
    # taken, so the site's heavy compute runs with full cluster
    # parallelism outside the critical section and the sink's actions
    # per table (key collect + write) read the checkpointed result
    # instead of re-running the site DAG each time. (Delta/Iceberg
    # replace this lock with optimistic transactional commits.)
    lock = threading.Lock()

    def load(server: str, outputs: dict[str, DataFrame]) -> None:
        unknown = set(outputs) - set(_LOAD_SPECS)
        if unknown:
            # a renamed/new output silently not persisted would be data
            # loss with a green run log — fail the site instead
            raise ValueError(f"no load spec for output table(s): {sorted(unknown)}")
        materialized = {
            name: df.localCheckpoint(eager=True) for name, df in outputs.items()
        }
        with lock:
            _load_unlocked(server, materialized)

    def _load_unlocked(server: str, outputs: dict[str, DataFrame]) -> None:
        for name, df in outputs.items():
            spec = _LOAD_SPECS[name]
            schema = OUTPUT_SCHEMAS.get(name) or dynamic_output_schema(name, df)
            mode, arg, scope, pad = spec
            if mode == "delete_overlap":
                wm = watermark
                if isinstance(schema[arg].dataType, T.DateType):
                    # Date-grained tables delete whole DAYS. The batch
                    # is the POST-elimination rollup (first-day already
                    # dropped), so its min Date is precisely the first
                    # day this batch re-adds — delete from there.
                    # Anchoring on the watermark instead deletes the
                    # watermark-day row the batch can never re-add when
                    # extraction starts ON the watermark day (the
                    # reference avoids that only by convention:
                    # extraction starts at watermark-day minus 1,
                    # R:172-175). A line with no events in part of the
                    # deleted range simply has no rows there to re-add —
                    # matching the recomputation, not stale history.
                    first = df.agg(F.min(arg).alias("m")).first().m
                    if first is None:
                        continue  # empty batch: nothing to delete/add
                    wm = datetime.combine(first, datetime.min.time())
                sink.delete_overlap_append(
                    df, name, schema, ts_col=arg, watermark=wm,
                    partition_cols=scope, pad_seconds=pad,
                )
            elif mode == "merge":
                sink.merge_dedup_overwrite(df, name, schema, key=arg)
            else:
                sink.upsert_script_data(df, name, schema, keys=arg)

    return load
