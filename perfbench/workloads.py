"""Workload definitions: sizes, input layout and the rationale that
``BENCHMARK.json`` records.

Importing this module needs neither Spark nor a JVM: the coordinator
(``run.py``) uses it to generate inputs, the worker (``worker.py``) to
find them.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass, replace
from datetime import timedelta

from gen import EPOCH, Spec, site_name


@dataclass(frozen=True)
class Workload:
    name: str
    spec: Spec
    #: first day (from EPOCH) of the re-extracted window the run loads
    window_start_day: int
    #: days of prior output the sink holds before the run (0 = empty sink)
    history_days: int

    @property
    def watermark(self):
        """Analysis-window start: the delete-overlap cutoff anchor."""
        return EPOCH + timedelta(days=self.window_start_day)

    @property
    def sites(self) -> list[str]:
        return [site_name(k) for k in range(self.spec.sites)]


WORKLOADS: dict[str, Workload] = {
    # The scheduled cron run: every site re-extracts a 3-day lookback
    # and loads it into tables that already hold the prior 28 days
    # (the first window day overlaps the history, as late edits do).
    "daily_sites": Workload(
        name="daily_sites",
        spec=Spec(sites=2, lines_per_site=4, events_per_line_day=70, days=30),
        window_start_day=27,
        history_days=28,
    ),
    # A one-site first load: months of events into an empty sink.
    "site_backfill": Workload(
        name="site_backfill",
        spec=Spec(sites=1, lines_per_site=16, events_per_line_day=70, days=60),
        window_start_day=0,
        history_days=0,
    ),
}

#: The sink history of ``daily_sites`` is the same for every seed (it
#: is the state earlier scheduled runs left behind), so it is built once
#: per checkout and cached; the re-extracted window comes from --seed.
HISTORY_SEED = 20240101
#: Fixed ``data_update_time`` so Script_Data is deterministic.
UPDATE_TIME_ISO = "2026-01-01T00:00:00"

#: Generated files and sinks live here, relative to the checkout root.
WORK_DIR = ".perfbench"


def history_key(w: Workload) -> str:
    """Cache key of a workload's history sink: its spec, the history
    seed and the generator source, so a generator change rebuilds it."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "gen.py"), "rb") as f:
        gen_src = f.read()
    blob = json.dumps([asdict(w.spec), w.history_days, HISTORY_SEED]).encode() + gen_src
    return hashlib.sha256(blob).hexdigest()[:16]


def tiny(w: Workload) -> Workload:
    """Smoke-size copy of a workload (self-test): same shape, few events."""
    spec = replace(w.spec, lines_per_site=2, events_per_line_day=24)
    return replace(w, name=w.name + "-tiny", spec=spec)
