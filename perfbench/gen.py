"""Seeded input generator for the RCO pipeline benchmark.

Writes downtime events in the harness ``events`` shape (``event_id``,
``ts``, ``user_id``, ``event_type``, ``value``, ``props``), one parquet
file per site, so that the engine reads them through its own source
layer (``sources.parquet.load_table`` + ``downtime_log_from_events``)
and the DuckDB oracle CTEs of ``plans/harness_queries.py`` apply
unchanged.  ``user_id`` plays LINE, ``event_type == 'signup'`` is a
changeover, ``event_id % 4 == 0`` marks the line's constraint machine.

Each line is a renewal process: gaps between stops are log-normal,
with the mean that ``events_per_line_day`` implies.  A share of the constraint-machine stops is
a changeover *burst*: ``co_burst`` consecutive ``signup`` events a few
minutes apart (inside the session threshold ``P``), so that sessions
hold several events, as the reference's changeovers do.

The same (spec, seed) always gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Session threshold P of ``SiteParams.co_trigger_parameter`` (minutes).
P_MINUTES = 30.0
#: Day 0 of every generated stream (a Monday, 00:00 UTC).
EPOCH = datetime(2024, 1, 1)

_TYPES = np.array(["error", "view", "purchase", "click"])
_TYPE_P = np.array([0.3, 0.25, 0.25, 0.2])


@dataclass(frozen=True)
class Spec:
    """The input properties the pipeline's behaviour depends on."""

    sites: int
    lines_per_site: int
    events_per_line_day: float
    days: int
    #: share of events that are changeover (``signup``) events
    changeover_share: float = 0.08
    #: events per changeover burst (all on the constraint machine)
    co_burst: int = 3
    #: log-normal sigma of the gaps between a line's ordinary stops
    gap_sigma: float = 1.0
    #: median gap between events inside a changeover burst, minutes
    burst_gap_min: float = 6.0


def site_name(k: int) -> str:
    return f"SITE{k:02d}"


def _line_events(rng: np.random.Generator, spec: Spec, horizon_min: float):
    """One line's stops: (minute offsets, is_changeover) sorted by time."""
    n_expected = spec.events_per_line_day * horizon_min / 1440.0
    n_bursts = rng.poisson(n_expected * spec.changeover_share / spec.co_burst)
    # ordinary stops: log-normal renewal process over the whole horizon,
    # its mean gap set by the density of non-changeover stops
    mean_gap = 1440.0 / (spec.events_per_line_day * (1 - spec.changeover_share))
    mu = np.log(mean_gap) - spec.gap_sigma**2 / 2
    t = np.zeros(0)
    while t.size == 0 or t[-1] < horizon_min:
        gaps = rng.lognormal(mu, spec.gap_sigma, size=int(n_expected) + 64)
        t = np.concatenate([t, (t[-1] if t.size else 0.0) + np.cumsum(gaps)])
    t = t[t < horizon_min]
    # changeover bursts: uniform starts, short in-burst gaps
    starts = np.sort(rng.uniform(0, horizon_min, size=n_bursts))
    inner = rng.lognormal(np.log(spec.burst_gap_min), 0.4, size=(n_bursts, spec.co_burst))
    inner[:, 0] = 0.0
    bt = (starts[:, None] + np.cumsum(inner, axis=1)).ravel()
    bt = bt[bt < horizon_min]
    minutes = np.concatenate([t, bt])
    is_co = np.concatenate([np.zeros(t.size, bool), np.ones(bt.size, bool)])
    order = np.argsort(minutes, kind="stable")
    return minutes[order], is_co[order]


def generate_site(spec: Spec, seed: int, site: int, id_block: int = 0) -> pa.Table:
    """Events of one site over ``spec.days`` days.  Event ids are
    ``4 * seq + machine`` inside a block owned by (site, id_block), so
    streams generated for the same site with different blocks never
    share a ``downtime_id``."""
    rng = np.random.default_rng([seed, site])
    horizon = spec.days * 1440.0
    cols: dict[str, list] = {k: [] for k in ("minute", "line", "is_co")}
    for ln in range(spec.lines_per_site):
        m, co = _line_events(rng, spec, horizon)
        cols["minute"].append(m)
        cols["line"].append(np.full(m.size, site * 1000 + ln, np.int64))
        cols["is_co"].append(co)
    minute = np.concatenate(cols["minute"])
    line = np.concatenate(cols["line"])
    is_co = np.concatenate(cols["is_co"])
    order = np.lexsort((line, minute))  # global time order, as a log is
    minute, line, is_co = minute[order], line[order], is_co[order]
    n = minute.size
    # machine slot: changeovers happen on the constraint machine (id % 4
    # == 0); other stops land on any of the line's four machines.
    slot = np.where(is_co, 0, rng.integers(0, 4, size=n))
    # downtime_id is the event id left-padded to 12 digits, so ids stay
    # below 10**12: site * 10**10 + id_block * 10**9 + 4 * seq + slot
    if site >= 100 or id_block >= 10 or 4 * n >= 10**9:
        raise ValueError("event ids would not fit in 12 digits")
    base = np.int64(site) * 10**10 + np.int64(id_block) * 10**9
    event_id = base + 4 * np.arange(n, dtype=np.int64) + slot
    etype = np.where(is_co, "signup", _TYPES[rng.choice(4, size=n, p=_TYPE_P)])
    # value -> DOWNTIME = trunc(value * 5) / 100 minutes; log-normal
    # around 2 min, capped like the harness fixture (max ~490).
    value = np.round(np.clip(rng.lognormal(np.log(40.0), 0.9, size=n), 0.01, 490.0), 2)
    value = np.where(is_co, np.round(rng.uniform(100, 400, size=n), 2), value)
    ts_us = (
        int((EPOCH - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
        + np.floor(minute * 60e6).astype(np.int64)
    )
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}"
    )
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(line, pa.int64()),
            "event_type": pa.array(etype.astype(str), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props.astype(str), pa.string()),
        }
    )


def slice_days(t: pa.Table, start_day: float, end_day: float) -> pa.Table:
    """Rows with ``EPOCH + start_day <= ts < EPOCH + end_day``."""
    import pyarrow.compute as pc

    lo = pa.scalar(EPOCH + timedelta(days=start_day), pa.timestamp("us"))
    hi = pa.scalar(EPOCH + timedelta(days=end_day), pa.timestamp("us"))
    return t.filter(pc.and_(pc.greater_equal(t["ts"], lo), pc.less(t["ts"], hi)))


def write_events(t: pa.Table, directory: str) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "events.parquet")
    pq.write_table(t, path, compression="snappy")
    return path


def describe(spec: Spec, tables: list[pa.Table]) -> dict:
    """The recorded input properties: the spec plus what was drawn."""
    n = sum(t.num_rows for t in tables)
    gaps, co = [], 0
    for t in tables:
        df = t.select(["user_id", "ts"]).to_pandas()
        df = df.sort_values(["user_id", "ts"])
        g = df.groupby("user_id")["ts"].diff().dropna().dt.total_seconds() / 60.0
        gaps.append(g.to_numpy())
        co += int((t["event_type"].to_numpy(zero_copy_only=False) == "signup").sum())
    g = np.concatenate(gaps) if gaps else np.zeros(0)
    out = asdict(spec)
    out.update(
        events=n,
        P_minutes=P_MINUTES,
        changeover_events=co,
        gap_min_p10_p50_p90=[round(float(x), 3) for x in np.percentile(g, [10, 50, 90])]
        if g.size
        else [],
        gap_below_P_share=round(float((g < P_MINUTES).mean()), 4) if g.size else 0.0,
    )
    return out


def fingerprint(paths: list[str]) -> str:
    """Content hash of the generated files (for the same-seed self-test)."""
    import hashlib

    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()

