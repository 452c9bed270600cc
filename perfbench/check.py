"""Output check: every committed table against a DuckDB computation
over the generated input.

For each site, the expected content of each table is the state the
reference's load semantics leave behind: the prior state (empty for a
first load) with the batch's overlap deleted, plus the batch, where the
batch is the table computed by the harness oracle SQL of
``plans/harness_queries.py`` over that site's generated events.
Columns both the oracle and the table hold are compared (the stored
schema keeps a subset of some harness surfaces); floats within
``FLOAT_TOL``.  Row counts and an order-insensitive digest of
every table are returned for the digest ledger.
"""

from __future__ import annotations

import hashlib
import os
import re
from datetime import datetime, timedelta

import duckdb
import pandas as pd

import sinkfs

#: table -> harness oracle query name (plans.harness_queries.ORACLES)
ORACLE_FOR = {
    "CO_Aggregated_Data": "co_aggregated_harness",
    "CO_Event_Log": "co_event_log_harness",
    "First_Stop_after_CO_Data": "first_stop_harness",
    "Runtime_per_Day_data": "runtime_per_day_harness",
    "Script_Data": "script_data_harness",
    "BRANDCODE_data": "brandcode_harness",
    "Gantt_Data": "gantt_harness",
    "Event_Log_for_Gantt": "event_log_for_gantt_harness",
}

#: The reference's load semantics (ref/RCO_Overall_orchestrator.R):
#: delete-overlap tables: (time column, pad seconds, line column) — per
#: line present in the batch, rows at or after window start - pad are
#: replaced (Date tables: from the batch's first day); merge/upsert
#: tables: (key columns) — batch rows replace rows with the same key.
DELETE_OVERLAP = {
    "CO_Aggregated_Data": ("CO_StartTime", 10.0, "LINE"),
    "CO_Event_Log": ("START_TIME", 10.0, "LINE"),
    "First_Stop_after_CO_Data": ("CO_EndTime", 10.0, "LINE"),
    "Gantt_Data": ("StartTime", 1200.0, "Line"),
    "Event_Log_for_Gantt": ("START_TIME", 1200.0, "Line"),
    "Runtime_per_Day_data": ("Date", 0.0, "LINE"),
}
KEYED = {
    "BRANDCODE_data": ("BRANDCODE",),
    "Script_Data": ("System",),
}

#: The harness entries present some tables rounded (their oracles match
#: that surface); the sink keeps the raw value, rounded here the same way.
ROUNDED = {"Runtime_per_Day_data": {"Runtime": 2}}

#: Absolute tolerance on float cells (the pipeline rounds at the sink).
FLOAT_TOL = 1e-9


def read_table(root: str, table: str) -> pd.DataFrame | None:
    snap = sinkfs.snapshot_dir(root, table)
    if snap is None:
        return None
    with duckdb.connect() as con:
        return con.execute(
            "SELECT * FROM read_parquet(?, hive_partitioning = true, "
            "hive_types_autocast = false, union_by_name = true)",
            [os.path.join(snap, "**", "*.parquet")],
        ).df()


def _materialized(sql: str) -> str:
    """The same query with every CTE marked MATERIALIZED: the oracles
    reference their CTE chains many times, and DuckDB would otherwise
    re-evaluate a chain per reference (Gantt: ~90 s instead of <1 s at
    70k events)."""
    return re.sub(r"(?m)^(WITH )?(\w+) AS \($", r"\1\2 AS MATERIALIZED (", sql)


def oracle_tables(events_path: str, site: str, oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    out = {}
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        for table, name in ORACLE_FOR.items():
            df = con.execute(_materialized(oracles[name])).df()
            if "Server" in df.columns:
                df["Server"] = site
            out[table] = df
    return out


_NULL = "\x00"


def _canon(s: pd.Series) -> pd.Series:
    """Canonical strings of one column, the same for equal values
    whatever dtype each engine chose (timestamps as epoch microseconds)."""
    if pd.api.types.is_datetime64_any_dtype(s):
        out = s.dt.tz_localize(None) if s.dt.tz is not None else s
        out = out.astype("datetime64[us]").astype("int64").astype(str)
    elif pd.api.types.is_float_dtype(s):
        out = s.astype(str)
    elif s.dtype == object and s.map(lambda v: isinstance(v, datetime)).any():
        return _canon(pd.to_datetime(s))
    else:
        out = s.astype(str)
    return out.where(s.notna(), _NULL)


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive content hash of a table (columns by name)."""
    cols = sorted(df.columns)
    h = hashlib.sha256("\x1e".join(cols).encode())
    if len(df):
        rows = _canon(df[cols[0]])
        for c in cols[1:]:
            rows = rows + "\x1f" + _canon(df[c])
        h.update("\x1e".join(sorted(rows)).encode())
    return h.hexdigest()


def _normalise(df: pd.DataFrame, cols: list[str]) -> tuple[pd.DataFrame, list[str]]:
    """Projection on ``cols`` with non-float cells as canonical strings
    and float cells as float (NaN for NULL); returns the float columns."""
    out, floats = {}, []
    for c in cols:
        s = df[c].reset_index(drop=True)
        if c == "Date":
            out[c] = pd.to_datetime(s).dt.strftime("%Y-%m-%d")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype(float)
            floats.append(c)
        else:
            out[c] = _canon(s)
    return pd.DataFrame(out, columns=cols), floats


def compare(expected: pd.DataFrame, actual: pd.DataFrame, rounded: dict | None = None) -> str | None:
    """None if ``actual`` holds exactly the rows of ``expected`` on the
    expected columns (order-insensitive), else a short reason."""
    if len(expected) != len(actual):
        return f"{len(actual)} rows, expected {len(expected)}"
    actual = actual.copy()
    by_lower = {c.lower(): c for c in actual.columns}
    cols = [c for c in expected.columns if c.lower() in by_lower]
    act = actual.rename(columns={by_lower[c.lower()]: c for c in cols})
    e, floats = _normalise(expected, cols)
    a, _ = _normalise(act, cols)
    for c in floats:
        a[c] = pd.to_numeric(a[c], errors="coerce") if a[c].dtype == object else a[c].astype(float)
        if c in (rounded or {}):
            a[c], e[c] = a[c].round(rounded[c]), e[c].round(rounded[c])
    keys = [c for c in e.columns if c not in floats]
    order = keys + floats
    e = e.sort_values(order, na_position="first", kind="mergesort").reset_index(drop=True)
    a = a.sort_values(order, na_position="first", kind="mergesort").reset_index(drop=True)
    for c in keys:
        bad = (e[c] != a[c]).to_numpy().nonzero()[0]
        if bad.size:
            i = bad[0]
            return f"column {c}: {a[c][i]!r} != expected {e[c][i]!r} ({bad.size} rows)"
    for c in floats:
        x, y = e[c].to_numpy(), a[c].to_numpy()
        both_nan = pd.isna(x) & pd.isna(y)
        diff = ~both_nan & ~(abs(x - y) <= FLOAT_TOL)
        if diff.any():
            i = diff.nonzero()[0][0]
            return f"column {c}: {y[i]!r} != expected {x[i]!r} ({int(diff.sum())} rows)"
    return None


def expected_state(table: str, prior: pd.DataFrame | None, batch: pd.DataFrame,
                   watermark: datetime) -> pd.DataFrame:
    """Prior rows that survive the load of ``batch``, plus the batch."""
    if prior is None or prior.empty:
        return batch
    by_lower = {c.lower(): c for c in prior.columns}
    prior = prior.rename(columns={by_lower[c.lower()]: c for c in batch.columns
                                  if c.lower() in by_lower})
    if table in KEYED:
        keys = list(KEYED[table]) + ["Server"]
        hit = prior.set_index(keys).index.isin(batch.set_index(keys).index)
        survivors = prior[~hit]
    else:
        ts_col, pad, line_col = DELETE_OVERLAP[table]
        line_col = next(c for c in batch.columns if c.lower() == line_col.lower())
        touched = prior[line_col].isin(set(batch[line_col]))
        if ts_col == "Date":
            if batch.empty:
                return prior[batch.columns]
            first = pd.to_datetime(batch["Date"]).min()
            late = pd.to_datetime(prior["Date"]) >= first
        else:
            ts = next(c for c in prior.columns if c.lower() == ts_col.lower())
            late = pd.to_datetime(prior[ts]) >= pd.Timestamp(watermark - timedelta(seconds=pad))
        survivors = prior[~(touched & late.fillna(False))]
    return pd.concat([survivors[batch.columns], batch], ignore_index=True)


def check_sink(root: str, sites: dict[str, str], watermark: datetime,
               prior_root: str | None) -> tuple[dict[str, str], dict[str, list]]:
    """Check every table of sink ``root`` after loading ``sites``
    (site -> its events parquet) onto ``prior_root`` (None = empty).
    Returns ({site: failure reason} for failing sites, {table: [rows,
    digest]})."""
    from fhc_rco_etl_scalable_spark.plans.harness_queries import ORACLES

    failures: dict[str, str] = {}
    tables: dict[str, list] = {}
    actual = {t: read_table(root, t) for t in ORACLE_FOR}
    prior = {t: read_table(prior_root, t) if prior_root else None for t in ORACLE_FOR}
    for t, df in actual.items():
        if df is None:
            failures["*"] = f"{t}: table missing"
            continue
        tables[t] = [len(df), digest(df)]
    for site, events in sorted(sites.items()):
        batch = oracle_tables(events, site, ORACLES)
        for t, exp_batch in batch.items():
            if actual[t] is None:
                continue
            stored = {c.lower() for c in actual[t].columns}
            exp_batch = exp_batch[[c for c in exp_batch.columns if c.lower() in stored]]
            p = prior[t]
            mine = actual[t][actual[t]["Server"] == site]
            p_mine = None if p is None else p[p["Server"] == site]
            why = compare(expected_state(t, p_mine, exp_batch, watermark), mine, ROUNDED.get(t))
            if why:
                failures.setdefault(site, f"{t}: {why}")
    # rows of sites this load did not touch must be the prior rows
    for t, df in actual.items():
        if df is None:
            continue
        others = df[~df["Server"].isin(list(sites))]
        p = prior[t]
        p_others = p[~p["Server"].isin(list(sites))] if p is not None else others.iloc[0:0]
        if len(others) or len(p_others):
            why = compare(p_others[others.columns], others)
            if why:
                failures.setdefault("*", f"{t} (untouched sites): {why}")
    return failures, tables
