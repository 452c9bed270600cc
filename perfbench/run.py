"""Benchmark of the RCO pipeline as sites run it.

    python3 perfbench/run.py --workload {daily_sites,site_backfill}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository.  Generates the
workload's inputs from ``--seed`` (untimed), then launches scheduled
runs, each in a fresh worker process as cron would (``worker.py``),
until ``--seconds`` have passed (at least one).  Every run's sink is
checked against a DuckDB computation over the generated input.  The
last line of standard output is one JSON object:

    {"correct": bool, "attempted": site-runs, "failed": site-runs,
     "metrics": {name: {"value": v, "unit": u}}}

``--trace 0`` reports the end-to-end metrics (medians over the runs);
``--trace 1`` makes one traced run and reports its per-layer metrics,
plus the tracing overhead against the untraced runs of the same seed or
workload (made here if no earlier invocation made one).  Everything is
written under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import EPOCH, describe, generate_site, slice_days, write_events  # noqa: E402
from workloads import (  # noqa: E402
    HISTORY_SEED, UPDATE_TIME_ISO, WORK_DIR, WORKLOADS, Workload, history_key, tiny,
)

ENGINE = "fhc_rco_etl_scalable_spark"
#: Every invocation ends within this many seconds, except the one that
#: builds the cached history, which may take BUILD_DEADLINE_S.
DEADLINE_S = 170.0
BUILD_DEADLINE_S = 870.0
MIB = 1024.0 * 1024.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_run_s": "s",
    "events_per_s": "1/s",
    "cpu_s": "s",
    "written_mb": "MiB",
    "table_files": "count",
}


class BenchError(Exception):
    pass


_T0 = time.time()


def _log(msg: str) -> None:
    print(f"[{time.time() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# --- inputs ------------------------------------------------------------------


def generate_inputs(w: Workload, seed: int, out: str, id_block: int,
                    start_day: int, end_day: int) -> tuple[dict[str, str], dict]:
    """Write each site's events for days [start_day, end_day) of the
    stream drawn from ``seed``; returns ({site: parquet path}, properties)."""
    shutil.rmtree(out, ignore_errors=True)
    paths, tables = {}, []
    for k, site in enumerate(w.sites):
        t = slice_days(generate_site(w.spec, seed, k, id_block), start_day, end_day)
        paths[site] = write_events(t, os.path.join(out, site))
        tables.append(t)
    props = describe(w.spec, tables)
    props.update(seed=seed, days=[start_day, end_day])
    with open(out + ".properties.json", "w") as f:
        json.dump(props, f, indent=1)
    return paths, props


# --- worker processes --------------------------------------------------------


def _stop_group(pgid: int) -> None:
    """Terminate what is left of a worker's process group (the JVM) and
    wait until every member has exited."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while time.time() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)
    raise BenchError(f"worker process group {pgid} did not exit")


def run_worker(work: str, tag: str, inputs: str, sink: str, watermark: str,
               deadline: float, trace: bool, then) -> dict:
    """Run one worker process; once it has written its result, call
    ``then(result)`` while its JVM winds down, then stop and reap the
    worker's whole process group."""
    rdir = os.path.join(work, "runs", tag)
    os.makedirs(rdir, exist_ok=True)
    result_path = os.path.join(rdir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--inputs", inputs, "--sink", sink, "--watermark", watermark,
           "--update-time", UPDATE_TIME_ISO, "--result", result_path]
    if trace:
        cmd += ["--trace-out", os.path.join(work, "trace", tag + ".json")]
        os.makedirs(os.path.join(work, "trace"), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               PYTHONUNBUFFERED="1", JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}")
    log_path = os.path.join(rdir, "worker.log")
    with open(log_path, "w") as log:
        cmd += ["--spawned-at", repr(time.time())]
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
    try:
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        if code != 0:
            with open(log_path) as f:
                tail = f.read()[-3000:]
            why = "timed out" if code is None else f"exited with {code}"
            raise BenchError(f"worker {tag} {why}; log tail:\n{tail}")
        result = _load(result_path)
        then(result)
        return result
    finally:
        _stop_group(proc.pid)
        proc.wait()


def _link_data_copy_rest(src: str, dst: str) -> None:
    # the sink never rewrites a parquet file in place (it only adds
    # snapshots), but it does rewrite sidecars such as _schema.json
    if src.endswith(".parquet"):
        os.link(src, dst)
    else:
        shutil.copy2(src, dst)


def fresh_sink(path: str, prior: str | None) -> str:
    """An empty sink, or a copy of ``prior`` whose data files are hard
    links."""
    shutil.rmtree(path, ignore_errors=True)
    if prior is None:
        os.makedirs(path)
    else:
        shutil.copytree(prior, path, copy_function=_link_data_copy_rest)
    return path


def ensure_history(w: Workload, work: str, deadline: float) -> tuple[str, bool]:
    """The sink state earlier scheduled runs left: the pipeline's output
    for days [0, history_days) of the history stream, built once per
    checkout, checked, and cached under ``.perfbench/cache``.  Returns
    (its sink root, whether this call built it)."""
    import check

    cache = os.path.join(work, "cache", f"history-{history_key(w)}")
    if os.path.exists(os.path.join(cache, "done.json")):
        return os.path.join(cache, "sink"), False
    tmp = cache + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    paths, _ = generate_inputs(w, HISTORY_SEED, os.path.join(tmp, "inputs"), 1, 0, w.history_days)
    sink = fresh_sink(os.path.join(tmp, "sink"), None)
    checked = {}
    res = run_worker(work, f"history-{w.name}", os.path.join(tmp, "inputs"), sink,
                     EPOCH.isoformat(), deadline, False,
                     then=lambda r: checked.update(zip(
                         ("failures", "tables"), check.check_sink(sink, paths, EPOCH, None))))
    failures, tables = checked["failures"], checked["tables"]
    bad = {s: v for s, v in res["log"].items() if v != "Success"}
    if bad or failures:
        raise BenchError(f"history build failed: {bad or failures}")
    with open(os.path.join(tmp, "done.json"), "w") as f:
        json.dump({"tables": tables}, f)
    shutil.rmtree(cache, ignore_errors=True)
    os.rename(tmp, cache)
    return os.path.join(cache, "sink"), True


# --- checks ------------------------------------------------------------------


def check_run(res: dict, sink: str, paths: dict[str, str], w: Workload,
              prior: str | None, ledger_key: str, work: str) -> set[str]:
    """Sites of one run that failed: a ``Failure`` in the run log, a
    table that differs from the oracle, or a digest that differs from
    the one recorded for this seed."""
    import check

    failed = {s for s, v in res["log"].items() if v != "Success"}
    failures, tables = check.check_sink(sink, paths, w.watermark, prior)
    for site, why in failures.items():
        print(f"check failed: {site}: {why}", file=sys.stderr)
        failed |= set(w.sites) if site == "*" else {site}
    for site, v in res["log"].items():
        if v != "Success":
            print(f"run log: {site}: {v}", file=sys.stderr)
    ledger_path = os.path.join(work, "digests.json")
    ledger = {}
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            ledger = json.load(f)
    if not failed:
        recorded = ledger.setdefault(ledger_key, tables)
        if recorded != tables:
            print(f"check failed: digests differ from the ones recorded for {ledger_key}",
                  file=sys.stderr)
            failed |= set(w.sites)
        with open(ledger_path + ".tmp", "w") as f:
            json.dump(ledger, f, indent=1)
        os.replace(ledger_path + ".tmp", ledger_path)
    res["tables"] = tables
    return failed


# --- main --------------------------------------------------------------------


def main(argv=None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke size (self-test): one or two lines per site, few events")
    args = ap.parse_args(argv)

    if not os.path.isdir(ENGINE):
        print(f"error: no {ENGINE}/ here; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    deadline = t_start + DEADLINE_S
    w = WORKLOADS[args.workload]
    if args.tiny:
        w = tiny(w)
    work = os.path.abspath(WORK_DIR)
    os.makedirs(work, exist_ok=True)

    try:
        prior = None
        if w.history_days:
            prior, built = ensure_history(w, work, t_start + BUILD_DEADLINE_S)
            if built:
                deadline = t_start + BUILD_DEADLINE_S
        tag = f"{w.name}-{args.seed}"
        # id block 1 is the history's, so a window drawn onto it uses 2
        paths, props = generate_inputs(w, args.seed, os.path.join(work, "inputs", tag),
                                       2 if prior else 0, w.window_start_day, w.spec.days)
        _log(f"inputs: {json.dumps(props)}")
        inputs = os.path.join(work, "inputs", tag)
        ledger_key = f"{w.name}:{args.seed}:{history_key(w) if prior else '-'}"

        # untraced: runs until --seconds have passed.  traced: one traced
        # run, compared with the untraced runs earlier invocations in this
        # checkout made of the same seed, else of the same workload; with
        # none, an untraced run is made here, before or after the traced
        # one by seed parity
        plain_dir = os.path.join(work, "untraced")
        plain_path = os.path.join(plain_dir, tag + ".json")
        plain_run_s = None
        if args.trace:
            mine = re.compile(re.escape(w.name) + r"-\d+\.json")
            earlier = [os.path.join(plain_dir, f) for f in sorted(os.listdir(plain_dir))
                       if mine.fullmatch(f)] if os.path.isdir(plain_dir) else []
            if plain_path in earlier:
                earlier = [plain_path]
            if earlier:
                plain_run_s = statistics.median(_load(p)["run_s"] for p in earlier)
                plan = [True]
            else:
                plan = [False, True] if args.seed % 2 == 0 else [True, False]
        else:
            plan = None
        results, failed_runs = [], 0
        t_measure = time.time()
        i = 0
        while True:
            traced = plan[i] if plan else False
            rtag = f"{tag}-{i}"
            sink = fresh_sink(os.path.join(work, "runs", rtag, "sink"), prior)
            _log(f"run {rtag} (traced={traced}) starts")
            failed: set[str] = set()
            res = run_worker(
                work, rtag, inputs, sink, w.watermark.isoformat(), deadline, traced,
                then=lambda r: failed.update(check_run(r, sink, paths, w, prior, ledger_key, work)),
            )
            _log(f"run {rtag}: setup {res['setup_s']:.2f}s, run {res['run_s']:.2f}s, "
                 f"{len(failed)} failed site-runs")
            res["traced"] = traced
            failed_runs += len(failed)
            results.append(res)
            if not traced:
                plain_run_s = plain_run_s or res["run_s"]
                if not failed:
                    os.makedirs(plain_dir, exist_ok=True)
                    with open(plain_path, "w") as f:
                        json.dump(res, f)
            i += 1
            if plan is not None:
                if i == len(plan):
                    break
            elif time.time() - t_measure >= args.seconds:
                break
    except BenchError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1

    attempted = len(w.sites) * len(results)
    if args.trace:
        traced_res = next(r for r in results if r["traced"])
        metrics = dict(traced_res["layers"])
        metrics["trace.overhead_s"] = traced_res["run_s"] - plain_run_s
        values = {k: (v, _layer_unit(k)) for k, v in metrics.items()}
    else:
        med = lambda f: statistics.median(f(r) for r in results)  # noqa: E731
        values = {
            "setup_s": med(lambda r: r["setup_s"]),
            "cold_run_s": med(lambda r: r["run_s"]),
            "events_per_s": med(lambda r: props["events"] / r["run_s"]),
            "cpu_s": med(lambda r: r["cpu_s"]),
            "written_mb": med(lambda r: r["written"]["bytes"] / MIB),
            "table_files": med(lambda r: r["table_files"]),
        }
        values = {k: (v, END_TO_END_UNITS[k]) for k, v in values.items()}
    out = {
        "correct": failed_runs == 0,
        "attempted": attempted,
        "failed": failed_runs,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()},
    }
    print(json.dumps(out))
    return 0


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _layer_unit(name: str) -> str:
    suffix = name.rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MiB"}.get(suffix, "ratio" if name.endswith(("ratio", "amplification"))
                                       else "count")


if __name__ == "__main__":
    sys.exit(main())
