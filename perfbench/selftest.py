"""Self-tests of the benchmark (not of the engine).

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes (tiny inputs, but
every run starts a JVM).  Checks that:

1. the same seed gives byte-identical generated input, another seed not;
2. a tiny-size run of each workload passes the output check, untraced
   and traced, and prints exactly the metric names (and units) that
   ``BENCHMARK.json`` lists;
3. the output check rejects a sink with one altered row;
4. loading the same window again onto a loaded sink leaves every table
   identical (delete-overlap makes re-runs idempotent).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORK_DIR, WORKLOADS, tiny  # noqa: E402

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def bench(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny"],
        capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        print(out.stderr[-3000:], file=sys.stderr)
        return {}
    return json.loads(lines[-1])


def test_generator_is_seeded(tmp: str) -> None:
    for w in WORKLOADS.values():
        spec = tiny(w).spec
        fps = []
        for i, seed in enumerate((7, 7, 8)):
            paths = [gen.write_events(gen.generate_site(spec, seed, k),
                                      os.path.join(tmp, f"{w.name}-{i}", str(k)))
                     for k in range(spec.sites)]
            fps.append(gen.fingerprint(paths))
        expect(fps[0] == fps[1], f"{w.name}: same seed, same input")
        expect(fps[0] != fps[2], f"{w.name}: another seed, another input")


def test_runs_and_metric_names() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for name in WORKLOADS:
        for trace in (0, 1):
            r = bench(name, 5, trace)
            expect(bool(r) and r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{name} tiny, trace {trace}: runs and passes the output check")
            got = {k: v["unit"] for k, v in r.get("metrics", {}).items()}
            expect(got == want[trace], f"{name} tiny, trace {trace}: metric names and units "
                                       f"match BENCHMARK.json {sorted(set(got) ^ set(want[trace]))}")


def test_check_rejects_altered_row(tmp: str) -> None:
    import check
    import pyarrow as pa
    import pyarrow.parquet as pq
    import sinkfs

    w = tiny(WORKLOADS["site_backfill"])
    run = os.path.join(WORK_DIR, "runs", f"{w.name}-5-0")
    sink = os.path.join(tmp, "altered")
    shutil.copytree(os.path.join(run, "sink"), sink)  # real copies: altered below
    inputs = os.path.join(WORK_DIR, "inputs", f"{w.name}-5")
    paths = {s: os.path.join(inputs, s, "events.parquet") for s in w.sites}
    failures, _ = check.check_sink(sink, paths, w.watermark, None)
    expect(not failures, "check accepts an untouched copy of a checked sink")
    snap = sinkfs.snapshot_dir(sink, "CO_Aggregated_Data")
    victim = next(os.path.join(d, f) for d, _, fs in os.walk(snap) for f in fs
                  if f.endswith(".parquet") and pq.read_metadata(os.path.join(d, f)).num_rows)
    t = pq.read_table(victim)
    col = t.column("CO_DOWNTIME").to_pylist()
    col[0] = (col[0] or 0.0) + 0.01
    t = t.set_column(t.schema.get_field_index("CO_DOWNTIME"), "CO_DOWNTIME",
                     pa.array(col, t.schema.field("CO_DOWNTIME").type))
    pq.write_table(t, victim)
    failures, _ = check.check_sink(sink, paths, w.watermark, None)
    expect(bool(failures), f"check rejects a sink with one altered row: {failures}")


def test_same_window_twice_is_idempotent(tmp: str) -> None:
    import check
    import run

    w = tiny(WORKLOADS["daily_sites"])
    work = os.path.abspath(WORK_DIR)
    inputs = os.path.join(work, "inputs", f"{w.name}-5")
    sink = os.path.join(work, "runs", f"{w.name}-5-0", "sink")
    before = {t: check.digest(check.read_table(sink, t)) for t in check.ORACLE_FOR}
    res = run.run_worker(work, f"{w.name}-5-again", inputs, sink, w.watermark.isoformat(),
                         time.time() + 170, False, then=lambda r: None)
    after = {t: check.digest(check.read_table(sink, t)) for t in check.ORACLE_FOR}
    expect(all(v == "Success" for v in res["log"].values()), "daily tiny: second load succeeds")
    expect(before == after, "daily tiny: loading the same window again changes no table")


def main() -> int:
    if not os.path.isdir("fhc_rco_etl_scalable_spark"):
        print("run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    tmp = os.path.join(WORK_DIR, "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    test_generator_is_seeded(tmp)
    test_runs_and_metric_names()
    test_check_rejects_altered_row(tmp)
    test_same_window_twice_is_idempotent(tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(FAILURES)} failed" if FAILURES else "all passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
