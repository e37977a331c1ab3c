"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

Takes several minutes (it starts Spark about ten times). Checks:

1. every metric BENCHMARK.json names is emitted, with its unit, by a
   smoke-size run of each workload, untraced and traced;
2. spans nest inside their parents;
3. ``py4j.calls``, ``spark.jobs``, ``spark.tasks`` and ``fs.files``
   repeat exactly across two traced runs of the same seed, and so do
   ``index_churn``'s per-cycle live rows and artifact file counts;
4. the lanes whose DuckDB oracles are too slow for every run match
   them on a tiny seeded corpus;
5. in a directory holding only BENCHMARK.json and the benchmark, the
   command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
FAILS: list[str] = []


def scratch() -> str:
    """A fresh directory inside the checkout (runs remove the empty
    parent when they end)."""
    parent = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(parent, exist_ok=True)
    return tempfile.mkdtemp(dir=parent)


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILS.append(what)


def run(workload: str, trace: int, seed: int = 5, extra=(), cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", "1", "--trace", str(trace),
                             "--scale", "smoke", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    report = next((json.loads(x[len("# report "):]) for x in lines
                   if x.startswith("# report ")), None)
    result = json.loads(lines[-1]) if lines and p.returncode == 0 else None
    if p.returncode != 0:
        print(p.stderr[-3000:], file=sys.stderr)
    return p.returncode, report, result


def metrics_and_units(workload: str) -> dict:
    reports = {}
    for trace, group in ((0, "end_to_end"), (1, "per_layer")):
        spans = scratch()
        code, rep, res = run(workload, trace,
                             extra=("--spans", spans) if trace else ())
        check(code == 0 and res is not None and res["correct"]
              and res["failed"] == 0 and res["attempted"] >= 1,
              f"{workload} trace={trace}: smoke run is correct")
        if res is None:
            continue
        want = {m["name"]: m["unit"] for m in SPEC[group]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        check(got == want, f"{workload} trace={trace}: emits every "
                           f"{group} metric with its unit")
        reports[trace] = rep
        if trace:
            spans_nest(spans, workload)
        shutil.rmtree(spans, ignore_errors=True)
    return reports


def spans_nest(d: str, workload: str) -> None:
    rows = [json.loads(x) for f in os.listdir(d)
            for x in open(os.path.join(d, f))]
    by_id = {r["id"]: r for r in rows}
    ok = bool(rows) and all(
        r["parent"] is None
        or (by_id[r["parent"]]["start"] <= r["start"]
            and r["end"] <= by_id[r["parent"]]["end"])
        for r in rows)
    check(ok, f"{workload}: {len(rows)} spans nest inside their parents")


COUNTS = ("py4j.calls", "spark.jobs", "spark.tasks")


def repeats(workload: str, first: dict) -> None:
    _, second, _ = run(workload, 1)
    for k in COUNTS + (("fs.files",) if workload == "index_churn" else ()):
        check(second is not None and first[k] == second[k],
              f"{workload}: {k} repeats across two traced runs "
              f"({first[k]} vs {second and second[k]})")
    if workload == "index_churn":
        seq = [(c["live"], c["files"]) for c in first["cycles"]]
        seq2 = [(c["live"], c["files"]) for c in second["cycles"]]
        check(seq == seq2, f"index_churn: per-cycle live rows and file "
                           f"counts repeat across runs {seq}")


def slow_oracles() -> None:
    """Spark vs DuckDB for the lanes whose oracles skip every run."""
    sys.path[:0] = [ROOT, HERE]
    import analytics
    import gen
    import sparkproc

    work = scratch()
    spark, _ = sparkproc.start(ROOT, work, os.cpu_count() or 4)
    try:
        from mmlspark_spark.plans.catalog import CATALOG

        data = os.path.join(work, "data")
        gen.build(data, 3, "tiny")
        for lane in analytics.SLOW_ORACLES:
            df = CATALOG[lane].fn(spark, data)
            rows = [tuple(r) for r in df.collect()]
            why = analytics.oracle_mismatch(lane, df.columns, rows, data,
                                            CATALOG[lane].oracle)
            check(why is None and len(rows) > 0,
                  f"{lane}: {len(rows)} rows match the DuckDB oracle "
                  f"({why or 'tiny corpus'})")
    finally:
        sparkproc.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def bare_directory_fails() -> None:
    d = scratch()
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(SPEC["command"] + [
            "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
            "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True,
            text=True, timeout=180)
        check(p.returncode != 0 and not p.stdout.strip(),
              "bare directory: non-zero exit and no result")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    bare_directory_fails()
    for w in (x["name"] for x in SPEC["workloads"]):
        reports = metrics_and_units(w)
        if 1 in reports:
            repeats(w, reports[1])
    slow_oracles()
    try:
        os.rmdir(os.path.join(ROOT, ".perfbench_work"))
    except OSError:
        pass
    print(f"{len(FAILS)} failed" if FAILS else "all passed")
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
