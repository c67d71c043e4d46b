#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py

1. Runs every workload once, traced and with a one-second window, so every
   check path runs on real output (timed ops, traced ops, the single-core
   scaling ops, snapshot writes, query dumps); each run must pass.
2. Negative control: corrupts copies of those runs' observations one way at
   a time (a sink row removed, a count changed, a resume that wrote a chunk,
   a query result missing a row, ...) and asserts that the checks fail, and
   that a corruption of one operation fails that operation alone.

Exits 0 when every run passes and every corruption is caught.
"""
import copy
import glob
import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import run  # noqa: E402

SEED = 101


def run_workload(workload):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
                       stdout=subprocess.PIPE, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    result = json.loads(last) if last.startswith("{") else None
    assert r.returncode == 0 and result and result["correct"] and result["failed"] == 0, \
        f"{workload}: clean run did not pass (exit {r.returncode}): {last[:300]}"
    with open(os.path.join(run.WORK, "runs", workload, "result.json")) as fh:
        raw = json.load(fh)
    data = glob.glob(os.path.join(run.WORK, "data", f"*-seed{SEED}"))[0]
    return raw, data


def must_fail(name, raw, data, corrupt, one_op=False):
    """`one_op`: the corruption touches one operation, so exactly that one
    must be marked failed (run-level corruptions fail every operation)."""
    bad = copy.deepcopy(raw)
    corrupt(bad)
    fails = checks.check(bad, data)
    assert fails, f"corruption not caught: {name}"
    ops = checks.all_ops(bad)
    failed = sum(1 for op in ops if not op["ok"])
    want = 1 if one_op else len(ops)
    assert failed == want, f"{name}: {failed} of {len(ops)} ops marked failed, expected {want}"
    print(f"caught  {name} ({failed} of {len(ops)} ops failed): {fails[0][:100]}")


def ingest_controls(raw, data):
    assert checks.check(copy.deepcopy(raw), data) == [], "clean ingest observations fail"

    def drop_sink_row(r):
        r["first_rows"] = r["first_rows"][1:]

    def bump_count(r):  # a head-table row, so the DuckDB oracle sees it too
        i = next(i for i, row in enumerate(r["first_rows"]) if "\tpalo.alto.fw\t" in row)
        f = r["first_rows"][i].split("\t")
        f[8] = str(int(f[8]) + 1)
        r["first_rows"][i] = "\t".join(f)

    def op_digest(r):
        r["ops"][0]["digest"] = "0" * 32

    def scale_digest(r):
        r["scale_ops"][0]["digest"] = "0" * 32

    def resume_wrote(r):
        r["sink_ops"][0]["resume_chunks"] = 1

    def lost_input_row(r):
        r["sink_ops"][0]["manifest_input_rows"] -= 1

    def read_back_short(r):
        back = r["sink_ops"][0]["read_back"]
        k = sorted(back)[0]
        back[k] -= 1

    def routed_and_read_back_short(r):
        op = r["sink_ops"][0]
        k = sorted(op["read_back"])[0]
        op["read_back"][k] -= 1
        op["manifest_routed"][k] -= 1

    for name, f, one_op in [("ingest: one sink row removed", drop_sink_row, False),
                            ("ingest: one head sink count changed", bump_count, False),
                            ("ingest: timed result differs from the narrow path", op_digest, True),
                            ("ingest: single-core result differs", scale_digest, True),
                            ("sink: resume wrote a chunk", resume_wrote, True),
                            ("sink: manifests lost an input row", lost_input_row, True),
                            ("sink: read-back short of the manifest", read_back_short, True),
                            ("sink: manifest and read-back both short", routed_and_read_back_short, True)]:
        must_fail(name, raw, data, f, one_op)


def analyst_controls(raw, data):
    assert checks.check(copy.deepcopy(raw), data) == [], "clean analyst observations fail"

    def row_count(r):
        r["ops"][0]["queries"][0]["rows"] += 1

    must_fail("analyst: a timed query returned one row more", raw, data, row_count, one_op=True)
    # a full result with one row removed must fail the hash compare
    dumps = os.path.join(run.WORK, "runs", "selftest-dumps")
    for q in raw["oracle_sql"]:
        df = pd.concat(pd.read_parquet(f) for f in glob.glob(os.path.join(raw["dumps"], q, "*.parquet")))
        if q == "q05_sink_counts":
            df = df.iloc[1:]
        os.makedirs(os.path.join(dumps, q), exist_ok=True)
        df.to_parquet(os.path.join(dumps, q, "part-0.parquet"), index=False)
    must_fail("analyst: q05 result missing one row", raw, data, lambda r: r.update(dumps=dumps))


def main():
    ingest_controls(*run_workload("ingest_mix"))
    analyst_controls(*run_workload("analyst_queries"))
    print("selftest passed")


if __name__ == "__main__":
    main()
