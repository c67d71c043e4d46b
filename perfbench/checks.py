"""Correctness checks of one benchmark run against independent answers.

Every check takes the JVM's raw observations (the JSON `Main` writes) and
returns a list of failure strings; an empty list means the run is correct.
Per-operation checks mark single operations failed; run-level checks (the
DuckDB oracle and the once-per-run hash compare) fail every operation,
because the reference the operations were compared with is then wrong.
"""
import glob
import hashlib
import math
import os

import duckdb
import pandas as pd


def connect(data_dir):
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def canon_hash(df):
    """md5 over rows with columns sorted by name, values rendered the way
    the repository's oracle replay renders them."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        rows.append("\x1f".join(
            "\\N" if (v is None or (isinstance(v, float) and math.isnan(v))) or pd.isna(v) is True
            else (f"{v:.6f}" if isinstance(v, float) else str(v)) for v in tup))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def all_ops(raw):
    return [op for k in ("ops", "traced_ops", "scale_ops", "sink_ops") for op in raw.get(k, [])]


# ------------------------------------------------------------------ ingest

def ingest_run_checks(raw, con):
    """Head slice of the timed result = DuckDB q05 oracle x replicas, and the
    timed result = the counts-only narrow path over the whole mix."""
    fails = []
    oracle = con.execute(raw["oracle_sql"]["q05_sink_counts"]).fetchall()
    reps = raw["replicas"]
    expected = {}
    for r in oracle:  # sink, technology, role, tool, y, m, d, h, cnt
        key = "\t".join("\\N" if v is None else str(v) for v in r[:8])
        expected[key] = expected.get(key, 0) + r[8] * reps
    head_tools = {r[3] for r in oracle}
    got = {}
    for line in raw["first_rows"]:
        f = line.split("\t")
        if f[3] in head_tools:
            got["\t".join(f[:8])] = int(f[8])
    if got != expected:
        missing = len(set(expected) - set(got))
        extra = len(set(got) - set(expected))
        differ = sum(1 for k in set(got) & set(expected) if got[k] != expected[k])
        fails.append(f"head sink counts != q05 oracle x {reps}: "
                     f"{missing} missing, {extra} extra, {differ} differ")
    if hashlib.md5("\n".join(raw["first_rows"]).encode()).hexdigest() != raw["reference_digest"]:
        fails.append("full-path sink counts != narrow-path counts on the whole mix")
    return fails


def ingest_op_fail(op, raw):
    if "manifest_routed" in op:
        return sink_op_fail(op, raw)
    if op["digest"] != raw["reference_digest"]:
        return "sink counts != narrow-path counts"
    return None


def sink_op_fail(op, raw):
    """A traced snapshot write (ingest_mix trace runs): manifests conserve
    the input, routed totals equal the read-back and the narrow-path
    per-sink totals, and the resume wrote nothing."""
    ref = raw["sink_reference_per_sink"]
    routed = op["manifest_routed"]
    back = op["read_back"]
    if op["resume_chunks"] != 0:
        return f"resume wrote {op['resume_chunks']} chunks"
    if op["manifest_input_rows"] != raw["sink_input_turns"]:
        return f"manifest input rows {op['manifest_input_rows']} != input {raw['sink_input_turns']}"
    keys = set(ref) | set(routed) | set(back)
    if any(routed.get(k, 0) != back.get(k, 0) for k in keys):
        return f"manifest routed {routed} != read back {back}"
    if any(routed.get(k, 0) != ref.get(k, 0) for k in keys):
        return f"manifest routed {routed} != narrow-path per-sink counts {ref}"
    return None


# ----------------------------------------------------------------- analyst

def analyst_run_checks(raw, con):
    """Each query's full result (written once) hashes like its oracle; the
    oracle row counts are kept for the per-operation checks."""
    fails = []
    raw["_oracle_rows"] = {}
    for name, sql in sorted(raw["oracle_sql"].items()):
        o = con.execute(sql).df()
        raw["_oracle_rows"][name] = len(o)
        files = glob.glob(os.path.join(raw["dumps"], name, "*.parquet"))
        s = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if sorted(o.columns) != sorted(s.columns) or len(o) != len(s) or canon_hash(o) != canon_hash(s):
            fails.append(f"{name}: result ({len(s)} rows) differs from its oracle ({len(o)} rows)")
    return fails


def analyst_op_fail(op, raw):
    want = raw["_oracle_rows"]
    bad = [f"{q['name']} {q['rows']} rows, oracle {want[q['name']]}"
           for q in op["queries"] if q["rows"] != want[q["name"]]]
    return "; ".join(bad) if bad else None


CHECKS = {
    "ingest_mix": (ingest_run_checks, ingest_op_fail),
    "analyst_queries": (analyst_run_checks, analyst_op_fail),
}


def check(raw, data_dir):
    """Marks each op with `ok` and returns the run-level failures plus a
    sample of op failures (an empty list = every check passed)."""
    run_checks, op_fail = CHECKS[raw["workload"]]
    run_fails = run_checks(raw, connect(data_dir))
    op_fails = []
    for op in all_ops(raw):
        why = op_fail(op, raw)
        op["ok"] = why is None and not run_fails
        if why:
            op_fails.append(f"{op['tag']}: {why}")
    return run_fails + op_fails
