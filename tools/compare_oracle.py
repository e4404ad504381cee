#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB against the parquet tables and compare (schema, row count, values)
with the Spark results dumped by `graft.Verify`.

Usage: python3 tools/compare_oracle.py <verify_out_dir> <sf_dir> [jobs]

Subset runs: a `SPARK_GRAFT_ONLY=a,b` run of `graft.Verify` writes the
requested names to <verify_out_dir>/verify_subset.json. The compare then
checks only those names, and a requested name without a dump fails
(`DECLARED-BUT-NOT-DUMPED`, or `REQUESTED-BUT-NOT-DUMPED` for a name no
oracle declares), so the exit status gates the subset; a record that names
no query fails. A full run writes no such record, and every declared query
without a dump fails.

Round-10 hardening (VERDICT r9 "Next round" #1-2):
  * each oracle runs in a process-pool worker (default jobs = min(8, cpus))
  * per-oracle wall time is measured, printed, and BUDGETED: any oracle
    over BUDGET_SEC (10 s) is a loud `OVER-BUDGET` failure even when the
    values match — a new gate query can never silently re-blow the budget
  * results stream to <out_dir>/compare_results.jsonl as each query
    completes, so a wall-clock blowout leaves a partial record, never `{}`
"""
import sys, os, json, glob, time
from concurrent.futures import ProcessPoolExecutor, as_completed

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
BUDGET_SEC = 10.0


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize cell values for cross-engine compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        # decimals arrive as object -> str above; floats stay float
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def repr_mismatch(files, exp: pd.DataFrame):
    """Strict representation check emulating the driver's hash: the Spark dump
    is read via pyarrow/pandas (decimals -> Decimal objects with trailing
    zeros, dates -> datetime.date) while the oracle comes from duckdb .df()
    (decimals -> float64, dates -> Timestamp). Every cell is str()-rendered,
    columns sorted by name, rows sorted, then compared. A query whose VALUES
    match can still fail here — e.g. Decimal('570.60') vs float 570.6 — and
    that is exactly what the driver's hash_match measures."""
    got = pd.concat([pq.read_table(f).to_pandas() for f in sorted(files)],
                    ignore_index=True)
    def render(df):
        df = df.reindex(sorted(df.columns), axis=1)
        out = df.astype(object).where(df.notna(), None)
        for c in out.columns:
            out[c] = out[c].map(lambda v: None if v is None else str(v))
        if len(out):
            out = out.sort_values(by=list(out.columns), kind="mergesort",
                                  na_position="last").reset_index(drop=True)
        return out
    g, e = render(got), render(exp)
    if list(g.columns) != list(e.columns) or len(g) != len(e):
        return ["shape"]
    bad = []
    for c in g.columns:
        if not g[c].equals(e[c]):
            m = ~((g[c].isna() & e[c].isna()) | (g[c] == e[c]))
            i = m[m].index[0]
            bad.append(f"{c} (e.g. spark={g[c][i]!r} duck={e[c][i]!r})")
    return bad


def check_one(args):
    """Worker: compare one query. Returns (name, status, secs, notes)."""
    name, out_dir, sf_dir, sql = args
    t0 = time.monotonic()
    notes = []
    try:
        con = duckdb.connect()
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            return name, "EMPTY-DUMP", time.monotonic() - t0, notes
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        if sql is None:
            return (name, f"ROWS-ONLY ({len(got)} rows)",
                    time.monotonic() - t0, notes)
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            return name, f"ORACLE-SQL-ERROR: {e}", time.monotonic() - t0, notes
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            return (name,
                    f"SCHEMA-MISMATCH spark={list(g.columns)} duck={list(e.columns)}",
                    time.monotonic() - t0, notes)
        if len(g) != len(e):
            return (name, f"ROWCOUNT-MISMATCH spark={len(g)} duck={len(e)}",
                    time.monotonic() - t0, notes)
        diff_cols = []
        for c in g.columns:
            a, b = g[c], e[c]
            if a.dtype.kind in "fiu" and b.dtype.kind in "fiu":
                # value compare, dtype-insensitive (int32 vs int64 etc.)
                ok = ((a.isna() & b.isna()) | (a == b)).all()
            else:
                ok = a.equals(b)
            if not ok:
                diff_cols.append(c)
        if diff_cols:
            c = diff_cols[0]
            mask = ~(((g[c].isna()) & (e[c].isna())) | (g[c] == e[c]))
            for i in mask[mask].index[:3]:
                notes.append(f"row {i} col {c}: spark={g[c][i]!r} duck={e[c][i]!r}")
            return (name, f"VALUE-MISMATCH cols={diff_cols}",
                    time.monotonic() - t0, notes)
        strict = repr_mismatch(files, exp)
        if strict:
            return (name, f"REPR-MISMATCH cols={strict}",
                    time.monotonic() - t0, notes)
        return name, f"PASS ({len(g)} rows)", time.monotonic() - t0, notes
    except Exception as e:  # never lose a worker silently
        return name, f"WORKER-ERROR: {e}", time.monotonic() - t0, notes


def main(out_dir: str, sf_dir: str, jobs: int) -> int:
    t_start = time.monotonic()
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # discover all dumped queries (dirs with parquet inside)
    dumped = {os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
              if os.path.isdir(d)}
    subset_path = f"{out_dir}/verify_subset.json"
    requested = (set(json.load(open(subset_path)))
                 if os.path.exists(subset_path) else None)
    if requested is not None:
        if not requested:
            print(f"FAIL: {subset_path} requests no query; nothing is checked")
            return 1
        print(f"subset run: {len(requested)} requested "
              f"({', '.join(sorted(requested))})")
        dumped &= requested
    tasks = [(name, out_dir, sf_dir, oracle.get(name))
             for name in sorted(dumped)]
    results, times = {}, {}
    n_pass = n_fail = n_rows_only = n_over = 0
    jsonl_path = f"{out_dir}/compare_results.jsonl"
    with open(jsonl_path, "w") as jsonl, \
         ProcessPoolExecutor(max_workers=jobs) as pool:
        futs = [pool.submit(check_one, t) for t in tasks]
        for fut in as_completed(futs):
            name, status, secs, notes = fut.result()
            over = secs > BUDGET_SEC and name in oracle
            if over:
                status += f" [OVER-BUDGET {secs:.1f}s > {BUDGET_SEC:.0f}s]"
                n_over += 1
            results[name], times[name] = status, secs
            # incremental record: a blowout leaves a partial file, never {}
            jsonl.write(json.dumps({"query": name, "status": status,
                                    "secs": round(secs, 2)}) + "\n")
            jsonl.flush()
            for n in notes:
                print(f"    [{name}] {n}")
    for k, v in sorted(results.items()):
        flag = ("  OK " if v.startswith("PASS") and "OVER-BUDGET" not in v
                else ("  ~  " if v.startswith("ROWS-ONLY") else "  FAIL "))
        print(f"{flag}{k}: {v} ({times[k]:.2f}s)")
        if v.startswith("PASS") and "OVER-BUDGET" not in v:
            n_pass += 1
        elif v.startswith("ROWS-ONLY"):
            n_rows_only += 1
        else:
            n_fail += 1
    expected = set(oracle) if requested is None else requested
    for m in sorted(expected - dumped):
        why = "DECLARED" if m in oracle else "REQUESTED"
        print(f"  FAIL {m}: {why}-BUT-NOT-DUMPED")
        n_fail += 1
    slow = sorted(times.items(), key=lambda kv: -kv[1])[:10]
    print("\nslowest oracles: " +
          ", ".join(f"{k}={v:.1f}s" for k, v in slow))
    print(f"serial oracle sum: {sum(times.values()):.1f}s; "
          f"wall: {time.monotonic() - t_start:.1f}s ({jobs} jobs)")
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail"
          + (f" ({n_over} over-budget)" if n_over else ""))
    return 1 if n_fail else 0


if __name__ == "__main__":
    jobs = int(sys.argv[3]) if len(sys.argv) > 3 else min(8, os.cpu_count() or 4)
    sys.exit(main(sys.argv[1], sys.argv[2], jobs))
