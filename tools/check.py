#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check.py [sfDir] [outDir] [perOracleTimeoutSec]

With a timeout, each oracle runs under a watchdog (duckdb interrupt); a
query whose ORACLE cannot finish (DuckDB lacks the bucketed-join shapes
the engine uses) reports ORACLE-TIMEOUT instead of hanging the gate.

Reads outDir/<name>/ parquet (written by graft.Verify) and
outDir/oracle_sql.json, runs each oracle SQL in DuckDB against views over
sfDir/*.parquet, and compares: schema (column names), row count, and values
(rows sorted, columns sorted by name). Reports exact mismatches plus float
drift so ulp-level risk is visible before the real driver runs.

Grades the union of oracle keys and result directories: an oracle with no
result directory is FAIL MISSING, a result directory with no oracle is
FAIL STALE.
"""
import sys, os, json, math, threading
import duckdb


def run_oracle(con, sql, timeout):
    if not timeout:
        return con.execute(sql).fetchdf()
    t = threading.Timer(timeout, con.interrupt)
    t.start()
    try:
        return con.execute(sql).fetchdf()
    finally:
        t.cancel()

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def type_token(t):
    """Canonical type class for driver-parity comparison.

    The driver's hash is VALUE-TYPE-sensitive: DuckDB typing an integer SUM
    as HUGEINT (int128) hashes apart from Spark's BIGINT even when every
    value is equal (cost round 4 four rows). Int widths that all surface as
    python int across both engines collapse to one class; HUGEINT, DECIMAL
    (scale-sensitive), FLOAT vs DOUBLE stay distinct — those are exactly
    the classes the driver distinguishes.
    """
    t = t.strip().upper()
    if t.endswith("[]"):
        return type_token(t[:-2]) + "[]"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "INT64"
    if t == "HUGEINT":
        return "INT128"
    if t.startswith("DECIMAL"):
        return t.replace(" ", "")
    if t == "FLOAT":
        return "FLOAT32"
    if t == "DOUBLE":
        return "FLOAT64"
    return t


def col_types(con, sql):
    """name -> canonical type token via DESCRIBE (binds only, no execution)."""
    return {r[0]: type_token(str(r[1]))
            for r in con.execute(f"DESCRIBE {sql}").fetchall()}


def canon(val):
    import pandas as pd
    import numpy as np
    if val is None:
        return None
    if isinstance(val, (list, tuple, np.ndarray)):
        return tuple(canon(v) for v in val)
    try:
        if pd.isna(val):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(val, (np.integer,)):
        return int(val)
    if isinstance(val, (np.floating,)):
        return float(val)
    return val


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    timeout = float(sys.argv[3]) if len(sys.argv) > 3 else 0
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    results = {}
    result_dirs = {d for d in os.listdir(out)
                   if os.path.isdir(os.path.join(out, d))}
    # Grade every oracle key AND every result directory: a query whose
    # result is absent (Verify failed it and removed its directory) or a
    # directory with no oracle (left over from an earlier run in the same
    # outDir, or a query without oracle SQL) is a failure, never a pass.
    for name in sorted(result_dirs | set(oracle)):
        if name not in result_dirs:
            results[name] = "MISSING: no result directory for this oracle"
            continue
        if name not in oracle:
            results[name] = "STALE: result directory with no oracle"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        except Exception as e:
            results[name] = f"READ-FAIL: {e}"
            continue
        try:
            exp = run_oracle(con, oracle[name], timeout)
        except duckdb.InterruptException:
            results[name] = f"ORACLE-TIMEOUT (>{timeout:.0f}s, oracle-side only)"
            continue
        except Exception as e:
            if "INTERRUPT" in str(e).upper():
                results[name] = f"ORACLE-TIMEOUT (>{timeout:.0f}s, oracle-side only)"
                continue
            results[name] = f"ORACLE-FAIL: {e}"
            continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            results[name] = f"SCHEMA-MISMATCH: spark={gc} duck={ec}"
            continue
        # Driver-parity TYPE gate: equal values in different value types
        # (HUGEINT vs BIGINT, DECIMAL vs DOUBLE) hash apart in the driver.
        try:
            gt = col_types(
                con, f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
            et = col_types(con, oracle[name])
            tbad = {c: (gt[c], et[c]) for c in gc if gt.get(c) != et.get(c)}
            if tbad:
                results[name] = f"TYPE-MISMATCH (spark, duck): {tbad}"
                continue
            # LIST-typed graded columns crash the driver's pandas sorter
            # (unhashable numpy.ndarray — an r6 fingerprint-array query).
            # Reject them here so that class can never ship again; grade a
            # joined string (array_join / array_to_string) instead.
            lbad = sorted(c for c in gc
                          if gt.get(c, "").endswith("[]")
                          or et.get(c, "").endswith("[]"))
            if lbad:
                results[name] = f"LIST-TYPED-COLUMN (ungradeable): {lbad}"
                continue
            # DECIMAL-typed graded columns hash through the driver's pandas
            # path as object/Decimal vs float and silently mismatch above
            # 2^53 (r7/r8 DECIMAL(38,0) class). Hard-reject like LIST:
            # grade a DOUBLE (if |v| < 2^53 provably) or a digit string.
            dbad = sorted(c for c in gc
                          if gt.get(c, "").startswith("DECIMAL")
                          or et.get(c, "").startswith("DECIMAL"))
            if dbad:
                results[name] = f"DECIMAL-TYPED-COLUMN (ungradeable): {dbad}"
                continue
        except Exception as e:
            results[name] = f"TYPE-CHECK-FAIL: {e}"
            continue
        if len(got) != len(exp):
            results[name] = f"ROWCOUNT-MISMATCH: spark={len(got)} duck={len(exp)}"
            continue
        g = [tuple(canon(v) for v in row) for row in got[gc].itertuples(index=False)]
        e = [tuple(canon(v) for v in row) for row in exp[ec].itertuples(index=False)]
        g.sort(key=repr)
        e.sort(key=repr)
        bad = 0
        drift = 0.0
        first = None
        for i, (gr, er) in enumerate(zip(g, e)):
            if gr == er:
                continue
            ok = True
            for a, b in zip(gr, er):
                if a == b or (a is None and b is None):
                    continue
                fa = isinstance(a, float)
                fb = isinstance(b, float)
                if fa and fb:
                    if math.isnan(a) and math.isnan(b):
                        continue
                    if a != b:
                        ok = False
                        drift = max(drift, abs(a - b))
                else:
                    ok = False
            # pandas NaN vs None noise
            if not ok:
                bad += 1
                if first is None:
                    first = (i, gr, er)
        if bad == 0:
            results[name] = f"OK ({len(got)} rows)"
        else:
            results[name] = (f"VALUE-MISMATCH: {bad}/{len(got)} rows differ, "
                             f"max float drift={drift}; first: spark={first[1]} "
                             f"duck={first[2]}")
    width = max(len(k) for k in results) if results else 10
    fails = 0
    skips = 0
    for k, v in sorted(results.items()):
        flag = "PASS" if v.startswith("OK") else (
            "SKIP" if v.startswith("ORACLE-TIMEOUT") else "FAIL")
        if flag == "FAIL":
            fails += 1
        if flag == "SKIP":
            skips += 1
        print(f"{flag}  {k:<{width}}  {v}")
    tail = f" ({skips} oracle-timeout skips)" if skips else ""
    print(f"\n{len(results) - fails - skips}/{len(results) - skips} pass{tail}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
