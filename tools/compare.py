#!/usr/bin/env python3
"""Dev-loop mimic of the driver's correctness gate: run graft.Verify output
against the DuckDB oracle (oracle_sql.json) on the same parquet tables.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

Driver-side-only deps (duckdb/pandas) — never imported by shipped Scala code.
"""
import duckdb
import json
import math
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# One pathological oracle (round 5's exponential un-materialized BPE CTE
# chain) can hang the whole gate and zero out the round's correctness
# artifact. Budget each oracle's wall seconds and fail LOUDLY past it so
# the cost shows up in the dev loop, not the driver's timeout.
ORACLE_BUDGET_SEC = 30.0


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def cell_eq(a, b):
    if a is None and b is None:
        return True
    # The driver gate hashes typed values, so int64 vs float64 (2 vs 2.0)
    # is a hard mismatch there — make the dev mimic just as strict instead
    # of letting Python's cross-type `2 == 2.0` paper over it (that is
    # exactly how the llm_pack_shards HUGEINT-vs-BIGINT divergence slipped
    # past this script while the driver flagged it).
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, float) != isinstance(b, float):
        return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        # Exact-==-after-DECIMAL is the goal, but Spark (HALF_UP) and DuckDB
        # can round a last-ulp tie differently; tolerate exactly one ulp —
        # anything wider would mask genuine summation-order divergence.
        return a == b or abs(a - b) <= max(math.ulp(a), math.ulp(b))
    return a == b


def mismatch(got, exp):
    """None when the canonical frames match, else a one-line reason."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs oracle {len(exp)}"
    bad = []
    gv, ev = got.values.tolist(), exp.values.tolist()
    for i in range(len(gv)):
        for j in range(len(got.columns)):
            if not cell_eq(gv[i][j], ev[i][j]):
                bad.append((i, got.columns[j], gv[i][j], ev[i][j]))
    if bad:
        return f"{len(bad)} cell mismatches, first 3: {bad[:3]}"
    return None


def main():
    sf, out = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_budget = n_value = 0
    slow = []
    for name, sql in sorted(oracle.items()):
        try:
            got = canon(con.sql(
                f"SELECT * FROM '{out}/{name}/*.parquet'").df())
            t0 = time.monotonic()
            exp = canon(con.sql(sql).df())
            oracle_sec = time.monotonic() - t0
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_value += 1
            continue
        reason = mismatch(got, exp)
        if oracle_sec > ORACLE_BUDGET_SEC:
            # still a FAIL, but say whether the values match, so a slow
            # oracle reads apart from a wrong answer without a re-run
            slow.append((name, oracle_sec))
            print(f"FAIL {name}: oracle took {oracle_sec:.1f}s "
                  f"(budget {ORACLE_BUDGET_SEC:.0f}s) — rewrite the oracle "
                  f"SQL; a slow oracle can hang the driver gate; "
                  + ("values match" if reason is None
                     else f"values differ: {reason}"))
            if reason is None:
                n_budget += 1
            else:
                n_value += 1
            continue
        if oracle_sec > 1.0:
            print(f"  [oracle {name}: {oracle_sec:.2f}s]")
        if reason is None:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {reason}")
            n_value += 1
    if slow:
        print(f"== SLOW ORACLES over {ORACLE_BUDGET_SEC:.0f}s budget: "
              + ", ".join(f"{n}={s:.1f}s" for n, s in slow) + " ==")
    n_fail = n_budget + n_value
    print(f"== {n_pass} pass, {n_fail} fail ({n_budget} over budget with "
          f"matching values, {n_value} wrong or failed) ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
