#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dumped by
graft.Verify, run the oracle SQL in DuckDB over the same sf tables and
compare (schema, rows, values) with columns sorted by name and rows sorted
by all values. A 0-row-both-sides match is VACUOUS (proves the plan
compiles, not that it's right) and is warned; with --strict it fails.
Usage: check_oracle.py [--strict] <sfdir> <outdir> [query ...]"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

class DriverUnsortable(Exception):
    """The driver's pandas sort would throw on this output (e.g. an
    array<...> column -> numpy.ndarray cells, unhashable/unsortable).
    The local gate must FAIL such outputs, since the driver registers
    them as `err` (see CORRECTNESS_r06 q_freq_itemsets)."""

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            if df[c].map(lambda v: isinstance(v, (np.ndarray, list, dict))).any():
                raise DriverUnsortable(f"column {c} holds array/map cells")
            df[c] = df[c].apply(lambda v: float(v) if hasattr(v, "as_tuple") else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)

def main():
    args = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    sfdir, outdir = args[0], args[1]
    only = set(args[2:])
    # Version stamp (r16 task 3): the r15 q_join_size_sketch red gate was
    # adjudicated as a probable DuckDB-version seam (DECIMAL widening /
    # hex-cast idioms differ across releases). Stamp every gate run so a
    # PASS/FAIL is always attributable to a concrete engine version, and
    # rely on q_oracle_canary to trip loudly on any seam change.
    print(f"check_oracle: duckdb={duckdb.__version__} pandas={pd.__version__} "
          f"numpy={np.__version__} sfdir={sfdir}")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for key, sql in sorted(oracle.items()):
        # Driver convention: oracle_sql.json is keyed by the dump-dir
        # basename, i.e. "<name>.parquet". Path and key derive from the
        # identical string so the replica can't drift from the driver.
        name = key[:-len(".parquet")] if key.endswith(".parquet") else key
        if only and name not in only and key not in only:
            continue
        pdir = f"{outdir}/{key}" if key.endswith(".parquet") else f"{outdir}/{key}.parquet"
        files = glob.glob(f"{pdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            mine = canon(con.sql(f"SELECT * FROM '{pdir}/*.parquet'").df())
            ref = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}"); n_fail += 1; continue
        if list(mine.columns) != list(ref.columns):
            print(f"FAIL {name}: columns {list(mine.columns)} vs {list(ref.columns)}")
            n_fail += 1; continue
        # The driver hashes typed values: int64 vs float64 after canon is a
        # hash mismatch even when values compare equal (q12_priority, r6).
        dbad = [(c, str(mine[c].dtype), str(ref[c].dtype)) for c in mine.columns
                if str(mine[c].dtype) != str(ref[c].dtype)]
        if dbad:
            c, a, b = dbad[0]
            print(f"FAIL {name}: dtype mismatch col {c}: spark={a} duckdb={b}")
            n_fail += 1; continue
        if len(mine) != len(ref):
            print(f"FAIL {name}: rows {len(mine)} vs {len(ref)}"); n_fail += 1; continue
        bad = None
        for c in mine.columns:
            a, b = mine[c].values, ref[c].values
            if pd.api.types.is_float_dtype(mine[c]) and pd.api.types.is_float_dtype(ref[c]):
                eq = (a == b) | (np.isnan(a.astype(float)) & np.isnan(b.astype(float)))
            else:
                eq = pd.Series(a).eq(pd.Series(b)) | (pd.Series(a).isna() & pd.Series(b).isna())
                eq = eq.values
            if not eq.all():
                i = int(np.argmin(eq))
                bad = (c, a[i], b[i], int((~eq).sum()))
                break
        if bad:
            c, va, vb, n = bad
            print(f"FAIL {name}: col {c}: {n} diffs, first spark={va!r} duckdb={vb!r}")
            n_fail += 1
        elif len(mine) == 0:
            # 0 == 0 rows: the gate compares nothing. r7/r8 carried three
            # such gates (q20_excess, q22_idle, q_antijoin) for two rounds.
            if strict:
                print(f"FAIL {name}: VACUOUS (0 rows both sides)")
                n_fail += 1
            else:
                print(f"WARN {name}: vacuous PASS (0 rows both sides)")
                n_pass += 1
        else:
            print(f"PASS {name} ({len(mine)} rows)")
            n_pass += 1
    # A requested name with no oracle is rows-only: skipping it would
    # print a green gate that compared nothing.
    gated = {k[:-len(".parquet")] if k.endswith(".parquet") else k for k in oracle}
    for name in sorted(only):
        if name not in gated and name not in oracle:
            print(f"FAIL {name}: no oracle (rows-only — gate its certificate)")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
