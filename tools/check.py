#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the fixture tables, compare to the Verify parquet dumps.
Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb


# DuckDB mmaps blocks aggressively; a ~200-oracle suite on ONE
# connection peaks at ~85k live mappings while the kernel default
# vm.max_map_count is 65530 — crossing it surfaces as "Out of Memory
# Error: Failed to allocate block of N bytes" with the box nearly
# empty. The limit is a host setting, so this only warns; raise it
# yourself (sysctl vm.max_map_count=2097152) where that is allowed.
WANT_MAP_COUNT = 2097152
try:
    with open("/proc/sys/vm/max_map_count") as _f:
        _cur = int(_f.read())
    if _cur < WANT_MAP_COUNT:
        print(f"WARNING: vm.max_map_count is {_cur}, DuckDB oracles need "
              f"{WANT_MAP_COUNT}; large oracles may fail with a spurious "
              f"'Out of Memory Error'", file=sys.stderr)
except (OSError, ValueError):
    pass

sfdir, outdir = sys.argv[1], sys.argv[2]


def connect():
    c = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        # driver fixtures are single files; synthetic scale-up fixtures
        # (MakeSyntheticSf) are Spark-written directories — accept both
        p = f"{sfdir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c


con = connect()


def run_df(sql):
    # DuckDB's buffer accounting can fill up over a ~200-oracle suite on
    # one connection and fail tiny allocations mid-suite (intermittent,
    # box-dependent); a fresh connection releases everything — retry
    # once on it rather than aborting the whole gate.
    global con
    try:
        return con.sql(sql).df()
    except duckdb.OutOfMemoryException:
        con.close()
        con = connect()
        return con.sql(sql).df()


oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail = 0
for name in sorted(os.listdir(outdir)):
    path = os.path.join(outdir, name)
    if not os.path.isdir(path):
        continue
    got = run_df(f"SELECT * FROM '{path}/*.parquet'")
    if name not in oracle:
        print(f"{name}: NO-ORACLE rows={len(got)}")
        continue
    exp = run_df(oracle[name])
    # driver compare: sort columns by name, then compare values
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]

    # The driver's hash is dtype-sensitive: DuckDB HUGEINT (e.g. SUM(BIGINT),
    # `//` of a HUGEINT) lands in pandas as float64/object and hash-mismatches
    # an int64 Spark column even when every value is equal. Mirror that here:
    # compare dtype CLASS (int vs float vs other) per column, width-insensitive.
    def dtype_class(s):
        k = s.dtype.kind
        if k in "iu":
            return "int"
        if k == "f":
            return "float"
        if k == "b":
            return "bool"
        if k == "O":
            # object column: HUGEINT comes through as python ints
            vals = [v for v in s if v is not None]
            if vals and all(isinstance(v, int) and not isinstance(v, bool)
                            for v in vals):
                return "objint"
            return "other"
        return "other"

    status = []
    if list(got.columns) != list(exp.columns):
        status.append(f"COLS got={list(got.columns)} exp={list(exp.columns)}")
    elif len(got) != len(exp):
        status.append(f"ROWS got={len(got)} exp={len(exp)}")
    else:
        for c in got.columns:
            gc, ec = dtype_class(got[c]), dtype_class(exp[c])
            if gc != ec:
                status.append(
                    f"DTYPE {c}: got={got[c].dtype}({gc}) exp={exp[c].dtype}({ec})")
        import pandas as pd
        try:
            pd.testing.assert_frame_equal(
                got.reset_index(drop=True), exp.reset_index(drop=True),
                check_dtype=False, check_exact=True)
        except AssertionError as e:
            status.append("VALUES " + str(e).split("\n")[0])
            # also try order-insensitive
            g2 = got.sort_values(by=list(got.columns)).reset_index(drop=True)
            e2 = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
            try:
                pd.testing.assert_frame_equal(g2, e2, check_dtype=False,
                                              check_exact=True)
                status.append("(matches unordered)")
            except AssertionError:
                pass
    if status:
        fail += 1
        print(f"{name}: FAIL {' '.join(status)}")
    else:
        print(f"{name}: OK rows={len(got)}")
missing = set(oracle) - {n for n in os.listdir(outdir)
                         if os.path.isdir(os.path.join(outdir, n))}
for m in sorted(missing):
    print(f"{m}: MISSING spark output")
    fail += 1
sys.exit(1 if fail else 0)
