#!/usr/bin/env python3
"""Paired-ratio denominator: time every oracle SQL in DuckDB (32 threads)
against the fixture tables. Prints one JSON line {total, queries} so the
bench-vs-oracle ratio can be computed from same-box, same-session runs.

Usage: python3 tools/oracle_time.py <sfDir> <oracle_sql.json> [reps]

reps (default 2): each query is timed `reps` times, MIN is reported —
mirrors the bench's min-of-two discipline so one GC pause / page-cache
miss doesn't inflate a single query.
"""
import sys, json, os, time
import duckdb

# DuckDB's block allocator mmaps aggressively: a ~200-query suite on one
# connection peaks at ~85k live mappings (measured at sf0.01 — spike
# queries like the quantile/calibration oracles add 30-55k mappings
# each before coalescing). The kernel default vm.max_map_count=65530 is
# BELOW that peak, and hitting it surfaces as "Out of Memory Error:
# Failed to allocate block of N bytes" with >100 GB free. The limit is
# a host setting, so this only warns; raise it yourself
# (sysctl vm.max_map_count=2097152) where that is allowed.
def _warn_map_count(want=2097152):
    try:
        with open("/proc/sys/vm/max_map_count") as f:
            cur = int(f.read())
    except (OSError, ValueError):
        return
    if cur < want:
        print(f"WARNING: vm.max_map_count is {cur}, DuckDB oracles need "
              f"{want}; large oracles may fail with a spurious "
              f"'Out of Memory Error'", file=sys.stderr)

_warn_map_count()

sfdir = sys.argv[1]
oracle_path = sys.argv[2]
reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

def fresh_connection():
    """Connection + views (+ prelude, set up later by the caller).

    Factored out because a died connection must be REBUILDABLE
    mid-suite: r15 observed a memory-squeezed window kill the DuckDB
    connection at query ~140 and every later query inherited the dead
    handle — 61 consecutive failures from one transient. The retry
    path now reconnects instead of re-raising into the same corpse."""
    c = duckdb.connect()
    c.sql("SET threads TO 32")
    # Bounded memory + disk spill: DuckDB's default limit is 80% of box
    # RAM, but this tool runs while the bench's 48g-heap JVM still holds
    # its RSS (Bench shells out right after spark.stop(), same process
    # tree) — the default budget then over-commits the box and one
    # allocation-heavy oracle (the q20 regex pass) dies with "Failed to
    # allocate block" (r13's q20 'err' row and a reproduced r14 pair
    # failure). A fixed 24 GB budget + temp spill keeps the denominator
    # alive on any box the bench itself fits on.
    c.sql(f"SET memory_limit='{os.environ.get('ORACLE_MEM', '24GB')}'")
    c.sql("SET temp_directory='/tmp/duckdb_oracle_spill'")
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        p = f"{sfdir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c

con = fresh_connection()

spec = json.load(open(oracle_path))
# Two input shapes: a flat {name: sql} dict (manual use, old artifacts),
# or {"queries": {...}, "prelude": [...], "overrides": {...}} — the
# Bench pair's form. `prelude` statements run once, UNTIMED (they
# pre-materialize the artifacts the engine warms at deploy time, e.g.
# q179's posting table — r14 VERDICT #3). `overrides` give the timed SQL
# for a query whose verbatim oracle rebuilds such an artifact inline;
# before timing an override, its rows are asserted equal to the verbatim
# SQL's (untimed) so the denominator can never silently diverge.
if isinstance(spec, dict) and "queries" in spec:
    oracle = spec["queries"]
    overrides = spec.get("overrides", {})
    prelude = spec.get("prelude", [])
else:
    oracle, overrides, prelude = spec, {}, []
def run_prelude(c):
    # each statement individually guarded: one failing prelude table
    # must only disable the overrides that read it (their equality
    # check fails -> verbatim timing), never abort the whole oracle
    # run and cost the round its denominator
    for stmt in prelude:
        try:
            c.sql(stmt)
        except Exception as e:
            print(f"[oracle_time] prelude statement failed ({e}) — "
                  f"dependent overrides will fall back to verbatim",
                  file=sys.stderr)


run_prelude(con)


def reconnect():
    global con
    try:
        con.close()
    except Exception:
        pass
    con = fresh_connection()
    run_prelude(con)
times = {}
failed = {}
used_override = []
consec_failures = 0  # escalating backoff across QUERIES: r15's driver
# run lost 82 consecutive rows to one minutes-long box-memory squeeze —
# per-query 1 s sleeps burned every remaining query inside the same
# window. After 3 consecutive failed queries, wait out the squeeze
# (up to ~60 s once) before continuing.
t_all0 = time.perf_counter()
for name in sorted(oracle):
    if consec_failures >= 3 and consec_failures % 10 == 3:
        print("[oracle_time] 3 consecutive query failures — backing off "
              "60s for the memory squeeze to pass", file=sys.stderr)
        time.sleep(60)
        try:
            reconnect()
        except Exception as re_e:
            print(f"[oracle_time] reconnect failed: {re_e}", file=sys.stderr)
    timed_sql = oracle[name]
    if name in overrides:
        try:
            want = sorted(map(repr, con.sql(oracle[name]).fetchall()))
            got = sorted(map(repr, con.sql(overrides[name]).fetchall()))
            if want == got:
                timed_sql = overrides[name]
                used_override.append(name)
            else:
                print(f"[oracle_time] {name}: override rows DIVERGE from "
                      f"verbatim oracle — timing the verbatim SQL",
                      file=sys.stderr)
        except Exception as e:
            print(f"[oracle_time] {name}: override check failed ({e}) — "
                  f"timing the verbatim SQL", file=sys.stderr)
    best = None
    # one retry after a transient failure (reproduced: q189/q190 died
    # mid-suite under momentary host memory pressure, then passed
    # standalone seconds later), then fail-soft: one dying oracle must
    # not blank the whole denominator (the r13 q20 lesson)
    for attempt in range(2):
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                con.sql(timed_sql).fetchall()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            times[name] = round(best, 3)
            failed.pop(name, None)
            consec_failures = 0
            break
        except Exception as e:
            msg = str(e).splitlines()[0][:200]
            failed[name] = msg
            print(f"[oracle_time] {name} attempt {attempt}: {msg}",
                  file=sys.stderr)
            time.sleep(1)
            # the failure may have killed the CONNECTION, not just the
            # query — rebuild it (views + prelude) so the retry and
            # every later query run against a live handle
            try:
                reconnect()
            except Exception as re_e:
                print(f"[oracle_time] reconnect failed: {re_e}",
                      file=sys.stderr)
    if name in failed:
        consec_failures += 1
wall = round(time.perf_counter() - t_all0, 3)
total = round(sum(times.values()), 3)
load = os.getloadavg()
print(json.dumps({"metric": "oracle_total", "value": total, "unit": "sec",
                  "wall_sec": wall, "reps": reps,
                  "load": [round(x, 1) for x in load],
                  "failed": failed,
                  "overrides_used": sorted(used_override),
                  "queries": times}))
