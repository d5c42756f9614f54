#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

Runs each oracle_sql.json entry in DuckDB against the sfDir parquet tables,
loads the Spark result parquet the Verify main wrote, sorts columns by name
(like the driver), and compares values. Dev tool only — the library itself
has no Python dependency.
"""
import json, os, sys, glob, math, time, threading
import duckdb
import pandas as pd

# Optional per-oracle wall budget (seconds). 0 = unlimited. Self-generated
# big-SF confidence sweeps set this so an oracle whose SQL rendering is
# super-linear (e.g. within-cell pair expansion) reports ORACLE_TIMEOUT and
# the sweep keeps moving — the Spark side has its own timings; this budget
# bounds only the DuckDB mirror.
ORACLE_TIMEOUT = float(os.environ.get("COMPARE_ORACLE_TIMEOUT", "0"))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def values_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single files; Spark-written replicas
        # (Probe replica dirs) are part-file DIRECTORIES -> glob them
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    timeouts = []
    # Watchdog race guard: a Timer can fire AFTER its query completes but
    # BEFORE the finally-cancel; that con.interrupt() then lands on the NEXT
    # oracle, whose own fresh `fired` flag is unset -> spurious FAIL. Two
    # defenses: (a) the interrupt callback only interrupts while this query's
    # `running` flag is still set (lock-atomic with the clear); (b) if a
    # fired-but-late timer is detected (fired set, query succeeded), mark
    # `stale_interrupt` and retry the next failing query once.
    wd_lock = threading.Lock()
    stale_interrupt = False
    for name, sql in sorted(oracle.items()):
        want = None
        attempts = 0
        tq = time.time()
        while want is None:
            attempts += 1
            t0 = time.time()
            watchdog = None
            fired = threading.Event()
            state = {"running": True}
            if ORACLE_TIMEOUT > 0:
                def interrupt(fired=fired, state=state):
                    with wd_lock:
                        if state["running"]:
                            fired.set()
                            con.interrupt()
                watchdog = threading.Timer(ORACLE_TIMEOUT, interrupt)
                watchdog.start()
            err = None
            try:
                res = canon(con.sql(sql).df())
            except Exception as e:
                err = e
            finally:
                with wd_lock:
                    state["running"] = False
                if watchdog: watchdog.cancel()
            if err is None:
                if fired.is_set():
                    # timer fired but the query still finished (fired+success
                    # already implies the interrupt landed late — even under
                    # scheduling jitter just below the timeout): its
                    # con.interrupt() may be pending against the connection
                    stale_interrupt = True
                want = res
                break
            if fired.is_set():
                print(f"ORACLE_TIMEOUT {name}: oracle exceeded {ORACLE_TIMEOUT:.0f}s "
                      f"(DuckDB mirror cost, not an engine failure)")
                timeouts.append(name)
                break
            if stale_interrupt and attempts == 1:
                # likely killed by the previous query's late interrupt: retry
                stale_interrupt = False
                continue
            print(f"FAIL {name}: oracle error: {err}")
            n_fail += 1
            break
        if want is None:
            continue
        dt = time.time() - tq
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        # The driver hashes raw values: an int64 6 vs float64 6.0 flips the
        # hash even when values compare equal (e.g. DuckDB HUGEINT sums land
        # as float64). Compare dtype *kinds* so the local gate can't pass
        # what the driver fails.
        kind_bad = None
        for col in got.columns:
            gk, wk = got[col].dtype.kind, want[col].dtype.kind
            # treat signed/unsigned int alike; object columns skip the check
            norm = lambda k: "i" if k in "iu" else k
            if "O" not in (gk, wk) and norm(gk) != norm(wk):
                kind_bad = (col, got[col].dtype, want[col].dtype)
                break
        if kind_bad:
            col, gd, wd = kind_bad
            print(f"FAIL {name}: dtype kind mismatch col={col}: spark={gd} oracle={wd}")
            n_fail += 1
            continue
        bad = None
        for col in got.columns:
            gv, wv = got[col].tolist(), want[col].tolist()
            for i, (g, w) in enumerate(zip(gv, wv)):
                # numpy scalars -> python for stable comparison
                g = g.item() if hasattr(g, "item") else g
                w = w.item() if hasattr(w, "item") else w
                if isinstance(g, float) or isinstance(w, float):
                    try:
                        g, w = float(g), float(w)
                    except (TypeError, ValueError):
                        pass
                if not values_equal(g, w):
                    bad = (col, i, g, w)
                    break
            if bad:
                break
        if bad:
            col, i, g, w = bad
            print(f"FAIL {name}: value mismatch col={col} row={i}: spark={g!r} oracle={w!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows, oracle {dt:.1f}s)")
            n_pass += 1
    tm = f", {len(timeouts)} oracle-timeout" if timeouts else ""
    print(f"== {n_pass} pass, {n_fail} fail{tm} ==")
    if timeouts:
        print("oracle timeouts:", " ".join(timeouts))
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
