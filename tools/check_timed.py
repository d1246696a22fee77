#!/usr/bin/env python3
"""check.py with per-query wall time, a per-query timeout, and a JSON
artifact — for the large-SF gates where a single oracle (e.g. a recursive
closure over a replicated dup graph) could otherwise stall the whole run.

Usage: python3 tools/check_timed.py <sfdir> <verify_outdir> <artifact.json> [timeout_sec]

Timeouts use a watchdog thread that calls `con.interrupt()` at the
deadline — DuckDB checks for interrupts inside native execution, unlike
SIGALRM which Python only observes between DuckDB calls — with SIGALRM
kept as a backstop for a hang in the Python layer itself. A stuck oracle
records status=timeout and the gate moves on (old connection closed, a
fresh one opened). Tables, normalization and value comparison are
check.py's own (imported from it: exact, NaN-tolerant).

Env: CHECK_RECYCLE_EVERY=N (default 40) reconnects DuckDB every N oracles
(0 disables); errors additionally retry once on a fresh connection.
CHECK_RESUME=1 resumes from an existing artifact. CHECK_ALLOW_ONLY=1
permits a partial (--only) Verify outdir.
"""
import hashlib
import json
import os
import signal
import sys
import threading
import time

import duckdb
import pandas as pd

from check import TABLES, normalize, values_equal


class Timeout(Exception):
    pass


def connect(sfdir, retries=30, backoff_sec=10):
    """Open a fresh in-memory DuckDB over the gate tables.

    Retries with backoff: immediately after a watchdog interrupt the OLD
    instance's buffers may not be released yet (interrupt unwinding is
    asynchronous w.r.t. close()), and a same-instant reconnect measured an
    OutOfMemoryException on a 2KB allocation at factor 50 — the old query
    held ~all host memory. Waiting out the release is the fix; 30x10s far
    exceeds any observed unwind."""
    last = None
    for attempt in range(retries):
        try:
            con = duckdb.connect()
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
            return con
        except Exception as e:  # OOM during unwind — wait and retry
            last = e
            try:
                con.close()
            except Exception:
                pass
            time.sleep(backoff_sec)
    raise last


def run_with_deadline(con, sql, timeout):
    """Execute `sql`, interrupting the native DuckDB task at the deadline.

    The watchdog fires con.interrupt() (honored inside native execution);
    SIGALRM at timeout+30s backstops a hang in the Python layer. Returns
    the result df; raises Timeout if the watchdog fired."""
    fired = threading.Event()
    done = threading.Event()
    lock = threading.Lock()

    def watchdog():
        # completion-guarded: if the query finished just before the deadline
        # (between con.sql returning and timer.cancel), do NOT interrupt or
        # mark a timeout — the computed result is valid and must be kept
        with lock:
            if done.is_set():
                return
            fired.set()
            try:
                con.interrupt()
            except Exception:
                pass

    timer = threading.Timer(timeout, watchdog)
    timer.start()
    signal.alarm(timeout + 30)
    try:
        df = con.sql(sql).df()
        with lock:
            done.set()
    except Exception:
        # fired is only a timeout when the query actually raised
        if fired.is_set():
            raise Timeout()
        raise
    finally:
        timer.cancel()
        signal.alarm(0)
    if fired.is_set():
        # residual race: the timer fired in the window between con.sql()
        # returning and done.set() — the interrupt landed on an idle
        # connection. The computed df is valid, but on DuckDB versions where
        # the interrupt flag is sticky the NEXT query would fail spuriously;
        # absorb the stray flag with a throwaway statement.
        try:
            con.sql("SELECT 1").df()
        except Exception:
            pass
    return df


def main():
    sfdir, outdir, artifact = sys.argv[1], sys.argv[2], sys.argv[3]
    timeout = int(sys.argv[4]) if len(sys.argv) > 4 else 600
    # Periodic connection recycling (r15 verdict #1): the q_repetition f100
    # incident showed accumulated buffer state on a 100+-query connection can
    # spill >69 GB and disk-full-fail a query that passes fresh in 287s.
    # Recycle the DuckDB session every N queries so no oracle ever runs on a
    # connection that old. 0 disables (for A/B byte-identity comparisons).
    # Recycling only changes WHICH connection runs a query, never the SQL or
    # the compare — proven by a stripped-timings diff of recycle-on vs
    # recycle-off artifacts over the same sf0.01 Verify output (r16 notes).
    # Parsed defensively (ADVICE r16): a non-integer env value must fall
    # back to the default with a visible note, not ValueError-crash before
    # any artifact line is written.
    try:
        recycle_every = int(os.environ.get("CHECK_RECYCLE_EVERY", "40"))
    except ValueError:
        print(f"WARN CHECK_RECYCLE_EVERY="
              f"{os.environ['CHECK_RECYCLE_EVERY']!r} is not an integer; "
              "using default 40", flush=True)
        recycle_every = 40
    con = connect(sfdir)
    con_queries = 0  # oracles run on the current connection
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    # Registry-declared scale policy (written by Verify when
    # SPARK_GRAFT_GATE_FACTOR > 1): queries value-gated only up to a lower
    # replication factor are recorded as policy_skip rows in the artifact —
    # the skip is self-describing, not an invocation-note convention.
    gate_factor, policy = 1, {}
    try:
        sp = json.load(open(f"{outdir}/scale_policy.json"))
        gate_factor, policy = sp.get("gate_factor", 1), sp.get("policy", {})
        # A Verify --only run dumps {"only": true, "policy": {}} — that outdir
        # holds a PARTIAL surface with the registry policy bypassed. Treating
        # it as a full-surface gate would record zero policy_skip rows and
        # under-count silently; refuse loudly instead. CHECK_ALLOW_ONLY=1
        # opts back in for deliberate local one-off comparisons.
        if sp.get("only") and os.environ.get("CHECK_ALLOW_ONLY") != "1":
            print(f"REFUSED: {outdir}/scale_policy.json is from a Verify "
                  "--only run (partial surface, policy bypassed). Re-run "
                  "Verify without --only for a full-surface gate, or set "
                  "CHECK_ALLOW_ONLY=1 for a deliberate partial compare.")
            sys.exit(2)
    except FileNotFoundError:
        pass
    signal.signal(signal.SIGALRM, lambda *_: (_ for _ in ()).throw(Timeout()))
    results = {}
    # Fingerprint of what this invocation is actually gating: the inputs
    # (sfdir), the engine outputs (outdir), and the factor. Each recorded
    # row additionally carries sql_sha — the hash of the EXACT oracle SQL it
    # was checked against — so resume trusts a prior row if and only if that
    # query's SQL is unchanged. (A file-level oracle hash was too coarse: a
    # single-oracle fix partway through a multi-hour gate invalidated every
    # finished row, forcing a full re-run to repair one query.)
    def sql_sha(sql):
        return hashlib.sha256(sql.encode()).hexdigest()[:16]
    invocation = {"sfdir": sfdir, "outdir": outdir, "gate_factor": gate_factor}
    # Resume: with CHECK_RESUME=1 and an existing artifact, queries already
    # recorded there are kept as-is and skipped — a crash partway through a
    # multi-hour gate (e.g. the factor-50 reconnect OOM this guards against)
    # no longer costs the finished prefix. Default off: a fresh gate run
    # overwrites the artifact from scratch.
    if os.environ.get("CHECK_RESUME") == "1":
        try:
            prior_doc = json.load(open(artifact))
            prior_inv = {k: prior_doc.get(k) for k in invocation}
            if prior_inv == invocation:
                prior = prior_doc.get("queries", {})
                for k, v in prior.items():
                    # a prior policy_skip row is only still valid if the
                    # CURRENT policy also skips this query at this factor —
                    # if a registry cap was raised so the query must now run,
                    # keeping the stale row would silently skip the value
                    # check while still counting toward a green gate
                    if (v.get("status") == "policy_skip" and k in policy
                            and policy[k].get("max_gate_factor",
                                              float("inf")) < gate_factor):
                        results[k] = v
                    elif (v.get("status") == "pass" and k in oracle
                          and v.get("sql_sha") == sql_sha(oracle[k])):
                        results[k] = v
                dropped = len(prior) - len(results)
                if results:
                    print(f"RESUME  {len(results)} prior results kept from "
                          f"{artifact}" + (f" ({dropped} dropped: failed, "
                          "or oracle SQL changed)" if dropped else ""))
            else:
                print(f"RESUME REFUSED: artifact invocation {prior_inv} != "
                      f"current {invocation}; starting fresh")
        except FileNotFoundError:
            pass

    def dump_partial():
        counts = {}
        for r in results.values():
            counts[r["status"]] = counts.get(r["status"], 0) + 1
        with open(artifact, "w") as f:
            json.dump({**invocation, "timeout_sec": timeout,
                       "counts": counts, "n": len(results),
                       "queries": results}, f, indent=1)
        return counts

    for name, sql in sorted(oracle.items()):
        if name in results:
            continue
        if recycle_every > 0 and con_queries >= recycle_every:
            # proactive recycle (r15 verdict #1): never let an oracle run on
            # a connection whose accumulated buffer state is 40+ queries deep
            try:
                con.close()
            except Exception:
                pass
            con = connect(sfdir)
            con_queries = 0
            print(f"RECYCLE fresh connection (every {recycle_every} queries)",
                  flush=True)
        t0 = time.time()
        t_duck = None  # DuckDB execution wall alone — the watchdog-relevant
        # time; `sec` also includes the pandas normalize + compare, which on
        # multi-M-row outputs can dominate (observed 38s DuckDB vs ~450s
        # total at factor 50) and would otherwise misread as watchdog risk.
        status, detail, first_error = "pass", "", None
        for attempt in (1, 2):
            status, detail = "pass", ""
            # reset per attempt (ADVICE r16): attempt 1 can set t_duck and
            # then error in the compare; if attempt 2 fails before its own
            # t_duck assignment, the artifact must not carry attempt 1's
            # stale duckdb_sec against attempt 2's failure.
            t_duck = None
            a0 = time.time()
            try:
                con_queries += 1
                exp_raw = run_with_deadline(con, sql, timeout)
                t_duck = round(time.time() - a0, 2)
                exp = normalize(exp_raw)
                got = normalize(pd.read_parquet(f"{outdir}/{name}"))
                if sorted(exp.columns) != sorted(got.columns):
                    status, detail = "fail", f"columns exp={sorted(exp.columns)} got={sorted(got.columns)}"
                elif len(exp) != len(got):
                    status, detail = "fail", f"rows exp={len(exp)} got={len(got)}"
                else:
                    for c in exp.columns:
                        ev, gv = exp[c].tolist(), got[c].tolist()
                        bad = next((i for i, (a, b) in enumerate(zip(ev, gv))
                                    if not values_equal(a, b)), None)
                        if bad is not None:
                            status = "fail"
                            detail = f"value mismatch col={c} row={bad} exp={ev[bad]!r} got={gv[bad]!r}"
                            break
            except Timeout:
                status, detail = "timeout", f"oracle exceeded {timeout}s"
                # the connection holds an interrupted query; close and reopen
                try:
                    con.close()
                except Exception:
                    pass
                con = connect(sfdir)
                con_queries = 0
            except Exception as e:
                status, detail = "error", f"{type(e).__name__}: {e}"
                # Reconnect after ANY error, not just timeouts: a DuckDB
                # OutOfMemoryException leaves the instance's buffers pinned —
                # measured live at factor 100, the very next query failed a
                # 2KB allocation and the run wedged. connect() retries with
                # backoff while the dead instance releases asynchronously.
                try:
                    con.close()
                except Exception:
                    pass
                con = connect(sfdir)
                con_queries = 0
            if status == "error" and attempt == 1:
                # Errors retry ONCE on the fresh connection just opened
                # (r15 verdict #1): spill-class failures (disk-full / OOM on
                # temp) are connection-state artifacts as often as real bugs
                # — q_repetition at f100 disk-full-errored at 688s on the
                # long-lived connection, then passed fresh in 287s with the
                # same oracle sha. Timeouts are NOT retried (the watchdog
                # budget is already spent once).
                first_error = detail
                print(f"RETRY   {name} on a fresh connection after: "
                      f"{detail[:150]}", flush=True)
                continue
            break
        # `sec` is wall from t0 and DELIBERATELY includes any retry (the
        # operator-facing cost of the query); duckdb_sec/compare_sec are
        # per-FINAL-attempt (a0 restarts each attempt), so for a retried
        # query sec > duckdb_sec + compare_sec by attempt 1's spent time
        # (ADVICE r16 — previously compare_sec spanned both attempts).
        sec = round(time.time() - t0, 2)
        attempt_sec = round(time.time() - a0, 2)
        results[name] = {"status": status, "sec": sec,
                         **({"sql_sha": sql_sha(sql)} if status == "pass" else {}),
                         **({"duckdb_sec": t_duck,
                             "compare_sec": round(attempt_sec - t_duck, 2)} if t_duck is not None else {}),
                         **({"rows": len(exp)} if status == "pass" else {"detail": detail[:400]}),
                         **({"retried_after": first_error[:200]} if first_error is not None else {})}
        print(f"{status.upper():7s} {name} ({sec}s"
              + (f", duckdb {t_duck}s" if t_duck is not None else "") + ")"
              + ("" if status == "pass" else f": {detail[:200]}"), flush=True)
        # drop the frames before the next oracle runs: at factor 100 a
        # multi-M-row exp/got pair holds GBs that the next query's DuckDB
        # execution needs
        exp_raw = exp = got = None
        dump_partial()  # crash-safe: the artifact is valid after every query
    for name, pol in sorted(policy.items()):
        if pol.get("max_gate_factor", 10**9) < gate_factor and name not in results:
            results[name] = {"status": "policy_skip",
                             "max_gate_factor": pol["max_gate_factor"],
                             "reason": pol.get("reason", "")}
            print(f"POLICY_SKIP {name} (max_gate_factor "
                  f"{pol['max_gate_factor']} < {gate_factor})")
    counts = dump_partial()
    print(f"\n{counts}")
    ok = counts.get("pass", 0) + counts.get("policy_skip", 0) == len(results)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
