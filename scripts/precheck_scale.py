#!/usr/bin/env python3
"""Scale-rehearsal variant of precheck.py: per-oracle wall-clock budget.

Same compare as the driver gate (columns sorted by name, stringified,
rows sorted), but each DuckDB oracle runs in its own subprocess with a
timeout: at 10x-100x data a handful of oracles are DOCUMENTED quadratic
twins (exact all-pairs cosine, recursive-CTE components) whose DuckDB
replay is out of its regime by design — they must show up as an honest
per-query TIMEOUT line in the artifact, not hang the whole check or get
silently skipped. Dev tooling only — not part of the shipped library.

Usage: python3 scripts/precheck_scale.py <sfdir> <outdir> [timeout_sec]
           [shard_idx shard_count]

The optional shard pair partitions the oracle map by sorted position so
independent processes can split a multi-hour scale check; concatenate
their outputs for the artifact.
"""
import importlib.util
import json
import multiprocessing as mp
import sys
import time
from pathlib import Path

# The table list and the compare rule are precheck.py's, so the two
# checks cannot drift apart.
_spec = importlib.util.spec_from_file_location(
    "precheck", Path(__file__).resolve().parent / "precheck.py")
_precheck = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_precheck)
TABLES = _precheck.TABLES
canon = _precheck.canon


def check_one(sfdir, outdir, name, sql, q):
    import duckdb
    import os
    import shutil
    con = duckdb.connect()
    # Let big oracles spill instead of dying: at 100x data a handful of
    # sketch-pipeline replays (the minhash oracle's per-seed min over
    # ~100M gram rows x 32 seeds) exceed RAM; without a temp directory
    # DuckDB's allocator kills the worker mid-query. The directory must
    # be per-worker unique: DuckDB temp file names (duckdb_temp_storage-N
    # .tmp) are not process-unique, so the sharded run's concurrent
    # workers would clobber each other's spill blocks in a shared dir.
    spill = f"/tmp/duckdb_spill_{os.getpid()}"
    con.execute(f"SET temp_directory='{spill}'")
    # Per-worker spill budget is env-tunable: N concurrent shard workers
    # each claim this much of the SAME disk, so the product must stay
    # under the box's free space (2 x 40GiB on a 38GiB-free disk filled
    # it mid-oracle at the r10 sf10 rehearsal — the default now fits a
    # single worker on that measured floor; sharded callers MUST set it
    # to free_disk / shard_count themselves).
    con.execute("SET max_temp_directory_size='"
                + os.environ.get("PRECHECK_DUCKDB_TMP", "16GiB") + "'")
    # Bound each worker's memory (sharded runs put several DuckDB
    # processes on one box; the default 80%-of-RAM limit per process
    # invites the OS OOM killer — the worker then "crashes" without
    # ever reaching its own spill path).
    con.execute("SET memory_limit='"
                + __import__("os").environ.get("PRECHECK_DUCKDB_MEM", "14GiB")
                + "'")
    # Bound worker threads too: DuckDB defaults to one thread per core,
    # so N shard workers on a 32-core box would run N x 32 threads; at
    # the r11 rehearsal a worker under memory pressure then failed in
    # pthread_create while REPORTING its verdict (the queue feeder
    # thread), turning an honest RESOURCE row into ORACLE-DIED.
    con.execute("SET threads="
                + __import__("os").environ.get("PRECHECK_DUCKDB_THREADS", "12"))
    for t in TABLES:
        path = Path(f"{sfdir}/{t}.parquet")
        src = f"{path}/*.parquet" if path.is_dir() else str(path)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    try:
        pdir = Path(outdir) / name
        if not pdir.exists():
            q.put(("MISSING", "no spark output"))
            return
        try:
            spark_df = con.execute(f"SELECT * FROM '{pdir}/*.parquet'").df()
            duck_df = con.execute(sql).df()
        except Exception as e:
            msg = str(e)
            # Resource exhaustion INSIDE the oracle engine (its own
            # memory limit, or the spill disk filling) is the same
            # evidence class as an OOM-killed worker: the oracle cannot
            # testify either way — counted with the timeouts. Genuinely
            # broken oracle SQL stays ERROR/BAD: a builder bug.
            one_line = " ".join(msg[:300].split())[:200]
            if ("Out of Memory" in msg or "No space left" in msg
                    or "max_temp_directory_size" in msg):
                q.put(("RESOURCE", one_line))
            else:
                q.put(("ERROR", one_line))
            return
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            q.put(("SCHEMA", f"spark={list(a.columns)} duck={list(b.columns)}"))
        elif len(a) != len(b):
            q.put(("ROWS", f"spark={len(a)} duck={len(b)}"))
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            q.put(("VALUES", f"{int(neq.sum())}/{len(a)} rows differ"))
        else:
            q.put(("OK", f"{len(a)} rows"))
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)


def main(sfdir, outdir, timeout=900, shard_idx=0, shard_count=1):
    import shutil
    # Spot-check dumps write the suffixed oracle file (see Verify);
    # prefer it when present so a filtered scale dump self-describes.
    spot = Path(f"{outdir}/oracle_sql.spotcheck.json")
    path = spot if spot.exists() else Path(f"{outdir}/oracle_sql.json")
    oracle = json.loads(path.read_text())
    counts = {"OK": 0, "TIMEOUT": 0, "BAD": 0}
    items = [kv for i, kv in enumerate(sorted(oracle.items()))
             if i % shard_count == shard_idx]
    for name, sql in items:
        t0 = time.time()
        q = mp.Queue()
        p = mp.Process(target=check_one, args=(sfdir, outdir, name, sql, q))
        p.start()
        p.join(timeout)
        if p.is_alive():
            p.terminate()
            p.join()
            # SIGTERM skips the worker's finally-block, so the spill dir
            # survives exactly on the paths where it is LARGEST (the r10
            # sf10 rehearsal left a 34 GiB /tmp/duckdb_spill_<pid> behind
            # a timed-out worker and starved every later shard). The
            # parent reconstructs the path from the pid it just killed.
            shutil.rmtree(f"/tmp/duckdb_spill_{p.pid}", ignore_errors=True)
            print(f"TIMEOUT  {name} (oracle exceeded {timeout}s)", flush=True)
            counts["TIMEOUT"] += 1
            continue
        # A worker that died without reporting (typically the oracle
        # engine OOM-killed mid-query) cannot testify either way: it is
        # an ORACLE-RESOURCE failure, counted with the timeouts, not a
        # value mismatch. An explicit ("ERROR", ...) from check_one (a
        # broken oracle SQL) stays BAD — that is a builder bug.
        # q.empty() immediately after join() is documented-unreliable
        # (the feeder thread may not have flushed); a blocking get with
        # a grace timeout never drops a verdict the worker DID put.
        try:
            status, detail = q.get(timeout=5)
        except Exception:
            # OS OOM-kill also skips the worker's finally-block cleanup
            # (same leak class as the terminate() path above).
            shutil.rmtree(f"/tmp/duckdb_spill_{p.pid}", ignore_errors=True)
            print(f"ORACLE-DIED {name} (oracle worker crashed, resources) "
                  f"[{time.time() - t0:.0f}s]", flush=True)
            counts["TIMEOUT"] += 1
            continue
        dt = time.time() - t0
        print(f"{status:8} {name} ({detail}) [{dt:.0f}s]", flush=True)
        if status == "OK":
            counts["OK"] += 1
        elif status == "RESOURCE":
            counts["TIMEOUT"] += 1
        else:
            counts["BAD"] += 1
    print(f"\n{counts['OK']} ok, {counts['BAD']} bad, "
          f"{counts['TIMEOUT']} oracle-timeout-or-died")
    sys.exit(1 if counts["BAD"] else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         int(sys.argv[3]) if len(sys.argv) > 3 else 900,
         int(sys.argv[4]) if len(sys.argv) > 4 else 0,
         int(sys.argv[5]) if len(sys.argv) > 5 else 1)
