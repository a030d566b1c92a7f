"""Resilient, resumable driver-contract sweep at an arbitrary scale factor.

Compares with ``perfbench.checks.mismatch``, the comparator
tests/test_driver_contract.py uses (canonical column and row sort,
dtype-kind strictness with unsigned folded to signed, NaN-tolerant value
equality), but runs each query in its OWN subprocess — fresh Spark JVM
+ fresh DuckDB connection — so a silent JVM exit or a multi-hour oracle
stall costs one row, not the sweep. Motivation: the first round-6 sf1.0
sweep ran all 50 rows through one pytest process and lost the 33
remaining rows when the shared session-scoped JVM died as a
zombie 16 tests in (BENCH/sweep_sf1_r6b_partial.log).

Usage:
  parent:  python scripts/sweep_contract.py --sf-dir /root/repo/.sfdata/sf1.0 \
               --ledger BENCH/sweep_sf1_r6.jsonl [--timeout 7200]
  child:   python scripts/sweep_contract.py --one NAME --sf-dir DIR

The ledger is append-only JSONL, one row per query; a rerun skips names
already recorded with status "pass" (failures/timeouts are retried), so
the sweep resumes after interruption. Known-heavy dedup-family queries
run last so cheap rows bank green first.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Dedup/curation family: minutes-scale DuckDB twins at sf1.0 — run last.
HEAVY = [
    "ngram_exact_dups",
    "dedup_planted_dups",
    "minhash_dup_pairs",
    "minhash_guard_planted_template",
    "incremental_dedup_planted",
    "simhash_near_pairs",
    "curation_curated",
]


PAIRS_PER_CHUNK = 400_000_000  # sf1.0-proven one-shot size (93 s, in-RAM)


def auto_chunks(name: str, sf_dir: str) -> int:
    """Chunk count for the quadratic ANN twins from corpus size alone:
    each chunk materializes ~n_emb^2/chunks narrow pair rows, so cap a
    chunk at the one-shot volume sf1.0 handled comfortably in RAM
    (20k^2 = 400M pairs). sf3.0 (60k) -> 9 chunks; anything the
    unchunked oracle already handled (<= sf1.0) -> 1."""
    import math

    from ferrobus_spark.registry_ext import ORACLE_CHUNKERS

    if name not in ORACLE_CHUNKERS:
        return 1
    import pyarrow.parquet as pq

    n = pq.read_metadata(os.path.join(sf_dir, "embeddings.parquet")).num_rows
    return max(1, math.ceil(n * n / PAIRS_PER_CHUNK))


def run_one(name: str, sf_dir: str, oracle_chunks: int = 1) -> dict:
    # data-dependent oracles (the IVF quantizer twin) read the gate's sf
    # directory from this env var, not from the queries() argument — keep
    # both in lockstep or the oracle trains on the wrong corpus
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import duckdb

    import __spark_entry__ as entry_mod
    from ferrobus_spark.session import get_spark
    from perfbench.checks import mismatch

    rec: dict = {"name": name, "sf_dir": sf_dir}
    spark = get_spark("sweep", master="local[8]", shuffle_partitions=8)
    t0 = time.time()
    got = entry_mod.queries()[name](spark, sf_dir).toPandas()
    rec["spark_s"] = round(time.time() - t0, 2)
    rec["rows"] = len(got)

    con = duckdb.connect()
    # cap + spill: DuckDB's default limit (80% of RAM) let one runaway
    # oracle sort reach 90 GB RSS and threaten the whole host; bound it
    # and give it a spill dir so heavy sorts go to disk instead. The cap
    # is deliberately HIGH (children run one at a time): a 40 GB cap
    # pushed the minhash twin's 723M-row aggregate buffer to disk and
    # filled the 80 GB of free /tmp instead of the 125 GB of free RAM.
    con.sql("SET memory_limit='85GB'")
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    t0 = time.time()
    if oracle_chunks > 1:
        # quadratic-twin escape hatch: the exact-kNN / IVF oracles
        # materialize O(pairs) narrow rows; at sf3.0 that is ~9x the
        # sf1.0 volume and exceeds RAM + spill disk in one shot. The
        # chunkers inject `AND q.vec_id % n = i` on the QUERY side only
        # — ROW_NUMBER partitions by query_id, so the concatenation is
        # row-identical to the unchunked SQL (equivalence pinned by
        # tests/test_driver_contract.py::test_chunked_oracle_equivalence).
        import pandas as pd

        from ferrobus_spark.registry_ext import ORACLE_CHUNKERS

        parts = [
            con.sql(ORACLE_CHUNKERS[name](oracle_chunks, i)).df()
            for i in range(oracle_chunks)
        ]
        exp = pd.concat(parts, ignore_index=True)
        rec["oracle_chunks"] = oracle_chunks
    else:
        exp = con.sql(entry_mod.oracle_sql()[name]).df()
    rec["oracle_s"] = round(time.time() - t0, 2)

    err = mismatch(got, exp)
    rec["status"] = "pass" if err is None else "fail"
    if err is not None:
        rec["err"] = err[:2000]
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--ledger", default=None)
    ap.add_argument("--one", default=None)
    ap.add_argument("--timeout", type=int, default=7200)
    ap.add_argument("--only", default=None, help="comma-separated name filter")
    ap.add_argument(
        "--oracle-chunks", default=None,
        help="child: integer N; parent: per-name spec 'name=N,name=N' — "
        "run the (quadratic) oracle in N query-id modulo slices",
    )
    args = ap.parse_args()

    if args.one:
        # no explicit spec -> size chunks from the corpus (auto_chunks
        # returns 1 for non-quadratic twins and at <= sf1.0 scale)
        n_chunks = (int(args.oracle_chunks) if args.oracle_chunks
                    else auto_chunks(args.one, args.sf_dir))
        rec = run_one(args.one, args.sf_dir, oracle_chunks=n_chunks)
        print("SWEEPREC " + json.dumps(rec), flush=True)
        return

    # one parent per ledger: a crashed session's surviving parent and a
    # resumed one appending concurrently duplicate minutes-scale oracle
    # rows (hit 2026-08-18 during the sf3.0 sweep). flock is released
    # by the kernel on ANY parent death, so a SIGKILL never leaves a
    # stale lock and the chaos-test resume path is unaffected.
    if args.ledger:
        import fcntl

        lock_f = open(args.ledger + ".lock", "w")
        try:
            fcntl.flock(lock_f, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            print(
                f"another sweep parent holds {args.ledger}.lock — "
                "wait for it or kill it before resuming", file=sys.stderr,
            )
            sys.exit(2)

    chunk_spec: dict[str, int] = {}
    if args.oracle_chunks:
        for kv in args.oracle_chunks.split(","):
            k, _, v = kv.partition("=")
            chunk_spec[k.strip()] = int(v)

    import __spark_entry__ as entry_mod

    names = sorted(entry_mod.oracle_sql().keys())
    names = [n for n in names if n not in HEAVY] + [n for n in HEAVY if n in names]
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]

    done: set[str] = set()
    if args.ledger and os.path.exists(args.ledger):
        with open(args.ledger) as f:
            for line in f:
                r = json.loads(line)
                if r.get("status") == "pass":
                    done.add(r["name"])

    for name in names:
        if name in done:
            print(f"skip {name} (ledger pass)", flush=True)
            continue
        print(f"run {name} ...", flush=True)
        t0 = time.time()
        try:
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--one", name, "--sf-dir", args.sf_dir]
            if chunk_spec.get(name, 1) > 1:
                cmd += ["--oracle-chunks", str(chunk_spec[name])]
            p = subprocess.run(
                cmd,
                capture_output=True, text=True, timeout=args.timeout, cwd=REPO,
            )
            rec = None
            for line in p.stdout.splitlines():
                if line.startswith("SWEEPREC "):
                    rec = json.loads(line[len("SWEEPREC "):])
            if rec is None:
                rec = {
                    "name": name, "sf_dir": args.sf_dir, "status": "error",
                    "err": (p.stderr or p.stdout)[-2000:],
                }
        except subprocess.TimeoutExpired:
            rec = {
                "name": name, "sf_dir": args.sf_dir, "status": "timeout",
                "err": f"exceeded {args.timeout}s",
            }
        rec["wall_s"] = round(time.time() - t0, 2)
        rec["ts"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        if args.ledger:
            with open(args.ledger, "a") as f:
                f.write(json.dumps(rec) + "\n")
        print(f"  -> {rec['status']} ({rec['wall_s']}s)", flush=True)


if __name__ == "__main__":
    main()
