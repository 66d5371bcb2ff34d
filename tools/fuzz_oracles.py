#!/usr/bin/env python3
"""Adversarial-data oracle fuzz for the t2 surface.

The clean synthetic corpus is 100% integral quantities / 2-dp prices, so a
cross-engine cast hole (Spark truncates DOUBLE->BIGINT, DuckDB rounds
half-even) stays invisible until the driver's corpus changes. This tool
generates a deterministically perturbed twin of an sf dir, runs graft.Verify
on it, and replays the check_oracles hash gate against the perturbed data —
any red row is a latent cross-engine divergence, not a data bug.

Perturbations (all index/key-modular, no RNG):
  lineitem:
    - l_orderkey % 7 == 3  -> l_quantity += 0.5    (binary-exact half)
    - l_orderkey % 7 == 5  -> l_quantity += 0.675  (the 2.675 truncate-vs-
                              round case the round-9 judge verified live)
    - l_orderkey % 11 == 2 -> l_extendedprice += 0.005 (x.xx5 shortest repr)
    - l_orderkey % 13 == 4 -> l_extendedprice = floor + 0.125 (binary-exact
                              half at 2dp: the DECIMAL(18,2) tie boundary)
    - l_orderkey % 17 == 6 -> l_partkey = NULL     (NULL join key)
    - rows with l_orderkey % 19 == 7 appended again (full-duplicate rows)
  orders:
    - o_orderkey % 23 == 3 -> o_custkey = NULL     (NULL join key)
    - o_orderkey % 11 == 2 -> o_totalprice += 0.005
  events:
    - event_id % 11 == 2 -> value += 0.005
    - event_id % 13 == 4 -> value = floor + 0.125
    - the max-event_id row's event_type -> 'fuzz_solo' (single-row group:
      exercises the n=1 / g=1 / zero-cell degenerate-group guards)

Cast-semantics ground truth (measured live, Spark 4.1.2 vs DuckDB 1.x —
the Spark side is asserted by PropertySpec "Spark cast facts the oracle
twins rely on", the DuckDB side is the probe below):
  - CAST(DOUBLE AS DECIMAL(18,2)): both engines round the shortest decimal
    repr half-away-from-zero (1.005 -> 1.01, 0.125 -> 0.13, 2.675 -> 2.68,
    -1.005 -> -1.01). The cents pattern is cross-engine safe.
  - round(DECIMAL(30,8), 2): half-away in both (dround twin safe).
  - CAST(DOUBLE AS BIGINT): Spark truncates, DuckDB rounds half-even
    (2.675 -> 2 vs 3; 15.5 -> 15 vs 16). DIVERGENT — every twin must route
    through floor() (CLAUDE.md invariant, swept in round 10).
  - CAST(DECIMAL(30,8) AS DECIMAL(18,2)) bare rescale: Spark HALF_UP,
    DuckDB truncates (1.00500000 -> 1.01 vs 1.00). DIVERGENT — never
    rescale a decimal by bare CAST in a twin; round(dec, s) first.

Usage:
  python3 tools/fuzz_oracles.py [--base DIR] [--out DIR] [--skip-gen]
                                [--probe] [query ...]
  --base      source sf dir (default /root/testdata/sf0.001)
  --out       work dir (default /tmp/graft_fuzz); data in out/sf,
              Spark dumps in out/verify, log in out/fuzz_log.txt
  --skip-gen  reuse out/sf from a previous run
  --probe     print the DuckDB cast-semantics table and exit
  query ...   restrict to the named queries (dev loop)
"""
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def probe():
    import duckdb
    q = """SELECT
      CAST(CAST(1.005 AS DOUBLE) AS DECIMAL(18,2))  AS d1005,
      CAST(CAST(0.125 AS DOUBLE) AS DECIMAL(18,2))  AS d0125,
      CAST(CAST(2.675 AS DOUBLE) AS DECIMAL(18,2))  AS d2675,
      CAST(CAST(-1.005 AS DOUBLE) AS DECIMAL(18,2)) AS dm1005,
      round(CAST(CAST(1.005 AS DOUBLE) AS DECIMAL(30,8)), 2) AS r1005,
      CAST(CAST(2.675 AS DOUBLE) AS BIGINT)  AS b2675,
      CAST(CAST(15.5 AS DOUBLE) AS BIGINT)   AS b155,
      CAST(CAST(-2.675 AS DOUBLE) AS BIGINT) AS bm2675,
      CAST(CAST(CAST(1.005 AS DOUBLE) AS DECIMAL(30,8)) AS DECIMAL(18,2))
        AS rescale1005"""
    print(duckdb.sql(q))


def _mutate(tbl, key_col, mods):
    """Apply {col: [(modulus, residue, fn), ...]} to an arrow table.

    fn maps a python value -> new value (None allowed); rows where
    key % modulus == residue are rewritten. Deterministic, no RNG.
    """
    keys = tbl.column(key_col).to_pylist()
    out = {}
    for name in tbl.column_names:
        col = tbl.column(name).to_pylist()
        for (modulus, residue, fn) in mods.get(name, []):
            col = [fn(v) if k is not None and k % modulus == residue else v
                   for v, k in zip(col, keys)]
        out[name] = col
    return pa.table(
        {n: pa.array(out[n], type=tbl.schema.field(n).type)
         for n in tbl.column_names})


def gen(base, sf_out):
    os.makedirs(sf_out, exist_ok=True)
    for t in TABLES:
        src = f"{base}/{t}.parquet"
        dst = f"{sf_out}/{t}.parquet"
        if t == "lineitem":
            tbl = pq.read_table(src)
            tbl = _mutate(tbl, "l_orderkey", {
                "l_quantity": [(7, 3, lambda v: v + 0.5),
                               (7, 5, lambda v: v + 0.675)],
                "l_extendedprice": [(11, 2, lambda v: v + 0.005),
                                    (13, 4, lambda v: float(int(v)) + 0.125)],
                "l_partkey": [(17, 6, lambda v: None)],
            })
            dup_mask = pa.array(
                [k is not None and k % 19 == 7
                 for k in tbl.column("l_orderkey").to_pylist()])
            n_dup = tbl.filter(dup_mask).num_rows
            tbl = pa.concat_tables([tbl, tbl.filter(dup_mask)])
            pq.write_table(tbl, dst)
            print(f"[gen] lineitem: {tbl.num_rows} rows (+{n_dup} dups)")
        elif t == "orders":
            tbl = pq.read_table(src)
            tbl = _mutate(tbl, "o_orderkey", {
                "o_custkey": [(23, 3, lambda v: None)],
                "o_totalprice": [(11, 2, lambda v: v + 0.005)],
            })
            pq.write_table(tbl, dst)
            print(f"[gen] orders: {tbl.num_rows} rows")
        elif t == "events":
            tbl = pq.read_table(src)
            tbl = _mutate(tbl, "event_id", {
                "value": [(11, 2, lambda v: v + 0.005),
                          (13, 4, lambda v: float(int(v)) + 0.125)],
            })
            # single-row group: retype the max-event_id row
            ids = tbl.column("event_id").to_pylist()
            imax = ids.index(max(ids))
            etypes = tbl.column("event_type").to_pylist()
            etypes[imax] = "fuzz_solo"
            tbl = tbl.set_column(
                tbl.column_names.index("event_type"), "event_type",
                pa.array(etypes, type=pa.string()))
            pq.write_table(tbl, dst)
            print(f"[gen] events: {tbl.num_rows} rows (fuzz_solo @ {imax})")
        else:
            shutil.copyfile(src, dst)
    print(f"[gen] perturbed twin at {sf_out}")


def main():
    args = [a for a in sys.argv[1:]]
    if "--probe" in args:
        probe()
        return 0
    base = "/root/testdata/sf0.001"
    out = "/tmp/graft_fuzz"
    skip_gen = False
    queries = []
    i = 0
    while i < len(args):
        if args[i] == "--base":
            base = args[i + 1]; i += 2
        elif args[i] == "--out":
            out = args[i + 1]; i += 2
        elif args[i] == "--skip-gen":
            skip_gen = True; i += 1
        else:
            queries.append(args[i]); i += 1
    sf = f"{out}/sf"
    vdir = f"{out}/verify"
    if not skip_gen:
        shutil.rmtree(out, ignore_errors=True)
        gen(base, sf)
    shutil.rmtree(vdir, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    # GRAFT_CLASSES: optional snapshot classes dir so a concurrent compile
    # cannot clobber lazily-loaded classfiles mid-run (SKILL.md discipline)
    cls = os.environ.get("GRAFT_CLASSES")
    runner = ([f"{REPO}/tools/run_snapshot.sh", cls] if cls
              else [f"{REPO}/tools/run_verify.sh"])
    print(f"[fuzz] running graft.Verify on {sf} ...")
    with open(f"{out}/verify.err", "w") as errf:
        rc = subprocess.run(
            runner + ["graft.Verify", sf, vdir] + queries,
            env=env, stdout=subprocess.DEVNULL, stderr=errf).returncode
    threw = [l for l in open(f"{out}/verify.err")
             if l.startswith("[verify]")]
    for l in threw:
        print("  " + l.rstrip())
    if rc != 0:
        print(f"[fuzz] Verify exited {rc}")
    print(f"[fuzz] comparing against DuckDB on the perturbed twin ...")
    with open(f"{out}/fuzz_log.txt", "w") as log:
        p = subprocess.run(
            [sys.executable, f"{REPO}/tools/check_oracles.py", sf, vdir]
            + queries,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        log.write(p.stdout)
    fails = [l for l in p.stdout.splitlines() if l.startswith("  FAIL")]
    print(p.stdout.splitlines()[-1] if p.stdout else "(no output)")
    for l in fails:
        print(l)
    print(f"[fuzz] full log: {out}/fuzz_log.txt")
    return 1 if (fails or threw or rc != 0) else 0


if __name__ == "__main__":
    sys.exit(main())
