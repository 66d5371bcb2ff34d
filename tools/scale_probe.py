#!/usr/bin/env python3
"""Empirical scaling probe: synthesize an sf1-equivalent corpus (10x sf0.1)
and measure how the heavy-tail queries actually scale.

SCALE.md's 100-TB stories are design arguments pinned by plan shape; this
tool adds measured evidence: the observed scaling exponent per query,
alpha = log10(t_sf1 / t_sf0.1), so alpha ~= 1 is linear, ~2 quadratic.
(Wall-clock at local[32] compresses constant factors; the exponent is the
signal, not the absolute seconds.)

Synthesis (deterministic, no RNG): union sf0.1 ten times with key-shifted
ids — SHIFT = i * 10^10 per copy i (keys are BIGINT throughout; the shift
is a multiple of every modulus the queries use, so k % m distributions are
preserved exactly). region/nation stay single-copy (fixed dimensions);
foreign keys shift with their parents so join cardinalities scale 10x.
documents get a per-copy AFFINE CHARACTER BIJECTION + WORD ROTATION
(corpus v3): copy i >= 1 maps letters/digits through x -> a_i*x + b_i (mod
alphabet size, a_i coprime) and then rotates the word list by 7*i, so
(a) byte length is preserved EXACTLY — text bytes grow row-linearly, fixing
v2's 19.84x byte blowup for 10x rows that overstated char-level alphas by
up to +0.30; (b) within-copy duplicate structure is preserved exactly (both
transforms are injective); (c) vocab is distinct per copy (asserted at gen
time on the TRANSFORMED texts — pairwise-disjoint token sets AND doc texts,
so a vocab change that collides fails loudly instead of silently recreating
cross-copy overlap); (d) the pair decorrelates aHash signatures across
copies: the bijection scrambles letter bytes (a uniform shift is a
brightness change aHash is invariant to BY DESIGN — the synth-v1 trap,
phantom alpha=1.60 for q_multimodal_phash), and the rotation moves the
SPACE SKELETON, which the bijection alone leaves at identical byte
alignment in every copy (measured: bijection-only alpha 1.89). embeddings get a
per-copy deterministic sign-flip pattern (norms preserved, copies land in
different SRP octants — no artificial cross-copy neighbors). events shift
ts by i*53 weeks per copy (day-of-week and hour-of-day preserved; the shift
multiplier is derived from the column's arrow time unit, never hardcoded):
keeping timestamps fixed multiplied per-(type, day) co-occurrence CELL
density 10x instead of cell count — the CoGraph user-pair graph came out
102x denser (30,875 -> 3.16M edges at c>=28), so every graph query was
measured against a 100x-edge graph, not 10x data; more days at the SAME
density is what 10x of this workload means.

Usage:
  python3 tools/scale_probe.py gen [--base /root/testdata/sf0.1]
                                   [--out /tmp/graft_sf1] [--copies 10]
  python3 tools/scale_probe.py run [--out /tmp/graft_sf1] [query ...]
      # default query set: the 25 heaviest from bench_r9_full.json;
      # runs graft.PerfProbe (warmup + 2 timed) on sf0.1 and the synth dir,
      # prints min-of-2 construct + execute seconds each + the exponent, writes
      # /tmp/graft_sf1/scale_probe.json
"""
import json
import math
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIFT = 10_000_000_000

# Per-copy affine character bijection (see module doc). a_i must be coprime
# to the alphabet size (26 for letters: odd, not 13; 10 for digits: 1/3/7/9)
# and != 1 for i >= 1 so the map scrambles, never merely shifts.
LETTER_A = [3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
DIGIT_A = [3, 7, 9]


def copy_translation(i):
    """str.translate table for copy i: affine map on a-z, A-Z, 0-9."""
    if i == 0:
        return None
    la = LETTER_A[(i - 1) % len(LETTER_A)]
    da = DIGIT_A[(i - 1) % len(DIGIT_A)]
    table = {}
    for base in (ord("a"), ord("A")):
        for j in range(26):
            table[base + j] = base + (la * j + i) % 26
    for j in range(10):
        table[ord("0") + j] = ord("0") + (da * j + i) % 10
    return table


def transform_text(v, i):
    """Copy i's text transform: affine char bijection + WORD-list rotation
    by 7*i positions. The bijection alone leaves SPACES unmapped, so the
    space skeleton — the dominant brightness structure aHash thresholds
    on — sat at identical byte alignment in every copy and signatures
    stayed correlated (measured: q_multimodal_phash alpha 1.89 on
    bijection-only v3). Rotating the word list moves the skeleton per copy
    (word lengths vary) while preserving the token MULTISET exactly (no
    seam fragments — a char-level rotation splits one word per doc into
    short fragments that collide across copies) and byte length exactly
    (the corpus is single-space separated, asserted in gen)."""
    if v is None or i == 0:
        return v
    toks = v.translate(copy_translation(i)).split(" ")
    # (7*i) % len(toks) degenerates to the IDENTITY whenever the token
    # count divides 7*i (measured: 43-188 of 5000 sf0.1 docs per copy for
    # i >= 2 got bijection-only treatment — the exact correlated-space-
    # skeleton residue the rotation exists to remove; ADVICE r11). Force a
    # nonzero rotation for every multi-token doc: k in 1..len-1 always.
    k = 1 + (7 * i - 1) % (len(toks) - 1) if len(toks) > 1 else 0
    return " ".join(toks[k:] + toks[:k])

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SINGLE = ["region", "nation"]


def shifted_copy(tbl, name, i):
    if i == 0:
        return tbl
    arrays = []
    for col in tbl.column_names:
        a = tbl.column(col)
        if col in KEY_COLS.get(name, []):
            a = pa.chunked_array([
                pa.array([None if v is None else v + i * SHIFT
                          for v in c.to_pylist()], type=a.type)
                for c in a.chunks])
        elif name == "documents" and col == "text":
            # byte-preserving affine bijection + rotation: see module doc (v3)
            a = pa.chunked_array([
                pa.array([transform_text(v, i) for v in c.to_pylist()],
                         type=a.type)
                for c in a.chunks])
        elif name == "events" and col == "ts":
            # 53 weeks per copy: new days at the ORIGINAL per-day density
            # (fixed days would densify co-occurrence cells 10x instead),
            # day-of-week and hour-of-day preserved exactly. The multiplier
            # comes from the column's arrow unit — a hardcoded 1e6 on a
            # nanos base would silently shrink the shift to ~9 hours and
            # reintroduce the densification artifact (ADVICE r10).
            import pyarrow.compute as pc
            unit_per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}
            mult = unit_per_s[a.type.unit]
            shift_units = i * 53 * 7 * 86400 * mult
            a = pa.chunked_array([
                pc.cast(pc.add(pc.cast(c, pa.int64()), shift_units), a.type)
                for c in a.chunks])
        elif name == "embeddings" and col == "embedding":
            def flip(vec):
                if vec is None:
                    return None
                return [-x if (j + i) % 3 == 0 else x
                        for j, x in enumerate(vec)]
            a = pa.chunked_array([
                pa.array([flip(v) for v in c.to_pylist()], type=a.type)
                for c in a.chunks])
        arrays.append(a)
    return pa.table(dict(zip(tbl.column_names, arrays)))


def assert_disjoint_text(tbl, copies):
    """Fail loudly if the per-copy bijections collide on any token or doc
    text across copies (robust to vocab changes — ADVICE r10): cross-copy
    overlap would silently recreate the dup-densification artifact the
    bijection exists to remove."""
    texts = [v for v in tbl.column("text").to_pylist() if v is not None]
    seen_tok, seen_doc = set(), set()
    n_tok0 = 0
    for i in range(copies):
        # byte-linearity is the point of v3 — verify it directly
        for v in texts:
            w = transform_text(v, i)
            if len(w.encode()) != len(v.encode()):
                raise AssertionError(
                    f"copy {i} changed byte length: {len(v)} -> {len(w)}")
        docs = {transform_text(v, i) for v in texts}
        # tokenize the TRANSFORMED texts (the rotation splits one word at
        # the seam, so copy i's vocab is not just the mapped base vocab).
        # Length-1 tokens are exempt: a length-preserving char bijection
        # maps 1-char tokens onto the same 26-letter alphabet, so cross-copy
        # collisions among them are mathematically unavoidable — and they
        # contribute nothing to shingle/n-gram overlap artifacts.
        toks = {w for v in docs for w in v.split() if len(w) >= 2}
        if i == 0:
            n_tok0 = len(toks)
        tok_hit, doc_hit = seen_tok & toks, seen_doc & docs
        if tok_hit or doc_hit:
            raise AssertionError(
                f"copy {i} collides cross-copy: tokens={sorted(tok_hit)[:5]}"
                f" docs={len(doc_hit)} — pick different affine params")
        seen_tok |= toks
        seen_doc |= docs
    print(f"[gen] documents: {n_tok0} base tokens x {copies} copies "
          f"pairwise disjoint (tokens and doc texts)")


def gen(base, out, copies):
    os.makedirs(out, exist_ok=True)
    for name in SINGLE:
        shutil.copyfile(f"{base}/{name}.parquet", f"{out}/{name}.parquet")
    for name in KEY_COLS:
        tbl = pq.read_table(f"{base}/{name}.parquet")
        if name == "documents":
            assert_disjoint_text(tbl, copies)
        parts = [shifted_copy(tbl, name, i) for i in range(copies)]
        big = pa.concat_tables(parts)
        pq.write_table(big, f"{out}/{name}.parquet")
        print(f"[gen] {name}: {tbl.num_rows} -> {big.num_rows} rows")
    print(f"[gen] {copies}x corpus at {out}")


# Excluded from the default probe: components that are QUADRATIC BY
# CONSTRUCTION and documented as such (measuring them only re-measures the
# design note): q_graph_ktruss rides the memoized CoGraph whose
# per-(type, day)-cell user self-join is the known quadratic one-off build
# cost. (q_knn_join_recall left this list in r11: its truth side is now a
# deterministic <=512-probe sample x corpus — measured alpha 0.90.)
EXCLUDE = {"q_graph_ktruss"}


def default_queries():
    d = json.load(open(f"{REPO}/bench_r9_full.json"))
    qs = d.get("queries", d)
    top = [k for k, _ in sorted(qs.items(), key=lambda kv: -kv[1])[:27]]
    return [k for k in top if k not in EXCLUDE][:25]


def time_queries(sfdir, queries):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir, GRAFT_XMX="24g")
    p = subprocess.run(
        [f"{REPO}/tools/run_verify.sh", "graft.PerfProbe"] + queries,
        env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    # PerfProbe prints `query  construct  execute` (min of its timed runs,
    # seconds); a query whose warmup failed prints no such line
    times = {}
    for line in p.stdout.splitlines():
        m = re.match(r"^(\S+)\s+([0-9.]+)\s+([0-9.]+)$", line.strip())
        if m:
            times[m.group(1)] = float(m.group(2)) + float(m.group(3))
    return times


def main():
    args = sys.argv[1:]
    if not args or args[0] not in ("gen", "run"):
        print(__doc__)
        return 2
    mode = args[0]
    rest = args[1:]
    base = "/root/testdata/sf0.1"
    out = "/tmp/graft_sf1"
    copies = 10
    queries = []
    i = 0
    while i < len(rest):
        if rest[i] == "--base":
            base = rest[i + 1]; i += 2
        elif rest[i] == "--out":
            out = rest[i + 1]; i += 2
        elif rest[i] == "--copies":
            copies = int(rest[i + 1]); i += 2
        else:
            queries.append(rest[i]); i += 1
    if mode == "gen":
        gen(base, out, copies)
        return 0
    if not queries:
        queries = default_queries()
    print(f"[probe] {len(queries)} queries, base={base}, synth={out}")
    t0 = time_queries(base, queries)
    print(f"[probe] base done: {len(t0)} timed")
    t1 = time_queries(out, queries)
    print(f"[probe] synth done: {len(t1)} timed")
    result = {}
    print(f"{'query':<28} {'sf0.1':>8} {'sf1':>8} {'alpha':>6}")
    for q in queries:
        if q in t0 and q in t1 and t0[q] > 0:
            alpha = math.log10(t1[q] / t0[q])
            result[q] = {"sf0.1_s": round(t0[q], 2),
                         "sf1_s": round(t1[q], 2),
                         "alpha": round(alpha, 2)}
            print(f"{q:<28} {t0[q]:>8.2f} {t1[q]:>8.2f} {alpha:>6.2f}")
        else:
            result[q] = {"error": "missing timing"}
            print(f"{q:<28} MISSING (sf0.1={q in t0}, sf1={q in t1})")
    with open(f"{out}/scale_probe.json", "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"[probe] wrote {out}/scale_probe.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
