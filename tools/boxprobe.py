#!/usr/bin/env python3
"""Deterministic CPU microprobe recorded alongside bench captures.

Bench totals on this box swing ±25% with host state that /proc/cpuinfo
does not expose (fixed 2100 MHz readout). This probe gives each capture a
box-speed anchor so a future round can adjudicate "uniform slowdown vs
real regression" with a measured ratio instead of a median-of-ratios
argument.

Four numbers, best-of-5 trials each, and the process tax:
  st_mibps  — single-thread sha256 over a fixed 1 MiB buffer, MiB/s.
  mt_mibps  — the same work fanned across all cores via multiprocessing.
  mem_gbps  — single-thread large-block memcpy (256 MiB bytearray copy),
              GiB/s. Round-12 evidence: sha256 throughput stayed flat
              across a 20% bench swing (the hash core is not what the host
              throttles), so the memory-bandwidth and steal numbers are
              the anchors that matter for Spark-shaped work.
  steal_pct — guest-visible hypervisor steal (/proc/stat field 8) sampled
              across the mt phase, i.e. WHILE all cores are busy; idle
              steal reads ~0 even on a throttled host.
  spawn_ms  — median wall time to spawn and reap `/bin/true`, over 20
              trials, ms: the host's per-process tax. Every fork a JVM
              makes (Hadoop's `chmod`/`readlink` shell-outs on a host
              without its native library) pays at least this much.

Usage: boxprobe.py [OUT.json]   (prints one JSON line; also writes OUT)
"""
import hashlib
import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

BUF = bytes(range(256)) * 4096  # 1 MiB deterministic buffer
ROUNDS = 64


def hash_work(_=None):
    h = hashlib.sha256()
    for _ in range(ROUNDS):
        h.update(BUF)
    return h.hexdigest()


MEM_MIB = 256


def mem_work(_=None):
    src = bytearray(MEM_MIB << 20)
    dst = bytearray(MEM_MIB << 20)
    t0 = time.perf_counter()
    dst[:] = src
    return time.perf_counter() - t0


def cpu_jiffies():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def best_of(f, n=5):
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        f()
        best = min(best, time.perf_counter() - t0)
    return best


SPAWN_TRIALS = 20


def spawn_ms():
    times = []
    for _ in range(SPAWN_TRIALS):
        t0 = time.perf_counter()
        subprocess.run(["/bin/true"], check=True)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000


def main():
    mib = ROUNDS  # MiB hashed per single call
    st = best_of(hash_work)
    mem = min(mem_work() for _ in range(5))
    ncpu = os.cpu_count()
    s0, t0 = cpu_jiffies()
    with mp.Pool(ncpu) as pool:
        mt = best_of(lambda: pool.map(hash_work, range(ncpu)))
    s1, t1 = cpu_jiffies()
    doc = {
        "st_mibps": round(mib / st, 1),
        "mt_mibps": round(mib * ncpu / mt, 1),
        "mem_gbps": round(MEM_MIB / 1024 / mem, 2),
        "steal_pct": round(100 * (s1 - s0) / max(t1 - t0, 1), 2),
        "spawn_ms": round(spawn_ms(), 3),
        "ncpu": ncpu,
        "load1": round(os.getloadavg()[0], 2),
        "ts": int(time.time()),
    }
    line = json.dumps(doc)
    print(line)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
