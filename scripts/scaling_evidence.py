#!/usr/bin/env python
"""Two-parallelism scaling evidence (north rule, sandbox protocol).

No real cluster exists here, so the >=0.8 N->4N scaling-efficiency
criterion is evidenced by running the SAME extraction job at two local
parallelism levels (fresh JVM each, sequential, nothing else running)
over the SAME cached corpus.

Honesty notes baked into the protocol:

- **CPU pinning.** In local mode, Python UDF workers are separate
  processes NOT bounded by the local[N] thread cap — an unpinned
  local[2] job can burn 4+ cores, silently inflating the ratio. Each
  level runs under ``taskset`` with **N executor cores plus a fixed
  2-core driver/JVM allowance** (scan, Arrow serialization, GC,
  scheduling): the local-mode analog of a real cluster, where the
  driver runs off-node and an executor's cores go to task work.
  Measured calibration: the pure-Python kernel does ~1443 docs/sec on
  one pinned core; without the allowance a local[2] run delivers only
  1.26 kernel-cores because the JVM competes for the same 2 cores,
  which shows up as fake superlinearity between levels.
- **Machine calibration.** The level pair is local[1] ->
  local[nproc], derived from the host's core count. A VM may throttle
  when many cores are busy, which a level comparison would read as
  engine scaling, so the raw busy-loop throughput of the same pair is
  measured and reported beside it as the hardware ceiling.
- **Steady state, interleaved epochs.** Shared VMs show time-varying
  CPU steal (raw busy-loop throughput varies ~±25% over minutes), so
  levels are measured in interleaved epochs
  (1, nproc, 1, nproc, ...), each epoch a fresh JVM doing one warmup
  run (JIT + Python worker spawn ~ cluster provisioning) plus timed
  runs; a level's figure is its best timed run across epochs. Cold
  numbers are reported too.
- **Byte-identity across levels** is asserted with an order-insensitive
  distributive checksum (sum of crc32(url || md5(text)) computed in
  executors) so the driver never serializes the corpus inside the
  timed region; row-level identity is separately pytest-gated.

Usage: python scripts/scaling_evidence.py [n_docs]
Writes BENCH.md.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
NPROC = os.cpu_count() or 1
PAIR = (1, NPROC)

RUN_SNIPPET = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from win64_local_ocr_tool_spark.session import get_spark
from win64_local_ocr_tool_spark.operators.extract import extract_all
from pyspark.sql import functions as F

cpus = int(sys.argv[1]); corpus = sys.argv[2]
spark = get_spark("scaling", master=f"local[{{cpus}}]",
                  max_partition_bytes=1 << 21)
docs = spark.read.parquet(corpus)

def one_run():
    t0 = time.monotonic()
    out = extract_all(docs)
    row = out.select(
        F.count("*").alias("n"),
        F.sum(F.crc32(F.concat("url", F.md5("extracted_text")))).alias("ck"),
    ).collect()[0]
    return time.monotonic() - t0, int(row["n"]), int(row["ck"])

cold_wall, n, ck = one_run()
walls = []
for _ in range(2):
    w, n2, ck2 = one_run()
    assert (n, ck) == (n2, ck2)
    walls.append(w)
warm_wall = min(walls)
print("RESULT " + json.dumps({{"cpus": cpus,
      "cold_wall_s": round(cold_wall, 2), "warm_wall_s": round(warm_wall, 2),
      "docs": n, "docs_per_sec": round(n / warm_wall, 1), "checksum": ck}}))
spark.stop()
"""


def _burn(_):
    x = 0
    for i in range(20_000_000):
        x += i * i
    return x


def machine_throughput(n_procs: int, reps: int = 3) -> float:
    """Raw busy-loop tasks/sec at n_procs (pinned) — hardware ceiling."""
    os.sched_setaffinity(0, range(n_procs))
    try:
        best = 0.0
        for _ in range(reps):
            with mp.Pool(n_procs) as p:
                t0 = time.monotonic()
                p.map(_burn, range(n_procs))
                best = max(best, n_procs / (time.monotonic() - t0))
        return best
    finally:
        os.sched_setaffinity(0, range(os.cpu_count()))


def run_level(cpus: int, corpus: str) -> dict:
    code = RUN_SNIPPET.format(repo=REPO)
    env = dict(os.environ, PYTHONPATH=REPO)
    n_cores = min(cpus + 2, os.cpu_count())  # +2: driver/JVM allowance
    p = subprocess.run(
        ["taskset", "-c", f"0-{n_cores - 1}", sys.executable, "-c", code,
         str(cpus), corpus],
        capture_output=True, text=True, env=env, timeout=3600,
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from cpus={cpus}: {p.stderr[-2000:]}")


def main() -> None:
    sys.path.insert(0, REPO)
    from win64_local_ocr_tool_spark.corpus import CORPUS_VERSION, corpus_df
    from win64_local_ocr_tool_spark.session import get_spark

    corpus = f"/tmp/spark_graft_corpus/v{CORPUS_VERSION}_n{N_DOCS}_seed42_p256"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        spark = get_spark("gen", master=f"local[{NPROC}]")
        # 256 output files: row-group granularity fine enough that every
        # parallelism level gets a balanced split (a 2.2MB file cannot
        # be split below file level).
        corpus_df(spark, N_DOCS, partitions=256).write.mode(
            "overwrite"
        ).parquet(corpus)
        spark.stop()

    levels = sorted(set(PAIR))
    runs: dict[int, dict] = {}
    hw: dict[int, float] = {}
    for epoch in range(2):  # interleaved epochs vs time-varying steal
        for c in levels:
            r = run_level(c, corpus)
            if c not in runs or r["docs_per_sec"] > runs[c]["docs_per_sec"]:
                runs[c] = r
            hw[c] = max(hw.get(c, 0.0), machine_throughput(c, reps=2))
    cks = {r["checksum"] for r in runs.values()}
    assert len(cks) == 1, f"outputs differ across levels: {runs}"

    def eff(lo: int, hi: int, table) -> float:
        return round((table[hi] / table[lo]) / (hi / lo), 3)

    spark_tp = {c: runs[c]["docs_per_sec"] for c in levels}
    p_lo, p_hi = PAIR
    result = {
        "n_docs": N_DOCS,
        "runs": runs,
        "hw_busyloop_tasks_per_sec": {str(c): round(hw[c], 2) for c in levels},
        "primary": {
            "pair": f"local[{p_lo}] -> local[{p_hi}]",
            "spark_efficiency": eff(p_lo, p_hi, spark_tp),
            "hw_ceiling_efficiency": eff(p_lo, p_hi, hw),
        },
        "byte_identical": True,
    }
    result["pass_ge_0.8"] = result["primary"]["spark_efficiency"] >= 0.8
    print(json.dumps(result, indent=2))

    rows = "\n".join(
        f"| local[{c}] | {runs[c]['docs']} | {runs[c]['cold_wall_s']} | "
        f"{runs[c]['warm_wall_s']} | {runs[c]['docs_per_sec']} | "
        f"{round(hw[c], 1)} |"
        for c in levels
    )
    pri = result["primary"]
    md = f"""# BENCH — extraction throughput + scaling evidence

North-rule criterion: throughput scaling efficiency >= 0.8 between N
and 4N executors, byte-identical output per url. Sandbox protocol
(BASELINE.md + this script's docstring): same job, same input, per
level `taskset`-pinned to N executor cores + 2 driver-allowance cores,
fresh JVM per epoch, levels interleaved across epochs against
time-varying CPU steal, steady-state (best warm run) timing, raw
busy-loop hardware calibration alongside.

| level | docs | cold (s) | warm (s) | docs/sec | hw busy-loop tasks/s |
|---|---|---|---|---|---|
{rows}

- **pair {pri["pair"]}**: spark efficiency = **{pri["spark_efficiency"]}**
  (hardware ceiling on this VM for the same pair: {pri["hw_ceiling_efficiency"]})
  -> {"PASS" if result["pass_ge_0.8"] else "FAIL"} vs the 0.8 bar
- byte-identity across all levels: **verified** (order-insensitive
  crc32 checksum of (url, md5(extracted_text)) equal across runs:
  `{runs[levels[0]]["checksum"]}`); row-level identity additionally
  pytest-gated (tests/test_parallelism_identity.py).
- corpus: {N_DOCS} deterministic synthetic docs (seed 42), mix per
  FIXTURES.md §1 (PDF fallback rows, corrupt rows, mega pages).
- scale story: the job is scan -> mapInPandas -> aggregate with zero
  wide dependencies on the hot path; nothing in the plan serializes
  with executor count, which is what the N->4N criterion measures on a
  real cluster.

Generated by `scripts/scaling_evidence.py` (calibration + protocol
details in its docstring).
"""
    # preserve hand-maintained sections (anything from the first "## "
    # heading onward) across regeneration
    bench_path = os.path.join(REPO, "BENCH.md")
    tail = ""
    if os.path.exists(bench_path):
        prev = open(bench_path).read()
        idx = prev.find("\n## ")
        if idx != -1:
            tail = prev[idx:]
    with open(bench_path, "w") as f:
        f.write(md + tail)
    print("wrote BENCH.md")


if __name__ == "__main__":
    main()
