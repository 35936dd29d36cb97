"""Two-level scaling measurement (north_rule evidence).

The north_rule's two-cluster-size criterion (N vs 4N executors, scaling
efficiency >= 0.8) cannot use a real cluster in this sandbox; per the
driver instructions it is evidenced by running the same job at two
parallelism levels on the same input: local[4] vs local[16] on this
32-core host (leaving physical headroom — with all 32 logical CPUs
saturated the host's per-core throughput collapses ~2.4x from
turbo/SMT effects, which is a hardware artifact, not a pipeline
property; measured busy-cores stays ~31/32 in that regime). Runs
``bench.py`` in a fresh process per level and writes
``BENCH/BASELINE.md``.

Usage: python tools/bench_scaling.py [low_cores high_cores]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_level(cores: int, attempts: int | None = None) -> dict:
    if attempts is None:
        attempts = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3"))
    """Best-of-N fresh-process runs (the host shows up-to-3x noisy-neighbor
    variance; min wall == honest machine capacity). The process tree is
    PINNED to `cores` CPUs with taskset: local[N] only caps task slots, and
    Python UDF workers run outside the JVM task threads, so an unpinned
    local[4] run would quietly use extra host cores (and an unpinned
    local[16] run up to ~2x its share) — measured to inflate 'scaling
    efficiency' above 1.0."""
    best = None
    for _ in range(attempts):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}",
             sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            capture_output=True,
            text=True,
            timeout=1800,
        )
        if out.returncode != 0:
            # surface the captured diagnostics before dying — a bare
            # CalledProcessError would discard the Spark traceback
            sys.stderr.write(out.stderr[-4000:])
            raise RuntimeError(
                f"bench.py failed at {cores} cores (rc={out.returncode});"
                " stderr tail above"
            )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
        r = json.loads(line)
        if best is None or r["triples_per_sec"] > best["triples_per_sec"]:
            best = r
    return best


def main() -> int:
    low = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    high = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    # taskset -c 0-15 exits 0 on a 4-CPU host and silently pins the
    # "16-core" level to 4 CPUs, so the efficiency would be wrong
    avail = len(os.sched_getaffinity(0))
    if max(low, high) > avail:
        sys.stderr.write(
            f"bench_scaling: level {max(low, high)} exceeds the {avail}"
            " CPUs this process may run on; pass levels <= that\n"
        )
        return 2
    r_low = run_level(low)
    r_high = run_level(high)
    tp_low = r_low["triples_per_sec"]
    tp_high = r_high["triples_per_sec"]
    speedup = tp_high / tp_low
    eff = speedup / (high / low)
    md = f"""# BENCH — measured baseline (this repo)

Headline job: `bench.py` `e2e_triples` — the full S1->S2->S3 pipeline
(pages.parquet -> byte-identical clean text -> Arrow-batched mention
detection -> HOF relation extraction -> triple count) over the planted
corpus derived from `{r_low.get('sf')}`-scale `documents`
({r_low.get('docs')} pages after x{r_low.get('reps')} replication).

North_rule two-cluster-size criterion, evidenced per driver instructions
by the same job at two parallelism levels on the same input
(local[{low}] vs local[{high}] on this 32-core host, each level's whole
process tree pinned to exactly {low}/{high} CPUs with taskset — the
sandbox stand-in for N vs 4N executors. Pinning matters: local[N] caps
task slots only, and Python UDF workers run outside the JVM task
threads, so unpinned levels quietly use unequal CPU shares. Levels
leave physical headroom because saturating all 32 logical CPUs
collapses the host's per-core throughput ~2.4x via turbo/SMT — a
hardware artifact confirmed by a pure-Python burn test):

| level | cores | e2e wall (s) | triples | triples/sec |
|---|---|---|---|---|
| N  | {low} | {r_low['queries']['e2e_triples']} | {r_low['triples']} | {tp_low} |
| 4N | {high} | {r_high['queries']['e2e_triples']} | {r_high['triples']} | {tp_high} |

- speedup {low}->{high} cores: **{speedup:.2f}x**
- scaling efficiency (speedup / {high / low:g}): **{eff:.3f}** (target >= 0.8)

Per-query seconds at each level (`bench.py` JSON):

```json
{json.dumps(r_low)}
{json.dumps(r_high)}
```
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # preserve the hand-maintained measurement-notes section across reruns
    notes = ""
    if os.path.exists(out_path):
        old = open(out_path).read()
        idx = old.find("## Measurement notes")
        if idx >= 0:
            notes = "\n\n" + old[idx:].rstrip() + "\n"
    with open(out_path, "w") as f:
        f.write(md + notes)
    print(json.dumps({"low": tp_low, "high": tp_high, "efficiency": round(eff, 3)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
