"""KG-pipeline benchmark: one run of one workload, or every workload.

    python3 perfbench/run.py --workload fused_extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10
    python3 perfbench/run.py ... --out records.jsonl   # for compare.py

Run from the root of a checkout. Each run starts ``workload.py`` in a
fresh process group with the checkout on ``PYTHONPATH`` (Spark's Python
workers import ``nerpii_spark`` from there), a per-run directory under
``.perfbench_runs/`` for the corpus, pipeline roots, ``SPARK_LOCAL_DIRS``
and the event log, and the driver's stderr in a file. This process samples
the group's summed RSS from /proc during the timed runs, prints the host tag and the run's
details on one line and the result on the last line, then stops whatever
is left of the group and removes the run directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

import measure
import spec

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fused_extract", "pipeline_cold", "pipeline_resume")
DRIVER_MEM = "1g"
RSS_PERIOD_S = 0.2
RUN_TIMEOUT_S = 170


class RssSampler(threading.Thread):
    """Summed RSS of a process group, sampled until stopped, while file
    `marker` exists (the timed runs)."""

    def __init__(self, pgid: int, marker: str):
        super().__init__(daemon=True)
        self.pgid, self.marker, self.samples = pgid, marker, []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            if os.path.exists(self.marker):
                self.samples.append(measure.group_rss_bytes(self.pgid))
            self._stop_evt.wait(RSS_PERIOD_S)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _stop_group(pgid: int) -> None:
    """Stop every process left in the group and wait until each has ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not measure.group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end and measure.group_alive(pgid):
            time.sleep(0.1)
    if measure.group_alive(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Run one workload in a child process; returns its result record."""
    if not os.path.isdir(os.path.join(ROOT, "nerpii_spark")):
        raise FileNotFoundError(f"no nerpii_spark package under {ROOT}")
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=runs)
    try:
        stderr_path = os.path.join(run_dir, "driver.stderr")
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, env.get("PYTHONPATH")) if p
            ),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "NERPII_SPARK_DRIVER_MEM": DRIVER_MEM,
        })
        cmd = [
            sys.executable, os.path.join(HERE, "workload.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--run-dir", run_dir, "--stderr-path", stderr_path,
        ]
        with open(stderr_path, "wb") as err, open(
            os.path.join(run_dir, "driver.stdout"), "wb"
        ) as out:
            proc = subprocess.Popen(
                cmd, cwd=run_dir, env=env, stdout=out, stderr=err,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
            sampler = RssSampler(proc.pid, os.path.join(run_dir, spec.TIMED_MARKER))
            sampler.start()
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                sampler.stop()
                _stop_group(proc.pid)
                proc.wait()
        if code != 0:
            with open(stderr_path, "rb") as f:
                tail = f.read()[-4000:].decode("utf-8", "replace")
            raise RuntimeError(
                f"{workload} run failed (exit {code}); driver stderr tail:\n{tail}"
            )
        with open(os.path.join(run_dir, "result.json")) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not trace:
        rss = sorted(sampler.samples)
        if not rss:
            raise RuntimeError(f"{workload}: no RSS sample during the timed runs")
        # the 90th percentile, not the peak: the peak is one sample, moved
        # by Python workers that live for a moment (+1.3 GB seen)
        p90 = rss[int(0.9 * (len(rss) - 1))] / 1e6
        record["rss_mb"] = {"peak": rss[-1] / 1e6, "p90": p90, "samples": len(rss)}
        record["metrics"]["rss_p90_mb"] = p90
    record["host"] = measure.host_tag(ROOT)
    return record


def result_line(record: dict, trace: int) -> dict:
    """The contract's last line: correct, attempted, failed and every
    metric of the run's kind with its unit."""
    units = spec.PER_LAYER if trace else spec.END_TO_END
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {
            name: {"value": record["metrics"][name], "unit": unit}
            for name, unit in units.items()
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append each run's full record to this file")
    args = ap.parse_args(argv)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    lines = []
    for name in names:
        try:
            record = run_once(name, args.seed, args.seconds, 0)
            if args.trace:
                # the tracing overhead is the traced wall minus the
                # untraced wall of the same workload and seed
                untraced, record = record, run_once(name, args.seed, args.seconds, 1)
                m = record["metrics"]
                m["trace.overhead_s"] = m["trace.wall_s"] - untraced["metrics"]["wall_s"]
                record["attempted"] += untraced["attempted"]
                record["failed"] += untraced["failed"]
        except (OSError, RuntimeError) as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
        line = result_line(record, args.trace)
        lines.append(line)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(record) + "\n")
        # details first (host tag, per-run walls, set-up parts), the
        # result last
        print(json.dumps({k: v for k, v in record.items() if k != "metrics"}))
        if len(names) > 1:
            for metric, m in line["metrics"].items():
                print(f"{name:16s} {metric:32s} {m['value']:14.6g} {m['unit']}")
    print(json.dumps(lines[-1] if len(lines) == 1 else {
        "correct": all(x["correct"] for x in lines),
        "attempted": sum(x["attempted"] for x in lines),
        "failed": sum(x["failed"] for x in lines),
        "metrics": {
            f"{n}.{k}": v for n, x in zip(names, lines)
            for k, v in x["metrics"].items()
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
