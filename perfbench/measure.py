"""Small helpers shared by the benchmark: quartiles, host tags, /proc RSS."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess

# what must match for two results to be comparable; the source commit is
# a tag of the result, not of the host, so it is left out on purpose
HOST_KEYS = ("nproc", "mem_total_kb", "pinned", "pyspark")


def quartiles(values: list[float]) -> dict:
    """Median, first and third quartile, and the spread (q3 - q1) / median,
    with the quartiles as `statistics.quantiles(values, n=4)` gives them."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("quartiles of an empty list")
    med = statistics.median(vals)
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {
        "n": len(vals),
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
    }


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def source_digest(root: str) -> str:
    """sha1 over the engine's Python sources: identifies the code when the
    checkout is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "nerpii_spark")
    for dp, dns, fns in os.walk(pkg):
        dns.sort()
        for fn in sorted(fns):
            if fn.endswith(".py"):
                p = os.path.join(dp, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--short=12", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_tag(root: str) -> dict:
    import pyspark

    nproc = os.cpu_count() or 1
    affinity = len(os.sched_getaffinity(0))
    return {
        "nproc": affinity,
        "mem_total_kb": _mem_total_kb(),
        "pinned": affinity < nproc,
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
    }


class HostMismatch(ValueError):
    pass


def check_same_host(a: dict, b: dict) -> None:
    """Raise HostMismatch unless two host tags describe the same host."""
    diff = {k: (a.get(k), b.get(k)) for k in HOST_KEYS if a.get(k) != b.get(k)}
    if diff:
        raise HostMismatch(
            "results come from different hosts and are not comparable: "
            + ", ".join(f"{k} {x!r} != {y!r}" for k, (x, y) in diff.items())
        )


def _group_rss_pages(pgid: int) -> list[int]:
    """Resident pages of each live (non-zombie) process in group `pgid`."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(fields[21]))
    return out


def group_rss_bytes(pgid: int) -> int:
    """Summed resident set of every live process in process group `pgid`."""
    return sum(_group_rss_pages(pgid)) * os.sysconf("SC_PAGE_SIZE")


def group_alive(pgid: int) -> bool:
    return bool(_group_rss_pages(pgid))
