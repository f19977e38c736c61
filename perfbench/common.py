"""Shared pieces of the benchmark: percentiles, /proc accounting, host
facts, child-process bookkeeping and the result line."""

from __future__ import annotations

import contextlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "iceberg_rest_server_spark"

# Percentiles a tail may be reported at, highest first. The tail is the
# first one that leaves at least TAIL_MIN_BEYOND samples above it.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile (pct in 0..100) of a non-empty list."""
    xs = sorted(samples)
    rank = max(1, math.ceil(len(xs) * pct / 100.0))
    return xs[rank - 1]


def median(samples: list[float]) -> float:
    xs = sorted(samples)
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def samples_beyond(n: int, pct: float) -> int:
    """How many of n samples lie above the nearest-rank pct percentile."""
    return n - max(1, math.ceil(n * pct / 100.0))


def tail(samples: list[float], guaranteed: int | None = None) -> dict:
    """The highest ladder percentile with >= TAIL_MIN_BEYOND samples
    beyond it. A workload whose windows always hold at least `guaranteed`
    samples picks the rung from that count, so the percentile does not
    change between runs that fit one more chain or round. With too few
    samples for any rung, the median is reported and `ok` is False."""
    n = len(samples)
    for pct in TAIL_LADDER:
        beyond = samples_beyond(min(n, guaranteed or n), pct)
        if beyond >= TAIL_MIN_BEYOND:
            beyond = samples_beyond(n, pct)
            return {"value": percentile(samples, pct), "pct": pct, "n": n,
                    "beyond": beyond, "ok": True}
    return {"value": median(samples), "pct": 50.0, "n": n,
            "beyond": samples_beyond(n, 50.0), "ok": False}


# ------------------------------------------------------------------ /proc

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """root and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def proc_cpu_s(pid: int, with_children: bool = True) -> float:
    """utime+stime (plus reaped children's) of one process, in seconds."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def tree_cpu_s(root: int) -> float:
    """CPU of root and all its descendants, reaped ones included: a
    child that exits moves its time into its parent's cutime/cstime, so
    the total stays whole across the window."""
    return sum(proc_cpu_s(pid) for pid in descendants(root))


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total


def count_files(path: str) -> int:
    try:
        return len(os.listdir(path))
    except FileNotFoundError:
        return 0


def host_facts() -> dict:
    mem_total = ""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_total = line.split(":", 1)[1].strip()
    java = ""
    if shutil.which("java"):
        out = subprocess.run(["java", "-version"], capture_output=True, text=True)
        java = (out.stderr or out.stdout).splitlines()[0] if (out.stderr or out.stdout) else ""
    try:
        import pyspark
        spark_version = pyspark.__version__
    except ImportError:
        spark_version = ""
    return {
        "nproc": os.cpu_count(),
        "mem_total": mem_total,
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
        "java": java,
        "spark": spark_version,
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
    }


# ------------------------------------------------------------- processes

class Children:
    """Every process the run starts, so that each exit path stops and
    reaps them."""

    def __init__(self):
        self.procs: list[subprocess.Popen] = []
        self.finalizers: list = []

    def spawn(self, argv: list[str], **kw) -> subprocess.Popen:
        proc = subprocess.Popen(argv, start_new_session=True, **kw)
        self.procs.append(proc)
        return proc

    def stop(self, proc: subprocess.Popen, timeout: float = 10.0) -> None:
        if proc.poll() is None:
            proc.send_signal(signal.SIGTERM)
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if proc in self.procs:
            self.procs.remove(proc)

    def stop_all(self) -> None:
        try:
            for fn in reversed(self.finalizers):
                try:
                    fn()
                except Exception as exc:  # keep reaping the rest
                    # stderr may be a pipe whose reader has gone
                    with contextlib.suppress(OSError):
                        print(f"perfbench: cleanup step failed: {exc!r}", file=sys.stderr)
        finally:
            self.finalizers.clear()
            for proc in list(self.procs):
                self.stop(proc)


def run_dir(tag: str) -> str:
    """A fresh scratch directory inside the checkout for this run."""
    path = os.path.join(ROOT, ".perfbench_run", f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Window:
    """Wall, CPU, steal and warehouse bytes over a timed window."""

    def __init__(self, watch_dir: str | None = None):
        self.watch_dir = watch_dir

    def __enter__(self) -> "Window":
        self.stat0 = cpu_times()
        self.cpu0 = tree_cpu_s(os.getpid())
        self.gen0 = proc_cpu_s(os.getpid(), with_children=False)
        self.bytes0 = dir_bytes(self.watch_dir) if self.watch_dir else 0
        self.epoch0 = time.time()
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.monotonic()
        self.epoch1 = time.time()
        self.cpu1 = tree_cpu_s(os.getpid())
        self.gen1 = proc_cpu_s(os.getpid(), with_children=False)
        self.bytes1 = dir_bytes(self.watch_dir) if self.watch_dir else 0
        self.stat1 = cpu_times()

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def cpu_s(self) -> float:
        return self.cpu1 - self.cpu0

    @property
    def generator_cpu_share(self) -> float:
        return (self.gen1 - self.gen0) / self.wall_s

    @property
    def steal(self) -> float:
        return steal_share(self.stat0, self.stat1)

    @property
    def bytes_added(self) -> int:
        return self.bytes1 - self.bytes0


def warm_until_steady(step, max_rounds: int) -> list[float]:
    """Run `step` until a round is no more than 3% faster than the best
    before it (or max_rounds ran); returns the round times."""
    times: list[float] = []
    for _ in range(max_rounds):
        t0 = time.monotonic()
        step()
        times.append(time.monotonic() - t0)
        if len(times) > 1 and times[-1] > min(times[:-1]) * 0.97:
            break
    return times


def latency_metrics(prefix: str, samples_ms: list[float], record: dict,
                    guaranteed: int | None = None) -> dict:
    """p50 and tail of one latency series; the tail's percentile and
    sample counts go into record['tails']."""
    t = tail(samples_ms, guaranteed)
    record.setdefault("tails", {})[f"{prefix}_tail"] = {
        k: t[k] for k in ("pct", "n", "beyond", "ok")}
    return {f"{prefix}_p50": median(samples_ms), f"{prefix}_tail": t["value"]}


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]],
         record: dict) -> None:
    """Print the full record, then the one-line result as the last line."""
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(record, indent=1, sort_keys=True, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": record["metrics"],
    }))
    sys.stdout.flush()
