"""Process and host readings from /proc: a resident-memory (PSS) sampler
over the driver, the JVM and the Python workers, and host annotations
(hypervisor steal, load average, cpus)."""

from __future__ import annotations

import os
import threading
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        # The command name (field 2) may hold spaces; fields after it don't.
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (children, grandchildren, ...)."""
    kids: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    """Proportional resident memory (PSS) of ``pid``: its resident pages,
    with each page shared by n processes counted 1/n.  Forked Python
    workers share most of their pages with Spark's daemon, so summing
    plain RSS over them would count those pages once per worker.  Falls
    back to VmRSS where smaps_rollup is missing; 0 once ``pid`` exited."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"), (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1]) * 1024
        except FileNotFoundError:
            continue
        except OSError:  # exited, or not readable
            return 0
    return 0


class RssSampler:
    """Samples every ``interval`` seconds, on a background thread, the
    resident memory of three groups: this process (``driver``), the
    ``jvm`` process, and the JVM's descendants (``workers``: Spark's Python
    daemon and workers).  Keeps the peak of each group, of the driver and
    JVM together (``driver_jvm``) and of all three (``total``).
    Use as a context manager."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = dict.fromkeys(("driver", "jvm", "workers", "driver_jvm", "total"), 0)
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        cur = {
            "driver": rss_bytes(os.getpid()),
            "jvm": rss_bytes(self.jvm_pid),
            "workers": sum(rss_bytes(p) for p in descendants(self.jvm_pid)),
        }
        cur["driver_jvm"] = cur["driver"] + cur["jvm"]
        cur["total"] = cur["driver_jvm"] + cur["workers"]
        for k, v in cur.items():
            self.peak[k] = max(self.peak[k], v)
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def peak_mb(self) -> dict[str, float]:
        return {k: v / 2**20 for k, v in self.peak.items()}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostAnnotation:
    """Host conditions over an interval: hypervisor steal % (field 8 of
    /proc/stat's cpu line), busy % of all cpus, load averages at both
    ends, and the cpus this process may run on.  Annotations, not gates."""

    def __init__(self):
        self._t0 = _cpu_times()
        self.load_start = os.getloadavg()

    def finish(self) -> dict:
        d = [b - a for a, b in zip(self._t0, _cpu_times())]
        tot = max(sum(d), 1)
        idle = d[3] + d[4]  # idle + iowait
        return {
            "steal_pct": 100.0 * d[7] / tot,
            "busy_pct": 100.0 * (tot - idle) / tot,
            "load1_start": self.load_start[0],
            "load1_end": os.getloadavg()[0],
            "cpus": len(os.sched_getaffinity(0)),
        }


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
