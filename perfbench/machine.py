"""What the benchmark reads from the machine: session sizing, CPU steal and
iowait over a window (/proc/stat), and peak resident memory of the Spark
driver JVM plus its Python workers (/proc/<pid>/status)."""

from __future__ import annotations

import os
import threading
import time

GIB = 1 << 30


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def slots() -> int:
    """Spark task slots: half the CPUs. A task running a Python UDF keeps two
    processes busy (the JVM task thread and its Python worker), and the
    driver's Python process runs next to them; one slot per CPU would run
    more busy threads than there are CPUs and time the scheduler."""
    return max(1, cores() // 2)


def mem_available_bytes(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"no MemAvailable in {meminfo}")


def driver_heap_gib(available: int) -> int:
    """A third of available memory, at least 1 GiB and at most 6 GiB: the
    machine is shared, and the inputs are small enough that a bigger heap
    only adds first-touch page faults inside measured windows."""
    return max(1, min(6, available // (3 * GIB)))


def session_conf(work_dir: str) -> dict[str, str]:
    """Spark settings sized from the machine it runs on; every value is recorded in
    the result. Scratch space stays inside the benchmark's work directory."""
    n = slots()
    heap = driver_heap_gib(mem_available_bytes())
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return {
        "master": f"local[{n}]",
        # one shuffle partition per slot: the inputs are small, so more
        # partitions only add task overhead to every stage
        "spark.sql.shuffle.partitions": str(n),
        "spark.driver.memory": f"{heap}g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # the status store is the benchmark's only source of job and stage
        # metrics; keep every job of a run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def parse_proc_stat(text: str) -> tuple[int, int, int]:
    """(total, steal, iowait) jiffies from the aggregate ``cpu`` line."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            vals = [int(x) for x in parts[1:]]
            # user nice system idle iowait irq softirq steal [guest guest_nice]:
            # guest time is already counted in user/nice
            return sum(vals[:8]), vals[7] if len(vals) > 7 else 0, vals[4]
    raise ValueError("no aggregate cpu line")


def stat_snapshot() -> tuple[int, int, int]:
    with open("/proc/stat") as f:
        return parse_proc_stat(f.read())


def window_pct(snap0, snap1) -> dict[str, float]:
    """Steal and iowait as a percentage of all CPU time between snapshots."""
    dt = max(snap1[0] - snap0[0], 1)
    return {
        "steal_pct": 100.0 * (snap1[1] - snap0[1]) / dt,
        "iowait_pct": 100.0 * (snap1[2] - snap0[2]) / dt,
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += _children(pid)
    return out


def wait_gone(pids, timeout: float) -> list[int]:
    """Wait until none of ``pids`` exists; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` and all its descendants (the JVM's Python workers)."""
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_bytes(pid)
        todo += _children(pid)
    return total


class RssSampler:
    """Samples the RSS of a process tree every ``interval`` seconds on a
    daemon thread and keeps the peak, of the root alone too. Use as a
    context manager."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.peak_root = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            self.peak_root = max(self.peak_root, _rss_bytes(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
