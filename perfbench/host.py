"""Host stamps and process hygiene for one benchmark run (Linux /proc)."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return d[7] / total if total else 0.0


_SPIN = """
import sys, time
start, seconds = float(sys.argv[1]), float(sys.argv[2])
while time.time() < start:  # busy, so that every vCPU is awake when timing starts
    pass
n, end = 0, time.perf_counter() + seconds
while time.perf_counter() < end:  # a clock read per 10k steps: clocks can be slow in a VM
    for _ in range(10000):
        pass
    n += 1
print(n)
"""


def effective_cores(n: int, seconds: float = 0.5) -> float:
    """Work n spinning processes get done together, in units of what one
    process gets done alone: n on an idle host with n free cores. Each
    spinner is a plain child process, waited for before this returns."""

    def run(k: int) -> int:
        start = repr(time.time() + 0.3)  # all k spin over the same interval
        ps = [subprocess.Popen([sys.executable, "-c", _SPIN, start, repr(seconds)],
                               stdout=subprocess.PIPE, text=True) for _ in range(k)]
        try:
            return sum(int(p.communicate(timeout=30)[0]) for p in ps)
        finally:
            for p in ps:
                if p.poll() is None:
                    p.kill()
                p.wait()

    one = run(1)
    return run(n) / one if one else 0.0


def session(sid: int) -> list[int]:
    """Live processes of session ``sid``. The measured process leads its own
    session; the JVM and the Python workers stay in it, also where they move
    to a process group of their own (PySpark's worker daemon does) or are
    handed to init when their parent ends."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields: state ppid pgrp session ...; a zombie has ended already
        if len(fields) > 3 and fields[0] != "Z" and fields[3] == str(sid):
            out.append(int(d))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss(threading.Thread):
    """Samples the processes of session ``sid`` and keeps each one's peak
    resident set (VmHWM); ``mb`` is their sum: the driver, the JVM and the
    Python workers."""

    def __init__(self, sid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.peak: dict[int, int] = {}
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            for pid in session(self.sid):
                self.peak[pid] = max(self.peak.get(pid, 0), _hwm_kb(pid))
            self._done.wait(self.period)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return sum(self.peak.values()) / 1024.0


def _wait_gone(sid: int, seconds: float) -> bool:
    end = time.monotonic() + seconds
    while session(sid):
        if time.monotonic() > end:
            return False
        time.sleep(0.05)
    return True


def reap_session(sid: int, grace: float = 15.0, timeout: float = 10.0) -> bool:
    """Wait up to ``grace`` seconds for every process of session ``sid`` to
    end on its own (the JVM and the worker daemon exit shortly after the
    driver), then stop what is left and wait until it is gone. Returns
    whether anything had to be stopped."""
    if _wait_gone(sid, grace):
        return False
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if _wait_gone(sid, timeout / 2):
            return True
    if session(sid):
        raise RuntimeError(f"processes of session {sid} outlived SIGKILL: {session(sid)}")
    return True
