"""Stall watchdog: every operation runs under a timeout.

When an operation outlives its timeout (or the run outlives its
deadline), the watchdog thread takes a ``jstack`` of the driver JVM,
records whether it reports a Java-level deadlock and which threads are in
it, asks the workload for its result with that operation and every
planned operation not yet run counted as failed, hands both to
``on_stall`` (which prints them and kills the JVM) and exits the process.
The benchmark never hangs.
"""

from __future__ import annotations

import contextlib
import os
import re
import subprocess
import threading
import time


def parse_jstack(dump: str) -> dict:
    """Deadlock verdict and the thread names of every reported cycle."""
    deadlock = "Java-level deadlock" in dump or re.search(r"Found \d+ deadlocks", dump)
    threads: list[str] = []
    if deadlock:
        section = dump.split("Found ", 1)[1].split("Java stack information", 1)[0]
        for name in re.findall(r'^"(.+)":\s*$', section, flags=re.M):
            if name not in threads:
                threads.append(name)
    return {"deadlock": bool(deadlock), "threads": threads}


class Watchdog:
    def __init__(self, jvm_pid: int, deadline: float, work: str):
        self.jvm_pid = jvm_pid
        self.deadline = deadline
        self.work = work
        #: (op name, stall info) -> (report, result); set by the workload
        self.describe = None
        #: (report, result) -> None; prints and stops the JVM; set by run.py
        self.on_stall = None
        #: set once the watchdog has started ending the run
        self.fired = threading.Event()
        self._op: tuple[str, float] | None = None
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-watchdog", daemon=True)
        self._thread.start()

    @contextlib.contextmanager
    def guard(self, name: str, timeout: float):
        with self._lock:
            self._op = (name, min(time.time() + timeout, self.deadline))
        try:
            yield
        finally:
            with self._lock:
                self._op = None

    def hold(self) -> None:
        """Called by the main thread once the watchdog has fired: wait for
        it to end the process instead of racing it."""
        if self.fired.is_set():
            threading.Event().wait()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            with self._lock:
                op = self._op
            now = time.time()
            if op is not None and now > op[1]:
                self._fire(op[0])
            elif now > self.deadline:
                self._fire("run")

    def _jstack(self) -> str:
        try:
            out = subprocess.run(
                ["jstack", str(self.jvm_pid)],
                capture_output=True, text=True, timeout=10, cwd=self.work,
            )
            return out.stdout + out.stderr
        except (OSError, subprocess.TimeoutExpired) as e:
            return f"jstack failed: {e!r}"

    def _fire(self, name: str) -> None:
        self.fired.set()
        dump = self._jstack()
        info = parse_jstack(dump)
        info["op"] = name
        info["jstack_threads"] = dump.count('\n"')
        report, result = self.describe(name, info)
        report.setdefault("lines", []).append(
            f"STALL: {name} timed out; jstack: {info['jstack_threads']} threads, "
            f"java-level deadlock: {info['deadlock']}"
            + (f" among {', '.join(info['threads'])}" if info["threads"] else "")
        )
        try:
            self.on_stall(report, result)
        finally:
            os._exit(3)
