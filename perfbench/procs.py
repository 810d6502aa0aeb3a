"""Spawning, watching and reaping ``csvb serve`` processes.

Each server runs in its own session (process group) with a pinned
memory pool and core count, inside a private working directory, so
spark-warehouse, COPY staging and Spark scratch never land in the
checkout root. Peak RSS is read from ``/proc`` over the whole session,
the JVM included.
"""

from __future__ import annotations

import os
import re
import selectors
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every JVM the benchmark starts gets this heap and these task slots
MEMORY_POOL_BYTES = 1 << 30
SPARK_CPUS = 2
STARTUP_DEADLINE_S = 120.0

_BANNER = re.compile(rb"pgwire listening on ([\d.]+):(\d+)")


def engine_env(workdir: str) -> dict[str, str]:
    """Environment for an engine process (and for this process when it
    hosts a session): pinned cores, scratch and temp under ``workdir``."""
    scratch = os.path.join(workdir, "spark-local")
    os.makedirs(scratch, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(SPARK_CPUS),
        SPARK_LOCAL_DIRS=scratch,
        TMPDIR=scratch,
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYTHONDONTWRITEBYTECODE="1",
    )
    # options for the driver JVM that spark-submit starts. Initial heap =
    # maximum heap: no adaptive heap resizing, so GC frequency and
    # resident memory do not depend on resize decisions.
    env["SPARK_SUBMIT_OPTS"] = (
        f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} "
        f"-Xms{MEMORY_POOL_BYTES >> 20}m -Djava.io.tmpdir={scratch}"
    ).strip()
    return env


class Server:
    """One ``csvb serve`` subprocess. ``argv`` is the CLI argument list
    after the global flags. With ``traced`` the server starts through
    ``launcher.py``, which appends its spans to ``spans_path``."""

    def __init__(self, workdir: str, argv: list[str], traced: bool = False):
        os.makedirs(workdir, exist_ok=True)
        self.workdir = workdir
        self.log_path = os.path.join(workdir, "server.log")
        self.spans_path = os.path.join(workdir, "spans.jsonl")
        launcher = os.path.join(os.path.dirname(os.path.abspath(__file__)), "launcher.py")
        entry = [launcher, self.spans_path] if traced else ["-m", "csvb_spark.cli"]
        cmd = [
            sys.executable,
            *entry,
            "--log-levels",
            "csvb:WARNING",
            "--memory-pool-bytes",
            str(MEMORY_POOL_BYTES),
            *argv,
        ]
        self._log = open(self.log_path, "ab")
        self.proc = subprocess.Popen(
            cmd,
            cwd=workdir,
            env=engine_env(workdir),
            stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE,
            stderr=self._log,
            start_new_session=True,
        )
        self.host: str | None = None
        self.port: int | None = None
        self._drain: threading.Thread | None = None

    def wait_listening(self, deadline_s: float = STARTUP_DEADLINE_S) -> tuple[str, int]:
        """Block until the server prints its bound address; raise if it
        exits or the deadline passes first."""
        sel = selectors.DefaultSelector()
        sel.register(self.proc.stdout, selectors.EVENT_READ)
        buf = b""
        end = time.monotonic() + deadline_s
        try:
            while True:
                left = end - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"server not listening after {deadline_s:.0f}s")
                if not sel.select(timeout=min(left, 1.0)):
                    if self.proc.poll() is not None:
                        raise RuntimeError(self._died())
                    continue
                chunk = os.read(self.proc.stdout.fileno(), 4096)
                if not chunk:
                    raise RuntimeError(self._died())
                buf += chunk
                m = _BANNER.search(buf)
                if m:
                    self.host, self.port = m.group(1).decode(), int(m.group(2))
                    break
        finally:
            sel.close()
        # keep the pipe drained for the life of the server
        self._drain = threading.Thread(target=self._drain_stdout, daemon=True)
        self._drain.start()
        return self.host, self.port

    def _drain_stdout(self) -> None:
        for line in self.proc.stdout:
            self._log.write(line)

    def _died(self) -> str:
        self.proc.wait(timeout=30)
        with open(self.log_path, "rb") as fh:
            tail = fh.read()[-2000:].decode(errors="replace")
        return f"server exited with {self.proc.returncode} during startup:\n{tail}"

    def alive(self) -> bool:
        return self.proc.poll() is None

    def peak_rss_mb(self) -> float:
        return session_peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        """Terminate the whole process group and wait for it."""
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait(timeout=15)
        # the JVM may outlive the Python parent briefly
        end = time.monotonic() + 15
        while _session_pids(self.proc.pid) and time.monotonic() < end:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        if self._drain is not None:
            self._drain.join(timeout=5)
        self.proc.stdout.close()
        self._log.close()


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name
    return raw[raw.rindex(")") + 2 :].split()


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _session_pids(sid: int) -> list[int]:
    out = []
    for pid in _all_pids():
        f = _stat_fields(pid)
        if f is not None and int(f[3]) == sid:  # field 6: session id
            out.append(pid)
    return out


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in _all_pids():
        f = _stat_fields(pid)
        if f is not None:
            children.setdefault(int(f[1]), []).append(pid)  # field 4: ppid
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def session_peak_rss_mb(sid: int) -> float:
    """Sum of per-process peak RSS (VmHWM) over a process session."""
    return sum(_vm_hwm_kb(p) for p in _session_pids(sid)) / 1024.0


def tree_peak_rss_mb(root: int) -> float:
    """Sum of per-process peak RSS (VmHWM) over ``root`` and its
    descendants (this process plus the JVM it launched)."""
    return sum(_vm_hwm_kb(p) for p in _descendants(root)) / 1024.0
