"""Launching, probing and tearing down the engine process tree."""
from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from .engine import APP_NAME

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def process_tree(pid: int) -> list[int]:
    return [p for p, _parent in _tree_edges(pid)]


def _tree_edges(pid: int) -> list[tuple[int, int | None]]:
    """(process, parent) for ``pid`` and its descendants, each parent
    before its children."""
    tree = _children()
    out, todo = [], [(pid, None)]
    while todo:
        p, parent = todo.pop()
        out.append((p, parent))
        todo.extend((c, p) for c in tree.get(p, []))
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Polls the engine's process tree and keeps the highest peak
    resident set (VmHWM) seen for each program image, so a process that
    exits before the end of the run still counts. The sum over processes
    is the tree's peak RSS."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid = pid
        self.interval_s = interval_s
        self.peak: dict[int, tuple[str, float]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        exe = {}
        for p, parent in _tree_edges(self.pid):
            exe[p] = _exe(p)
            # A child running its parent's program was forked and has not
            # exec'd: its pages are shared with (or copied from) the
            # parent, whose peak already counts them. The JVM spawns
            # helpers this way for a moment before they exec.
            if parent is not None and exe[p] == exe.get(parent):
                continue
            mib = _status_kb(p, "VmHWM") / 1024.0
            if mib <= self.peak.get(p, ("", 0.0))[1]:
                continue
            try:
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            self.peak[p] = (comm, mib)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> dict[str, float]:
        """Stop polling; the peak (MiB) of each process seen, keyed by
        ``<command>:<pid>``."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()
        return {f"{comm}:{p}": mib for p, (comm, mib) in self.peak.items()}


def stray_engines() -> list[int]:
    """Engine JVMs of earlier runs that are still alive."""
    marker = f"spark.app.name={APP_NAME}".encode()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmdline = f.read()
        except OSError:
            continue
        if marker in cmdline:
            found.append(int(name))
    return found


class Engine:
    """One engine process: start, command, measure, stop."""

    def __init__(self, cpus: int, size: int, trace: bool, stderr_path: str, work_dir: str):
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(work_dir, "spark-local"),
            SPARK_DRIVER_MEMORY="2g",
            PYSPARK_PYTHON=sys.executable,
        )
        cmd = [sys.executable, os.path.join(HERE, "engine.py"), "--cpus", str(cpus),
               "--size", str(size)] + (["--trace"] if trace else [])
        self._stderr = open(stderr_path, "wb")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._stderr,
            env=env, cwd=work_dir, start_new_session=True, text=True, bufsize=1,
        )
        self.stderr_path = stderr_path
        ready = self._read()
        self.port = ready["port"]
        self.rss = PeakRss(self.proc.pid)

    def _read(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                self._stderr.flush()
                with open(self.stderr_path, errors="replace") as f:
                    tail = "".join(f.readlines()[-20:])
                raise RuntimeError("engine exited; last lines of its log:\n" + tail)
            if line.startswith("@@ "):
                return json.loads(line[3:])

    def command(self, op: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps(dict(kw, op=op)) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def stop(self) -> None:
        """Ask the engine to exit, then kill the whole process group (JVM
        and Python workers too) and wait until every member is gone.
        Nothing in the engine needs an orderly shutdown: its files live
        in the run's work directory, which the caller removes."""
        self.rss.stop()
        tree = set(self.rss.peak) | set(process_tree(self.proc.pid))
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"op": "quit"}) + "\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=5)
        except (OSError, ValueError, subprocess.TimeoutExpired):
            pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait(timeout=10)
        for p in tree:
            try:
                os.kill(p, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass
        deadline = time.time() + 10
        while time.time() < deadline and any(_alive(p) for p in tree):
            time.sleep(0.05)
        for stream in (self.proc.stdin, self.proc.stdout):
            try:
                stream.close()
            except OSError:
                pass
        self._stderr.close()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def remove_work_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass
