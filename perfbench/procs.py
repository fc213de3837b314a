"""Process-tree bookkeeping through /proc: every benchmark child runs in a
session of its own, and the whole session (the Spark JVM, the pyspark daemon
and its Python workers, generator pools) is sampled, waited for and, if it
outlives its grace period, killed.

The session id, not the process group, is the unit: the pyspark daemon moves
itself and its workers into a process group of their own, but never leaves
the session it was started in.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TERM_WAIT_S, _KILL_WAIT_S = 5.0, 2.0
KILL_WAIT_S = _TERM_WAIT_S + _KILL_WAIT_S  # longest wait after the grace period


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _dead(f: list[str]) -> bool:
    """A zombie whose threads have all exited. A zombie thread-group leader
    can still have running threads (the JVM's does while it shuts down)."""
    return f[0] == "Z" and int(f[17]) <= 1


def session_members(sid: int) -> dict[int, list[str]]:
    """Processes of session `sid` that are not dead -> their stat fields
    after the command name (index 0 = state, 1 = parent, 3 = session,
    11/12 = utime/stime, 17 = threads, 19 = start time in ticks since boot,
    21 = rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        f = _stat_fields(int(d))
        if f and not _dead(f) and int(f[3]) == sid:
            out[int(d)] = f
    return out


def session_cpu_s(sid: int) -> float:
    """User+system CPU seconds of the live members of session `sid`."""
    return sum(
        int(f[11]) + int(f[12]) for f in session_members(sid).values()
    ) / _HZ


def session_rss_mb(sid: int, min_age_s: float = 1.0) -> float:
    """Summed RSS of the members of session `sid` older than `min_age_s`.
    A process the JVM spawns shares the JVM's whole address space until it
    execs (posix_spawn is a vfork), so counting it would add the JVM heap a
    second time; real members live far longer than a second."""
    with open("/proc/uptime") as f:
        born_before = (float(f.read().split()[0]) - min_age_s) * _HZ
    return sum(
        int(f[21]) for f in session_members(sid).values() if int(f[19]) <= born_before
    ) * _PAGE / 1e6


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest/guest_nice are already counted in user/nice
    return vals[7], sum(vals[:8])


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


_PR_SET_CHILD_SUBREAPER = 36


def _reap_orphans(keep: int) -> None:
    """Reap zombie children other than `keep`. As a child subreaper this
    process inherits the orphans of its descendants (the JVM outlives the
    Python driver that started it), so without this they stay zombies."""
    me = os.getpid()
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) != keep:
            f = _stat_fields(int(d))
            if f and _dead(f) and int(f[1]) == me:
                try:
                    os.waitpid(int(d), os.WNOHANG)
                except ChildProcessError:
                    pass


class SessionRun:
    """Run `cmd` as the leader of a new session, sampling the summed RSS of
    the session every `period` seconds until every member has exited."""

    def __init__(self, cmd: list[str], env: dict, log_path: str, period: float = 0.2):
        if ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
            raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
        self.rss: list[tuple[float, float]] = []
        self._log = open(log_path, "ab")
        self.proc = subprocess.Popen(
            cmd, env=env, stdout=self._log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        self.t_launch = time.time()
        self._period = period
        self._done = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        sid = self.proc.pid
        while not self._done.is_set():
            self.rss.append((time.time(), session_rss_mb(sid)))
            self._done.wait(self._period)

    def wait(self, timeout: float, grace: float) -> tuple[int | None, list[int]]:
        """Wait for the leader (killing the session at `timeout`), then for
        every other member. Members still alive `grace` seconds after the
        leader exits get SIGTERM, then SIGKILL. Returns (leader exit code or
        None if it was killed, pids that survived SIGKILL)."""
        sid = self.proc.pid
        try:
            code = self.proc.wait(timeout=max(timeout, 0.0))
        except subprocess.TimeoutExpired:
            code = None
        except BaseException:  # interrupted: kill the session, then re-raise
            self._kill(sid)
            self.proc.wait()
            _reap_orphans(keep=self.proc.pid)
            raise
        deadline = time.time() + (grace if code is not None else 0.0)
        while session_members(sid) and time.time() < deadline:
            time.sleep(0.05)
        self._kill(sid)
        if self.proc.poll() is None:
            self.proc.wait()
        _reap_orphans(keep=self.proc.pid)
        self.t_exit = time.time()
        self._done.set()
        self._sampler.join()
        self._log.close()
        return code, sorted(session_members(sid))

    @staticmethod
    def _kill(sid: int) -> None:
        """SIGTERM, then SIGKILL, every live member of session `sid`."""
        for sig, pause in ((signal.SIGTERM, _TERM_WAIT_S), (signal.SIGKILL, _KILL_WAIT_S)):
            members = session_members(sid)
            if not members:
                break
            for pid in members:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.time() + pause
            while session_members(sid) and time.time() < end:
                time.sleep(0.05)

    def peak_rss_mb(self, windows: list[tuple[float, float]]) -> float:
        inside = [r for t, r in self.rss if any(a <= t <= b for a, b in windows)]
        return max(inside, default=0.0)
