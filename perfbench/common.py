"""Shared pieces of the benchmark: paths, the pinned environment, spans,
the process-tree RSS sampler, small statistics and the result line."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import platform
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# everything the benchmark writes lives under this one ignored directory
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")
WORK = os.path.join(STATE, "work")
OUT = os.path.join(STATE, "out")

SPARK_MEMORY = "4g"  # below host RAM; session.py's own default is 24g


class BenchError(RuntimeError):
    """A failure that ends the run without a result line."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def require_program() -> None:
    if not os.path.isfile(os.path.join(ROOT, "fluent_server_spark", "__main__.py")):
        raise BenchError(f"fluent_server_spark not found under {ROOT}")


def pin_env(eventlog_dir: str | None = None) -> dict[str, str]:
    """Pin the environment every Spark process of the run inherits: the
    package on PYTHONPATH (Python workers do not see sys.path edits),
    SPARK_DRIVER_MEMORY below host RAM, local[nproc], and every scratch and
    temp dir inside the checkout. Returns the environment for child
    processes; `eventlog_dir` turns Spark's event log on for them."""
    for d in (CACHE, WORK, OUT):
        os.makedirs(d, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["SPARK_DRIVER_MEMORY"] = SPARK_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'

    env = dict(os.environ)
    if eventlog_dir:
        env["PYSPARK_SUBMIT_ARGS"] = (
            env["PYSPARK_SUBMIT_ARGS"].replace(" pyspark-shell", "")
            + "".join(f" --conf {k}={v}" for k, v in eventlog_conf(eventlog_dir).items())
            + " pyspark-shell"
        )
    return env


def eventlog_conf(directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + directory,
        "spark.eventLog.compress": "true",
        "spark.eventLog.compression.codec": "zstd",
        "spark.eventLog.rolling.enabled": "true",
    }


def stamp() -> dict:
    """What a reader needs to compare two result files: host shape,
    software versions and the pinned settings."""
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": _meminfo_mb("MemTotal"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "master": f"local[{nproc()}]",
        "spark_memory": SPARK_MEMORY,
    }


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return round(int(line.split()[1]) / 1024, 1)
    return 0.0


# ----------------------------------------------------------------- stats
def median(xs) -> float:
    s = sorted(xs)
    if not s:
        raise BenchError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise BenchError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once at the end. With a Spark session attached, every Spark job
    started inside a span carries the span's id as its job description,
    which is how the event log is attributed back to spans."""

    def __init__(self, run_id: str, spark=None) -> None:
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty("spark.job.description", f"span:{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                parent = self._stack[-1] if self._stack else None
                sc.setLocalProperty(
                    "spark.job.description",
                    None if parent is None else f"span:{parent}",
                )

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def subtree_of(self, sid: int) -> set[int]:
        """The span and every span nested in it."""
        out = {sid}
        for s in self.spans[sid + 1:]:  # children start after their parent
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def subtree(self, name: str) -> set[int]:
        """Every span called `name`, with the spans nested in them."""
        out: set[int] = set()
        for s in self.spans:
            if s["name"] == name:
                out |= self.subtree_of(s["id"])
        return out


# ------------------------------------------------------------- memory
class TreeRss:
    """Peak resident memory of a process tree (this process, the JVM it
    launched, Python workers, any child CLI), sampled from /proc. Each
    process counts its proportional set size, so pages that forked
    Python workers share with their parent are counted once."""

    def __init__(self, root_pid: int | None = None, interval: float = 0.2):
        self.root = root_pid or os.getpid()
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, name="rss", daemon=True)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(self.root))
            self._stop.wait(self.interval)


def _proc_table() -> dict[int, tuple[str, int, int]]:
    """pid -> (state, ppid, process group) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = (fields[0], int(fields[1]), int(fields[2]))
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def group_members(pg: int) -> list[int]:
    return [pid for pid, (_, _, g) in _proc_table().items() if g == pg]


def running(pids) -> list[int]:
    """The processes of `pids` that have not ended. A child of this
    process has ended once it is reaped here; another zombie once no
    thread of it runs (a zombie thread-group leader is only the first
    thread of a process to end, as the JVM's main thread is)."""
    table, me = _proc_table(), os.getpid()
    out = []
    for pid in pids:
        if pid not in table:
            continue
        state, ppid, _ = table[pid]
        if ppid == me:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    continue
            except ChildProcessError:  # reaped by its Popen object
                continue
        elif state == "Z" and _threads(pid) <= 1:
            continue
        out.append(pid)
    return out


def _threads(pid: int) -> int:
    try:
        return len(os.listdir(f"/proc/{pid}/task"))
    except OSError:
        return 0


def await_end(pids_now, grace: float) -> None:
    """Wait until every process `pids_now()` names has ended: after
    `grace` seconds they get SIGTERM, 10 s later SIGKILL."""
    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while left := running(pids_now()):
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline, sig = time.monotonic() + 10, signal.SIGKILL
        time.sleep(0.05)


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent ends (the launcher the JVM leaves behind, Python
    workers of a JVM that ended) becomes this process's child rather than
    init's, so that it is waited for and reaped here."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise BenchError(f"prctl(PR_SET_CHILD_SUBREAPER): errno {ctypes.get_errno()}")


def stop_processes(grace: float = 30.0) -> None:
    """Stop every process this one started and wait until each has ended.
    The Spark JVM outlives a stopped session and ends only once the pipe
    to its stdin closes, as it does some time after its Python driver
    exits; closing the pipe here ends it, and with it the Python workers
    it started, before this process exits. The multiprocessing resource
    tracker, if a pool started one, is stopped the same way."""
    me = os.getpid()
    seen: set[int] = set()

    def tree() -> set[int]:
        seen.update(p for p in descendants(me) if p != me)
        return seen

    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        tree()  # the JVM's workers, before it ends and they are orphaned
        gateway = SparkContext._gateway
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            with contextlib.suppress(Exception):
                gateway.close()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()
    except Exception as e:  # the processes are still stopped below
        log(f"stopping Spark: {type(e).__name__}: {e}")
    from multiprocessing import resource_tracker

    with contextlib.suppress(Exception):
        resource_tracker._resource_tracker._stop()
    await_end(tree, grace)
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def tree_pss_kb(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass  # the process ended between listing and reading
    return total


def untraced_reference(workload: str, size, key) -> float | None:
    """Median of `key(record)` over the correct untraced runs of `workload`
    at `size` recorded in this checkout: what a traced run's tracing
    overhead is read against."""
    vals = []
    for path in glob.glob(os.path.join(OUT, f"{workload}-s*-t0.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("size") == size and not rec.get("errors"):
            vals.append(key(rec))
    return median(vals) if vals else None


# ------------------------------------------------------------- output
def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
