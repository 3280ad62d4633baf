"""The `live_edge` workload: the CLI's `--live-edge` run as a subprocess,
the way a user runs it, fed open-loop over one fluent-forward connection.

Every chunk is timed from its scheduled send time: the ack latency when
the edge acknowledges it, and the freshness when all of its rows are in
sink files committed to the sink's `_spark_metadata` log. SIGTERM after
the schedule starts the documented drain; the drain ends at the final
report line."""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

import eventlog
import inputs
from common import (
    OUT,
    WORK,
    BenchError,
    Tracer,
    TreeRss,
    await_end,
    group_members,
    log,
    median,
    nproc,
    percentile,
    pin_env,
    untraced_reference,
    write_json,
)

CHUNK = 500  # turns per PackedForward chunk
RATE = 10_000  # turns per second, open loop
SETUPS = 3  # launches per run; setup_s is their median
WARM_CHUNKS = 20  # untimed warm-up traffic ahead of the measured schedule
BANNER_TIMEOUT = 60.0
READY_TIMEOUT = 90.0


def _command(spool: str, sinks: str, ckpt: str) -> list[str]:
    return [
        sys.executable, "-m", "fluent_server_spark",
        "--live-edge", spool, "--sinks", sinks, "--checkpoint", ckpt,
        "--host", "127.0.0.1", "--port", "0", "--rotate-seconds", "1",
    ]


class Edge:
    """One live-edge process group: launch, banner, SIGTERM, final report."""

    def __init__(self, root: str, env: dict) -> None:
        self.root = root
        self.spool, self.sinks, self.ckpt = (
            os.path.join(root, d) for d in ("spool", "sinks", "ckpt"))
        # the edge tails its spool from the start; the CLI fails with
        # PATH_NOT_FOUND when the spool dir does not exist by then
        os.makedirs(self.spool, exist_ok=True)
        self._err = open(os.path.join(root, "edge.log"), "wb")
        self.t_launch = time.perf_counter()
        self.t_launch_wall = time.time()
        self.proc = subprocess.Popen(
            _command(self.spool, self.sinks, self.ckpt),
            stdout=subprocess.PIPE, stderr=self._err, env=env, cwd=os.getcwd(),
            start_new_session=True,
        )
        self.port = None
        self.setup_s = None

    def banner(self) -> None:
        line = self._readline(BANNER_TIMEOUT)
        self.setup_s = time.perf_counter() - self.t_launch
        self.port = json.loads(line)["live_edge"]["port"]

    def _readline(self, timeout: float) -> str:
        box: list[bytes] = []
        t = threading.Thread(target=lambda: box.append(self.proc.stdout.readline()), daemon=True)
        t.start()
        t.join(timeout)
        if not box or not box[0]:
            raise BenchError(f"live edge printed nothing within {timeout:.0f}s")
        return box[0].decode()

    def stop(self, timeout: float = 90.0) -> tuple[float, dict]:
        """SIGTERM, then (drain seconds, final report)."""
        t0 = time.perf_counter()
        os.kill(self.proc.pid, signal.SIGTERM)
        report = json.loads(self._readline(timeout))
        return time.perf_counter() - t0, report

    def close(self, kill: bool = False) -> None:
        """Reap the whole process group (the CLI, its JVM, Python workers)."""
        pg = self.proc.pid
        if kill:
            _signal_group(pg, signal.SIGKILL)
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            _signal_group(pg, signal.SIGKILL)
            self.proc.wait(timeout=30)
        await_end(lambda: group_members(pg), 30)
        self.proc.stdout.close()
        self._err.close()


def _signal_group(pg: int, sig) -> None:
    try:
        os.killpg(pg, sig)
    except ProcessLookupError:
        pass


class Landing:
    """Polls the sink's `_spark_metadata` log (batch files and `.compact`
    files) from one thread and records when each chunk's rows are all in
    committed files."""

    def __init__(self, sinks: str, keys_path: str, n_chunks: int, spool: str, ckpt: str):
        self.meta = os.path.join(sinks, "_spark_metadata")
        self.spool, self.ckpt = spool, ckpt
        keys = pq.read_table(keys_path).to_pandas()
        self.chunk_of = {
            f"{c}#{t}": i // CHUNK
            for i, (c, t) in enumerate(zip(keys["conv_id"], keys["turn_idx"]))
        }
        self.rows = [0] * n_chunks
        self.fresh_at: list[float | None] = [None] * n_chunks
        self.per_sink: dict[str, int] = {}
        self.unknown = 0
        self.backlog_max = 0
        self._logs: set[str] = set()
        self._files: set[str] = set()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, name="landing", daemon=True)

    def start(self):
        self._t.start()
        return self

    def finish(self) -> None:
        self._stop.set()
        self._t.join(timeout=30)
        self.poll()  # everything committed by now

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(0.1)

    def poll(self) -> None:
        now = time.perf_counter()
        try:
            names = os.listdir(self.meta)
        except FileNotFoundError:
            return
        for name in sorted(names, key=lambda x: (len(x), x)):
            if name in self._logs or not re.fullmatch(r"\d+(\.compact)?", name):
                continue
            with open(os.path.join(self.meta, name)) as f:
                lines = f.read().splitlines()
            self._logs.add(name)
            for line in lines[1:]:  # the first line is the log version
                rec = json.loads(line)
                if rec.get("action", "add") == "add":
                    self._land(rec["path"], now)
        self._backlog()

    def _land(self, uri: str, now: float) -> None:
        path = uri.split("file:", 1)[-1]
        path = "/" + path.lstrip("/")
        if path in self._files:
            return
        self._files.add(path)
        m = re.search(r"/sink=([^/]+)/", path)
        t = pq.read_table(path, columns=["conv_id", "turn_idx"])
        sink = m.group(1) if m else "?"
        self.per_sink[sink] = self.per_sink.get(sink, 0) + t.num_rows
        for c, i in zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()):
            k = self.chunk_of.get(f"{c}#{i}")
            if k is None:
                self.unknown += 1
                continue
            self.rows[k] += 1
            if self.rows[k] == CHUNK:
                self.fresh_at[k] = now

    def _backlog(self) -> None:
        """Sealed spool segments whose files no committed batch has read."""
        try:
            sealed = [d for d in os.listdir(self.spool) if re.fullmatch(r"\d{6}", d)]
            commits = set(os.listdir(os.path.join(self.ckpt, "commits")))
            srcdir = os.path.join(self.ckpt, "sources", "0")
            done = set()
            for name in os.listdir(srcdir):
                if name.split(".")[0] in commits:
                    with open(os.path.join(srcdir, name)) as f:
                        for line in f.read().splitlines()[1:]:
                            done.add(json.loads(line)["path"].rsplit("/", 2)[-2])
        except (FileNotFoundError, ValueError):
            return
        self.backlog_max = max(self.backlog_max, len([d for d in sealed if d not in done]))


def _send(sock, frames: bytes, offsets: list[int], chunks, due: list[float],
          sent: list[float]) -> None:
    """Open loop: chunk i goes out at due[i] whether or not earlier chunks
    were acked; a late send is recorded, not skipped."""
    for i in chunks:
        delay = due[i] - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        sent[i] = time.perf_counter()
        sock.sendall(frames[offsets[i]:offsets[i + 1]])


class _Acks(threading.Thread):
    """Reads `{"ack": "c000123"}` replies off the connection."""

    def __init__(self, sock, n: int) -> None:
        super().__init__(name="acks", daemon=True)
        self.sock, self.n = sock, n
        self.at: list[float | None] = [None] * n
        self.count = 0

    def start(self):
        super().start()
        return self

    def run(self) -> None:
        buf = b""
        while self.count < self.n:
            try:
                data = self.sock.recv(65536)
            except OSError:
                return
            if not data:
                return
            buf += data
            now = time.perf_counter()
            while len(buf) >= 6:
                # fixmap(1) {fixstr "ack": fixstr id}
                if buf[:5] != b"\x81\xa3ack" or buf[5] & 0xE0 != 0xA0:
                    raise BenchError(f"unexpected bytes from the edge: {buf[:16]!r}")
                n = buf[5] & 0x1F
                if len(buf) < 6 + n:
                    break
                k = int(buf[6:6 + n].decode()[1:])
                buf = buf[6 + n:]
                if self.at[k] is None:
                    self.at[k] = now
                    self.count += 1


def _batch_times(ckpt: str) -> list[tuple[float, float]]:
    """(start, end) per micro-batch from the checkpoint's offsets/ and
    commits/ file mtimes."""
    out = []
    odir, cdir = os.path.join(ckpt, "offsets"), os.path.join(ckpt, "commits")
    for name in os.listdir(cdir) if os.path.isdir(cdir) else []:
        if name.isdigit() and os.path.exists(os.path.join(odir, name)):
            out.append((os.path.getmtime(os.path.join(odir, name)),
                        os.path.getmtime(os.path.join(cdir, name))))
    return sorted(out)


def _edge_pass(root: str, env: dict, frames: bytes, meta: dict, tracer: Tracer) -> dict:
    """Launch, feed on schedule, SIGTERM, drain, check. Returns the record."""
    n_chunks = meta["n_chunks"]
    landing = None
    edge = Edge(root, env)
    try:
        with tracer.span("live_edge.launch_to_banner"):
            edge.banner()
        t_ready = time.perf_counter()
        with tracer.span("live_edge.stream_start"):
            while not os.path.exists(os.path.join(edge.ckpt, "metadata")):
                if time.perf_counter() - t_ready > READY_TIMEOUT or edge.proc.poll() is not None:
                    raise BenchError("live edge stream never started")
                time.sleep(0.05)
        ready_s = time.perf_counter() - edge.t_launch
        landing = Landing(edge.sinks, meta["keys"], n_chunks, edge.spool, edge.ckpt).start()
        due: list[float] = [0.0] * n_chunks
        sent: list[float] = [0.0] * n_chunks
        with socket.create_connection(("127.0.0.1", edge.port)) as sock:
            acks = _Acks(sock, n_chunks).start()
            # warm-up traffic, untimed: the first micro-batches pay JIT
            # and Python-worker start; the measured schedule starts once
            # they have landed
            warm = range(0, WARM_CHUNKS if n_chunks > 2 * WARM_CHUNKS else 1)
            with tracer.span("live_edge.warmup"):
                tw = time.perf_counter() + 0.05
                for i in warm:
                    due[i] = tw + i * CHUNK / RATE
                _send(sock, frames, meta["offsets"], warm, due, sent)
                while not all(landing.fresh_at[i] for i in warm):
                    if time.perf_counter() - tw > READY_TIMEOUT:
                        raise BenchError("warm-up chunks never landed")
                    time.sleep(0.05)
            warmup_s = time.perf_counter() - edge.t_launch
            measured = range(len(warm), n_chunks)
            with tracer.span("live_edge.schedule"):
                t0 = time.perf_counter() + 0.05
                for i in measured:
                    due[i] = t0 + (i - len(warm)) * CHUNK / RATE
                _send(sock, frames, meta["offsets"], measured, due, sent)
                acks.join(timeout=30)
        t_term_wall = time.time()
        with tracer.span("live_edge.drain"):
            drain_s, report = edge.stop()
        t_report_wall = time.time()
        landing.finish()
        edge.close()
    except BaseException:
        if landing is not None:
            landing.finish()
        edge.close(kill=True)
        raise
    m = measured
    ack_ms = [(acks.at[i] - due[i]) * 1000 for i in m if acks.at[i] is not None]
    fresh = [landing.fresh_at[i] - due[i] for i in m if landing.fresh_at[i] is not None]
    late_ms = [(sent[i] - due[i]) * 1000 for i in m]
    errors = []
    landed = sum(landing.per_sink.values())
    if acks.count != n_chunks:
        errors.append(f"{n_chunks - acks.count} of {n_chunks} chunks never acked")
    if landed != acks.count * CHUNK:
        errors.append(f"landed {landed} rows != acked {acks.count * CHUNK}")
    if landing.per_sink != meta["oracle"]:
        errors.append(f"landed per sink {landing.per_sink} != oracle {meta['oracle']}")
    if report.get("sink_counts") != meta["oracle"]:
        errors.append(f"edge report {report.get('sink_counts')} != oracle")
    if landing.unknown or any(r != CHUNK for r in landing.rows):
        errors.append("rows landed more than once or outside the sent chunks")
    batches = _batch_times(edge.ckpt)
    stats = report.get("stats", {})
    return {
        "errors": errors,
        "attempted": n_chunks,
        "failed_chunks": n_chunks - min(acks.count, sum(f is not None for f in landing.fresh_at)),
        "setup_s": edge.setup_s,
        "ready_s": ready_s,
        "warmup_s": warmup_s,
        "ack_ms": ack_ms,
        "fresh_s": fresh,
        "late_ms": late_ms,
        "drain_s": drain_s,
        "span_s": (max(landing.fresh_at[i] for i in m) - t0) if len(fresh) == len(m) else None,
        "measured_turns": len(m) * CHUNK,
        "stats": stats,
        "spool_segments": len([d for d in os.listdir(edge.spool) if re.fullmatch(r"\d{6}", d)]),
        "batches": batches,
        "backlog_max_files": landing.backlog_max,
        "t_term": t_term_wall,
        "edge_wall_s": t_report_wall - edge.t_launch_wall,
        "spool": edge.spool,
    }


def _extra_setups(root: str, env: dict, k: int) -> list[float]:
    """Launch the same command k more times, each stopped right after its
    banner, for more set-up samples."""
    out = []
    for i in range(k):
        edge = Edge(os.path.join(root, f"setup{i}"), env)
        try:
            edge.banner()
            out.append(edge.setup_s)
        finally:
            edge.close(kill=True)
    return out


def _summary(rec: dict) -> dict:
    ack, fresh = rec["ack_ms"], rec["fresh_s"]
    return {
        "ack_p50_ms": percentile(ack, 50),
        "ack_p99_ms": percentile(ack, 99),
        "fresh_p50_s": percentile(fresh, 50),
        "fresh_p99_s": percentile(fresh, 99),
        "drain_s": rec["drain_s"],
        "late_p99_ms": percentile(rec["late_ms"], 99),
    }


def run(seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    n_chunks = 3 if smoke else WARM_CHUNKS + max(int(seconds * RATE / CHUNK), 4)
    path, meta = inputs.live_input(seed, n_chunks, CHUNK)
    with open(path, "rb") as f:
        frames = f.read()
    root = os.path.join(WORK, f"live_edge-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    evdir = os.path.join(root, "eventlog")
    env = pin_env(eventlog_dir=evdir if trace else None)
    tracer = Tracer(f"live_edge-{seed}-{os.getpid()}")
    try:
        # set-up is not reported by a traced run
        setups = _extra_setups(root, env, 0 if smoke or trace else SETUPS - 1)
        with TreeRss() as rss:
            with tracer.span("live_edge"):
                rec = _edge_pass(os.path.join(root, "main"), env, frames, meta, tracer)
        setups.append(rec["setup_s"])
        summary = _summary(rec)
        turns = rec["measured_turns"]
        span = rec["span_s"] or float("inf")
        record = {
            "workload": "live_edge",
            "seed": seed,
            "size": turns,
            "rate_turns_per_s": RATE,
            "chunk": CHUNK,
            "setup_samples_s": setups,
            "ready_s": rec["ready_s"],
            "warmup_s": rec["warmup_s"],
            "peak_rss_mb": rss.peak_mb,
            "fail_ratio": rec["failed_chunks"] / rec["attempted"],
            "errors": rec["errors"],
            **summary,
            "landed_per_s": turns / span,
            "ack_ms": rec["ack_ms"],
            "fresh_s": rec["fresh_s"],
            "batches": rec["batches"],
        }
        metrics = {
            "setup_s": (median(setups), "s"),
            "items_per_s": (turns / span, "1/s"),
        }
        errors = list(rec["errors"])
        attempted = rec["attempted"]
        failed = rec["failed_chunks"] + len(errors)
        if trace:
            metrics = _traced(root, evdir, seed, rec, record, tracer, rss.peak_mb)
        return {"record": record, "metrics": metrics, "failed": failed,
                "attempted": attempted}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _traced(root, evdir, seed, rec, record, tracer, peak_rss_mb):
    """Per-layer metrics of a traced pass (the edge ran with its event log
    on), with the batch path timed in this process by prefix cuts over the
    landed spool. The micro-batches' busy time is explained by the cuts
    (decode, parse + enrich + route, partitioned parquet write, all over
    the same rows in one batch) and a residue: what running the work as
    many small batches adds. The tracing overhead is this pass's median
    freshness minus the median of the untraced runs in this checkout."""
    events = eventlog.load(evdir)
    per = eventlog.summarize(events)
    jobs_after = [e for e in events if e["Event"] == "SparkListenerJobStart"
                  and e["Submission Time"] / 1000.0 >= rec["t_term"]]
    batches_after = [(s, e) for s, e in rec["batches"] if e >= rec["t_term"]]
    last_commit = max((e for _, e in rec["batches"]), default=rec["t_term"])
    final = eventlog.summarize(
        [e for e in events if e["Event"] != "SparkListenerJobStart"
         or e["Submission Time"] / 1000.0 > last_commit], None)
    cuts = _layer_cuts(rec["spool"], os.path.join(root, "cuts"))
    summary = _summary(rec)
    ref = untraced_reference("live_edge", record["size"], lambda r: r["fresh_p50_s"])
    durations = [e - s for s, e in rec["batches"]]
    busy = sum(durations)
    drain_selfs = {
        "streaming.drain_batches_s": sum(e - max(s, rec["t_term"]) for s, e in batches_after),
        "streaming.final_count_s": final["job_busy_s"],
    }
    detail = {
        "sources.forward_server.entries": rec["stats"].get("entries"),
        "sources.forward_server.acks": rec["stats"].get("acks"),
        "sources.forward_server.rejected": rec["stats"].get("rejected"),
        "sources.forward_server.overflowed": rec["stats"].get("overflowed"),
        "sources.forward_server.spool_segments": rec["spool_segments"],
        "sources.fluentfile.decode_s": cuts["scan"],
        "streaming.stream_pipeline.batches": len(rec["batches"]),
        "streaming.stream_pipeline.batch_p50_s": median(durations) if durations else 0.0,
        "streaming.stream_pipeline.busy_s": busy,
        "streaming.stream_pipeline.backlog_max_files": rec["backlog_max_files"],
        "generator.late_p99_ms": summary["late_p99_ms"],
        "live_edge.executor_cpu_s": per["executor_cpu_s"],
        "live_edge.gc_s": per["gc_s"],
        "live_edge.jobs": per["jobs"],
        "live_edge.jobs_after_sigterm": len(jobs_after),
        "live_edge.python_worker_s": per["python_worker_s"],
        "live_edge.python_worker_start_s": per["python_worker_start_s"],
        "live_edge.peak_exec_mem_mb": per["peak_exec_mem_bytes"] / 2**20,
        **{f"layer_{k}_s": v for k, v in cuts.items()},
        "residue_s": busy - sum(cuts.values()),
        **drain_selfs,
        "drain_residue_s": rec["drain_s"] - sum(drain_selfs.values()),
        "traced": summary,
        "untraced_fresh_p50_s": ref,
    }
    record["trace"] = detail
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"trace-live_edge-s{seed}.json")
    write_json(path, {"spans": tracer.spans, "layers": detail, "batches": rec["batches"]})
    log(f"layer detail written to {os.path.relpath(path)}")
    metrics = {
        "jobs": (per["jobs"], "count"),
        "tasks": (per["tasks"], "count"),
        "job_busy_s": (per["job_busy_s"], "s"),
        "outside_jobs_s": (rec["edge_wall_s"] - per["job_busy_s"], "s"),
        "executor_run_s": (per["executor_run_s"], "s"),
        "executor_cpu_s": (per["executor_cpu_s"], "s"),
        "gc_s": (per["gc_s"], "s"),
        "python_worker_s": (per["python_worker_s"], "s"),
        "python_worker_start_s": (per["python_worker_start_s"], "s"),
        "shuffle_write_mb": (per["shuffle_write_bytes"] / 2**20, "MB"),
        "input_mb": (per["input_bytes"] / 2**20, "MB"),
        "output_mb": (per["output_bytes"] / 2**20, "MB"),
        "peak_exec_mem_mb": (per["peak_exec_mem_bytes"] / 2**20, "MB"),
        **{f"layer_{k}_s": (v, "s") for k, v in cuts.items()},
        "residue_s": (detail["residue_s"], "s"),
        # no untraced run to read against only in --smoke
        "trace_overhead_s": (summary["fresh_p50_s"] - ref if ref is not None else float("nan"), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    return metrics


def _layer_cuts(spool: str, out: str) -> dict[str, float]:
    """Prefix cuts over the landed spool, in this process, each timed on
    its second run: a noop read of the spool through the registry's
    `fluent-file` source, i.e. `read_spool_files` (scan), plus parse, enrich
    and route as the edge's stream applies them (compute), plus the
    sink-partitioned parquet write (write)."""
    from fluent_server_spark.data.synth import ROUTE_RULE_ROWS, lookup_df
    from fluent_server_spark.functions.parse import parse_turns
    from fluent_server_spark.operators.enrich import enrich_turns
    from fluent_server_spark.operators.route import route_turns, rules_from_rows
    from fluent_server_spark.session import get_spark
    from fluent_server_spark.sources import load_turns

    spark = get_spark(cpus=nproc(), extra_conf={"spark.eventLog.enabled": "false"})
    rules = rules_from_rows(ROUTE_RULE_ROWS)

    def turns():
        return load_turns(spark, "fluent-file", f"{spool}/*/*.msgpack")

    def routed():
        return route_turns(enrich_turns(parse_turns(turns()), lookup_df(spark)), rules)

    cuts = [
        lambda: turns().write.mode("overwrite").format("noop").save(),
        lambda: routed().write.mode("overwrite").format("noop").save(),
        lambda: routed().write.mode("overwrite").partitionBy("sink").parquet(out),
    ]
    try:
        walls = []
        for cut in cuts:
            for _ in range(2):
                t0 = time.perf_counter()
                cut()
                wall = time.perf_counter() - t0
            walls.append(wall)
        return {"scan": walls[0], "compute": walls[1] - walls[0], "write": walls[2] - walls[1]}
    finally:
        spark.stop()
