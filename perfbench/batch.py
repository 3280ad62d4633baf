"""The in-process workloads: `ingest_batch`, and `docs_suite`, which runs
the curate verb (`curate_docs`) and the query suite (`query_suite`) in
one session.

One long-lived process per run. The session is started the way the CLI
starts it (`get_spark` with its own defaults) and that start is timed as
set-up. The verbs are called in-process through
`fluent_server_spark.__main__.main(argv)`, which reuses the session; the
query suite collects query plans from the registry
(`fluent_server_spark.queries.all_queries`).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor, wait

import pyarrow.dataset as pads

import eventlog
import inputs
from common import (
    OUT,
    WORK,
    Tracer,
    TreeRss,
    eventlog_conf,
    log,
    median,
    nproc,
    untraced_reference,
    write_json,
)

SIZES = {  # full size, smoke size
    "ingest_batch": (1_000_000, 3_000),
    # curate documents, then the query suite's (documents, embeddings)
    "docs_suite": ((2_000, (1_000, 500)), (300, (300, 250))),
}
WARM_TURNS = 3_000  # ingest_batch's untimed warm-up input
CALL_S = 15.0  # about one warm 1M-turn ingest call on 4 cores
# the registry queries that are the only route into similarity, ivf,
# bm25, semdedup and substring_dedup, with the table each one reads
QUERIES = {
    "ann_topk_lsh": "embeddings",
    "ann_topk_ivf": "embeddings",
    "semdedup_drop": "embeddings",
    "bm25_topk": "documents",
    "substring_dedup": "documents",
}
# the generic layer each named layer rolls up into
LAYER_OF = {
    "sources.registry.scan_s": "scan",
    "functions.parse.self_s": "compute",
    "operators.enrich.self_s": "compute",
    "operators.route.self_s": "compute",
    "operators.skew.self_s": "compute",
    "plans.pipeline.write_s": "write",
    "plans.checkpoint.commit_s": "write",
    "operators.aggregates.read_s": "scan",
    "operators.dedup.exact_s": "compute",
    "operators.dedup.minhash_pairs_s": "compute",
    "operators.dedup.components_s": "compute",
    "operators.lm_quality.band_s": "compute",
    "operators.sampling.split_write_s": "write",
}


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Verb:
    """One shipped CLI verb over a generated input (and, when it warms
    up, a small one to warm up on), with its checks."""

    name = ""
    warms = True

    def __init__(self, seed: int, n: int, work: str, n_warm: int = 0) -> None:
        self.seed, self.n, self.work = seed, n, work
        self.calls = 0
        self.small = self.build(seed, n_warm) if n_warm else None
        self._main = None

    def start(self) -> None:
        """Build the measured input in the background, so that it overlaps
        the untimed warm-up call rather than adding to the run."""
        pool = ThreadPoolExecutor(1)
        self._main = pool.submit(self.build, self.seed, self.n)
        pool.shutdown(wait=False)

    @property
    def main(self) -> tuple[str, dict]:
        return self._main.result()

    def join(self) -> None:
        """Wait for the background build, on every path out of a run, so
        that no process it started outlives the run."""
        if self._main is not None:
            wait([self._main])

    def build(self, seed: int, n: int) -> tuple[str, dict]:
        raise NotImplementedError

    def argv(self, src: str, out: str) -> list[str]:
        raise NotImplementedError

    def check(self, inp: tuple[str, dict], out: str, printed: dict) -> list[str]:
        raise NotImplementedError

    def warm(self, spark) -> list[str]:
        """One untimed call over the small input: it pays JIT and codegen
        warm-up, as every CLI invocation does."""
        return self.call(spark, inp=self.small)[1]

    def call(self, spark, tracer: Tracer | None = None, inp=None):
        """Run the verb once into a fresh output dir and check what it
        printed and wrote: (wall, failed checks). The output dir is
        removed afterwards, untimed."""
        from fluent_server_spark.__main__ import main

        inp = inp or self.main
        self.calls += 1
        out = os.path.join(self.work, f"call{self.calls}")
        shutil.rmtree(out, ignore_errors=True)
        buf = io.StringIO()
        span = tracer.span(f"{self.name}.call") if tracer else contextlib.nullcontext()
        with span:
            t0 = time.perf_counter()
            try:
                with contextlib.redirect_stdout(buf):
                    rc = main(self.argv(inp[0], out))
            except Exception as e:  # a failed call is counted, not fatal
                log("verb call failed:\n" + traceback.format_exc())
                return time.perf_counter() - t0, [f"verb raised {type(e).__name__}: {e}"]
            wall = time.perf_counter() - t0
        lines = buf.getvalue().strip().splitlines()
        if rc != 0 or not lines:
            return wall, [f"verb exited {rc} without a result line"]
        errors = self.check(inp, out, json.loads(lines[-1]))
        shutil.rmtree(out, ignore_errors=True)
        return wall, errors


class Ingest(Verb):
    name = "ingest_batch"

    def build(self, seed, n):
        return inputs.turns_input(seed, n)

    def argv(self, src, out):
        return [
            "--source", "parquet", "--input", src,
            "--sinks", f"{out}/sinks", "--checkpoint", f"{out}/ckpt.jsonl",
        ]

    def check(self, inp, out, printed):
        got = printed.get("routed_counts")
        if got != inp[1]:
            return [f"routed_counts {got} != oracle {inp[1]}"]
        return []

    def layers(self, spark, tracer, work):
        return _ingest_layers(spark, self, tracer, work)


class Curate(Verb):
    name = "curate_docs"

    def __init__(self, *args) -> None:
        self.manifests: dict[str, dict] = {}
        super().__init__(*args)

    def build(self, seed, n):
        return inputs.docs_input(seed, n)

    def argv(self, src, out):
        return ["--curate", out, "--input", src]

    def check(self, inp, out, printed):
        src, oracle = inp
        m = printed.get("curate") or {}
        stages, splits = m.get("stages", {}), m.get("splits", {})
        errors = []
        if stages.get("input") != oracle["input"]:
            errors.append(f"input stage {stages.get('input')} != {oracle['input']}")
        if stages.get("exact_dedup") != oracle["exact_dedup"]:
            errors.append(
                f"exact_dedup {stages.get('exact_dedup')} != pandas distinct "
                f"texts {oracle['exact_dedup']}"
            )
        last = stages.get("quality_band")
        if sum(splits.values()) != last:
            errors.append(f"splits {splits} do not sum to last stage {last}")
        ids = pads.dataset(f"{out}/documents", format="parquet", partitioning="hive")
        col = ids.to_table(columns=["doc_id"]).column("doc_id")
        if len(col) != last or len(col.unique()) != len(col):
            errors.append(f"{len(col)} written rows, {len(col.unique())} distinct doc_id")
        if self.manifests.setdefault(src, m) != m:
            errors.append("manifest differs between repetitions")
        return errors


class Queries:
    """The query suite: one pass over the queries, each plan from the
    registry collected to pandas (timed) and compared with its DuckDB
    oracle over the same files, as scripts/check_entry.py compares them
    (untimed)."""

    name = "query_suite"

    def __init__(self, seed: int, size: tuple[int, int]) -> None:
        self.sf = inputs.sf_input(seed, *size)
        rows = dict(zip(("documents", "embeddings"), size))
        self.rows = sum(rows[table] for table in QUERIES.values())
        self.walls: dict[str, float] = {}

    def call(self, spark, tracer: Tracer | None = None):
        import duckdb

        from fluent_server_spark.queries import all_queries
        from scripts.check_entry import compare

        specs = all_queries()
        con = duckdb.connect()
        for table in set(QUERIES.values()):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{self.sf}/{table}.parquet'")
        errors = []
        outer = tracer.span(f"{self.name}.call") if tracer else contextlib.nullcontext()
        with outer:
            for q in QUERIES:
                span = tracer.span(f"queries.{q}") if tracer else contextlib.nullcontext()
                with span:
                    t0 = time.perf_counter()
                    try:
                        got = specs[q].fn(spark, self.sf).toPandas()
                    except Exception as e:
                        log(f"query {q} failed:\n" + traceback.format_exc())
                        got, err = None, f"raised {type(e).__name__}: {e}"
                    self.walls[q] = time.perf_counter() - t0
                if got is not None:
                    err = compare(got, con.sql(specs[q].sql).df())
                if err:
                    errors.append(f"{q}: {err}")
        con.close()
        return sum(self.walls.values()), errors


class DocsSuite:
    """The document-side operators in one session: the --curate verb over
    a document table, then the query suite over an sf dir of documents
    and embeddings. Neither is warmed up: the call measured is the first
    in the session, as one CLI invocation pays it."""

    name = "docs_suite"
    warms = False

    def __init__(self, seed: int, size: tuple, work: str) -> None:
        n_docs, sf_size = size
        self.seed = seed
        self.curate = Curate(seed, n_docs, work)
        self.queries = Queries(seed, sf_size)
        self.n = n_docs + self.queries.rows  # input rows per call

    def start(self) -> None:
        self.curate.start()

    def warm(self, spark) -> list[str]:
        return []

    def join(self) -> None:
        self.curate.join()

    def call(self, spark, tracer: Tracer | None = None):
        outer = tracer.span(f"{self.name}.call") if tracer else contextlib.nullcontext()
        with outer:
            wall, errors = self.curate.call(spark, tracer)
            q_wall, q_errors = self.queries.call(spark, tracer)
        return wall + q_wall, errors + q_errors

    def layers(self, spark, tracer, work):
        selfs, cats, extra, errors = _curate_layers(spark, self.curate, tracer, work)
        q_selfs, q_cats = _query_layers(spark, self.queries, tracer)
        selfs.update(q_selfs)
        for k, v in q_cats.items():
            cats[k] += v
        return selfs, cats, extra, errors

    def per_part(self, events, tracer) -> dict[str, float]:
        """The event-log totals per call split between the two parts."""
        out = {}
        for part in (self.curate.name, self.queries.name):
            per = eventlog.summarize(events, tracer.subtree(f"{part}.call"))
            k = max(len([s for s in tracer.spans if s["name"] == f"{part}.call"]), 1)
            for key in ("executor_cpu_s", "gc_s", "jobs", "python_worker_s",
                        "python_worker_start_s"):
                out[f"{part}.{key}"] = per[key] / k
            out[f"{part}.peak_exec_mem_mb"] = per["peak_exec_mem_bytes"] / 2**20
        return out


WORKLOADS = {
    "ingest_batch": lambda seed, n, work: Ingest(seed, n, work, WARM_TURNS),
    "docs_suite": DocsSuite,
}


def measured_calls(wl, seconds: float) -> int:
    """A workload that warms up makes one measured call per CALL_S of
    --seconds, at least one; the count does not depend on the host's
    speed, because the JIT is still warming over these calls. A cold
    workload measures its first call only."""
    return max(1, round(seconds / CALL_S)) if wl.warms else 1


def _measure(wl, spark, calls: int, tracer=None):
    walls, errors = [], []
    for _ in range(calls):
        wall, errs = wl.call(spark, tracer)
        walls.append(wall)
        errors.extend(errs)
    return walls, errors


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    """One run. A traced run is the same run with Spark's event log on
    from the start and every measured call under a span, followed by the
    workload's layer probe."""
    from fluent_server_spark.session import get_spark

    work = os.path.join(WORK, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    evdir = os.path.join(work, "eventlog")
    wl = None
    try:
        # inputs and their oracles are built untimed: here, and the
        # measured ingest input during the warm-up call
        wl = WORKLOADS[workload](seed, SIZES[workload][smoke], work)
        calls = measured_calls(wl, seconds)
        with TreeRss() as rss:
            t0 = time.perf_counter()
            # the event log stated either way, because options given to
            # get_spark outlive a stopped session in one process
            spark = get_spark(cpus=nproc(), extra_conf=eventlog_conf(evdir) if trace
                              else {"spark.eventLog.enabled": "false"})
            setup_s = time.perf_counter() - t0
            tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", spark) if trace else None
            wl.start()
            t0 = time.perf_counter()
            errors = wl.warm(spark)
            warmup_s = time.perf_counter() - t0
            walls, call_errors = _measure(wl, spark, calls, tracer)
            errors.extend(call_errors)
            if trace:
                layers, trace_errors = _traced(wl, spark, tracer, walls, work, evdir)
                errors.extend(trace_errors)
            spark.stop()
        record = {
            "workload": workload,
            "seed": seed,
            "size": wl.n,
            "setup_s": setup_s,
            "warmup_s": warmup_s,
            "walls_s": walls,
            "peak_rss_mb": rss.peak_mb,
            "errors": errors,
        }
        attempted = (2 if wl.warms else 1) * len(walls)
        if trace:
            layers["peak_rss_mb"] = (rss.peak_mb, "MB")
            record["trace"] = {k: v[0] for k, v in layers.items()}
            # the layer probe, and docs_suite's repeated call
            return {"record": record, "metrics": layers, "failed": len(errors),
                    "attempted": attempted + (1 if wl.warms else 2)}
        items_per_s = wl.n * len(walls) / sum(walls)
        record["items_per_s"] = items_per_s
        end_to_end = {"setup_s": (setup_s, "s"), "items_per_s": (items_per_s, "1/s")}
        return {"record": record, "metrics": end_to_end, "failed": len(errors),
                "attempted": attempted}
    finally:
        if wl is not None:
            wl.join()
        shutil.rmtree(work, ignore_errors=True)


def _traced(wl, spark, tracer: Tracer, walls: list[float], work: str, evdir: str):
    """Per-layer metrics of a traced run: the workload's layer probe, then
    the event log read back and attributed to the measured calls' spans.
    The tracing overhead is this run's call wall minus the median call
    wall of the untraced runs of the workload in this checkout."""
    selfs, cats, extra, errors = wl.layers(spark, tracer, work)
    if not wl.warms:
        # one more call over the same input: its manifest must repeat
        errors.extend(wl.call(spark)[1])
    spark.stop()  # flushes the event log
    events = eventlog.load(evdir)
    per = eventlog.summarize(events, tracer.subtree(f"{wl.name}.call"))
    more_selfs, detail = extra(events, tracer)
    selfs.update(more_selfs)
    for name, v in more_selfs.items():
        cats[LAYER_OF[name]] += v
    k = len(walls)
    wall = sum(walls) / k
    residue = wall - sum(selfs.values())
    ref = untraced_reference(wl.name, wl.n, lambda r: sum(r["walls_s"]) / len(r["walls_s"]))
    layers = {
        "jobs": (per["jobs"] / k, "count"),
        "tasks": (per["tasks"] / k, "count"),
        "job_busy_s": (per["job_busy_s"] / k, "s"),
        "outside_jobs_s": (wall - per["job_busy_s"] / k, "s"),
        "executor_run_s": (per["executor_run_s"] / k, "s"),
        "executor_cpu_s": (per["executor_cpu_s"] / k, "s"),
        "gc_s": (per["gc_s"] / k, "s"),
        "python_worker_s": (per["python_worker_s"] / k, "s"),
        "python_worker_start_s": (per["python_worker_start_s"] / k, "s"),
        "shuffle_write_mb": (per["shuffle_write_bytes"] / k / 2**20, "MB"),
        "input_mb": (per["input_bytes"] / k / 2**20, "MB"),
        "output_mb": (per["output_bytes"] / k / 2**20, "MB"),
        "peak_exec_mem_mb": (per["peak_exec_mem_bytes"] / 2**20, "MB"),
        **{f"layer_{cat}_s": (cats[cat], "s") for cat in ("scan", "compute", "write")},
        "residue_s": (residue, "s"),
        # no untraced run to read against only in --smoke
        "trace_overhead_s": (wall - ref if ref is not None else float("nan"), "s"),
    }
    out = {f"{wl.name}.{key}": per[key] / k for key in (
        "executor_cpu_s", "gc_s", "jobs", "python_worker_s", "python_worker_start_s")}
    out[f"{wl.name}.peak_exec_mem_mb"] = per["peak_exec_mem_bytes"] / 2**20
    if isinstance(wl, DocsSuite):
        out.update(wl.per_part(events, tracer))
    out.update(selfs)
    out.update(detail)
    out["residue_s"] = residue
    out["trace_overhead_s"] = layers["trace_overhead_s"][0]
    out["traced_walls_s"] = walls
    out["untraced_wall_s"] = ref
    path = os.path.join(OUT, f"trace-{wl.name}-s{wl.seed}.json")
    write_json(path, {"spans": tracer.spans, "layers": out})
    log(f"spans and layer detail written to {os.path.relpath(path)}")
    return layers, errors


def _rollup(selfs: dict[str, float]) -> dict[str, float]:
    cats = {"scan": 0.0, "compute": 0.0, "write": 0.0}
    for name, v in selfs.items():
        cats[LAYER_OF[name]] += v
    return cats


def _ingest_layers(spark, verb: Ingest, tracer: Tracer, work: str):
    """Prefix cuts through the ingest path, each a noop-sink wall: a
    layer's self time is its cut minus the cut before it."""
    from fluent_server_spark.data.synth import ROUTE_RULE_ROWS, lookup_df
    from fluent_server_spark.functions.parse import parse_turns
    from fluent_server_spark.operators.enrich import enrich_turns
    from fluent_server_spark.operators.route import route_turns, rules_from_rows
    from fluent_server_spark.plans.checkpoint import CheckpointLog, GroupCommit
    from fluent_server_spark.plans.pipeline import PipelineConfig, TranscriptPipeline
    from fluent_server_spark.sources import load_turns

    src, oracle = verb.main
    rules = rules_from_rows(ROUTE_RULE_ROWS)
    out = os.path.join(work, "layers")

    def pipe(tag):
        return TranscriptPipeline(spark, PipelineConfig(
            sinks_path=f"{out}/{tag}/sinks", checkpoint_path=f"{out}/{tag}/ckpt.jsonl"))

    cuts = [
        ("sources.registry.scan_s", lambda t: t),
        ("functions.parse.self_s", parse_turns),
        ("operators.enrich.self_s", lambda t: enrich_turns(parse_turns(t), lookup_df(spark))),
        ("operators.route.self_s", lambda t: route_turns(
            enrich_turns(parse_turns(t), lookup_df(spark)), rules)),
        ("operators.skew.self_s", lambda t: pipe("t").transform(t)),
    ]
    walls: dict[str, float] = {}
    for name, fn in cuts:
        with tracer.span(name) as s:
            _noop(fn(load_turns(spark, "parquet", src)))
        walls[name] = tracer.wall(s)
    p = pipe("run")
    with tracer.span("plans.pipeline.run") as run_span:
        p.run(load_turns(spark, "parquet", src))
    with tracer.span("operators.aggregates.read_s") as agg_span:
        counts = {r["sink"]: r["n_turns"] for r in p.aggregates()["routed_counts"].collect()}
    errors = [] if counts == oracle else [f"layer run counts {counts} != oracle"]
    log_path = os.path.join(out, "commit-probe.jsonl")
    commits = []
    for i in range(20):
        rec = GroupCommit(run_id="probe", group_id=i, n_groups=20, n_rows=verb.n,
                          sink_counts=oracle, started_at=0.0, finished_at=0.0)
        t0 = time.perf_counter()
        CheckpointLog(log_path).commit(rec)
        commits.append(time.perf_counter() - t0)
    commit_s = median(commits)
    sinks = f"{out}/run/sinks"
    files = [os.path.join(d, f) for d, _, fs in os.walk(sinks) for f in fs
             if f.endswith(".parquet")]
    names = [c[0] for c in cuts]
    selfs = {names[0]: walls[names[0]]}
    for a, b in zip(names, names[1:]):
        selfs[b] = walls[b] - walls[a]
    selfs["plans.checkpoint.commit_s"] = commit_s
    selfs["plans.pipeline.write_s"] = tracer.wall(run_span) - walls[names[-1]] - commit_s
    selfs["operators.aggregates.read_s"] = tracer.wall(agg_span)
    detail = {
        "functions.parse.quarantine_ratio": oracle.get("sink_quarantine", 0) / verb.n,
        "plans.pipeline.files_written": len(files),
        "plans.pipeline.bytes_written": sum(os.path.getsize(f) for f in files),
    }

    def extra(events, tr):
        run = eventlog.summarize(events, {run_span["id"]})
        recs = sorted(run["write_task_records"]) or [0]
        return {}, {
            **detail,
            "plans.pipeline.shuffle_bytes": run["shuffle_write_bytes"],
            "plans.pipeline.spill_bytes": run["spill_bytes"],
            "plans.pipeline.write_task_skew": recs[-1] / max(median(recs), 1),
        }

    return selfs, _rollup(selfs), extra, errors


def _curate_layers(spark, verb: Curate, tracer: Tracer, work: str):
    """The curate operators in the verb's order, each materialized to
    parquet under its own span, so each span is that operator's own
    work; the near-dup threshold is the one the verb printed in its
    manifest. The split write is read from the verb's own calls in the
    event log: the verb counts the quality band, then writes the split
    documents from the same uncached lineage, so the write action's wall
    minus the count's wall is the split and the partitioned write."""
    from fluent_server_spark.operators.dedup import (
        connected_components,
        dedup_keep_first,
        minhash_lsh_pairs,
    )
    from fluent_server_spark.operators.lm_quality import perplexity_band_filter

    src = verb.main[0]
    threshold = verb.manifests[src]["params"]["dedup_threshold"]
    out = os.path.join(work, "layers")

    def rd(name):
        return spark.read.parquet(f"{out}/{name}")

    stages = [
        ("sources.registry.scan_s", lambda: spark.read.parquet(src), None),
        ("operators.dedup.exact_s", lambda: dedup_keep_first(spark.read.parquet(src)), "exact"),
        ("operators.dedup.minhash_pairs_s",
         lambda: minhash_lsh_pairs(rd("exact"), threshold=threshold), "pairs"),
        ("operators.dedup.components_s", lambda: connected_components(rd("pairs")), "comp"),
        # over the exact-dedup output: the verb's band input less the
        # near-dup cluster drops, a few rows of the same documents
        ("operators.lm_quality.band_s", lambda: perplexity_band_filter(rd("exact")), "band"),
    ]
    selfs: dict[str, float] = {}
    for name, build, dest in stages:
        with tracer.span(name) as s:
            df = build()
            if dest is None:
                _noop(df)
            else:
                df.write.mode("overwrite").parquet(f"{out}/{dest}")
        selfs[name] = tracer.wall(s)
    # the pair count must repeat exactly: once more from the same input
    pair_counts = [rd("pairs").count(),
                   minhash_lsh_pairs(rd("exact"), threshold=threshold).count()]
    errors = []
    if len(set(pair_counts)) != 1:
        errors.append(f"minhash pair count did not repeat: {pair_counts}")

    def extra(events, tr):
        calls = [s["id"] for s in tr.spans if s["name"] == f"{verb.name}.call"]
        split = []
        for sid in calls:
            ex = eventlog.executions(events, tr.subtree_of(sid))
            w = next((i for i, x in enumerate(ex) if x["writes"]), None)
            if w:
                split.append((ex[w]["end"] - ex[w]["start"])
                             - (ex[w - 1]["end"] - ex[w - 1]["start"]))
        per = eventlog.summarize(events, tr.subtree(f"{verb.name}.call"))
        more = {"operators.sampling.split_write_s": median(split)} if split else {}
        return more, {
            "operators.dedup.pairs": pair_counts[-1],
            "sources.registry.scan_factor":
                per["input_bytes"] / len(calls) / verb.main[1]["bytes"],
        }

    return selfs, _rollup(selfs), extra, errors


def _query_layers(spark, qs: Queries, tracer: Tracer):
    """Each query's wall in the traced pass is its layer; a noop scan of
    each table, counted once per query that reads it, is the scan share."""
    scans = {}
    for table in sorted(set(QUERIES.values())):
        with tracer.span(f"sources.registry.scan.{table}") as s:
            _noop(spark.read.parquet(f"{qs.sf}/{table}.parquet"))
        scans[table] = tracer.wall(s)
    selfs = {f"queries.{q}_s": qs.walls[q] for q in QUERIES}
    scan = sum(scans[t] for t in QUERIES.values())
    return selfs, {"scan": scan, "compute": sum(selfs.values()) - scan, "write": 0.0}
