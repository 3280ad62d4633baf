"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test runs `run.py --smoke`: every workload at a tiny size with
all of its correctness checks (about two minutes on 4 cores).
"""

from __future__ import annotations

import os
import socket
import subprocess
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402

sys.path.insert(0, common.ROOT)


def test_gen_turns_has_fixture_properties():
    t = inputs.gen_turns(7, 20_000)
    hot = (t["conv_id"] == "conv-00000000").mean()
    assert 0.29 < hot < 0.31
    bad = t["text"].str.startswith("?garbled").mean()
    assert 0.01 < bad < 0.03
    for _, g in t.groupby("conv_id"):
        assert sorted(g["turn_idx"]) == list(range(len(g)))
        assert g.sort_values("turn_idx")["ts"].is_monotonic_increasing
    assert inputs.gen_turns(7, 20_000).equals(t)
    assert not inputs.gen_turns(8, 20_000).equals(t)


def test_block_built_turns_keep_fixture_properties():
    import pandas as pd

    t = pd.concat([inputs.gen_turns(7, 30_000, b, 3) for b in range(3)], ignore_index=True)
    assert len(t) == 30_000
    assert 0.29 < (t["conv_id"] == "conv-00000000").mean() < 0.31
    for _, g in t.groupby("conv_id"):
        assert sorted(g["turn_idx"]) == list(range(len(g)))
        assert g.sort_values("turn_idx")["ts"].is_monotonic_increasing
    assert inputs.gen_turns(7, 30_000, 1, 3).equals(inputs.gen_turns(7, 30_000, 1, 3))


def test_packed_forward_decodes_with_the_edge_decoder():
    from fluent_server_spark.sources.fluentfile import decode_spool_blob, encode_entry
    from fluent_server_spark.sources.forward_server import _try_decode

    entries = b"".join(
        encode_entry((1_704_067_200 + i, 5), {"conv_id": "c", "turn_idx": i}) for i in range(3)
    )
    frame = inputs.packed_forward("turns", entries, "c000042", 3)
    (tag, blob, option), used = _try_decode(frame)
    assert used == len(frame) and tag == "turns"
    assert option == {"chunk": "c000042", "size": 3}
    assert [r["turn_idx"] for _, _, r in decode_spool_blob(bytes(blob))] == [0, 1, 2]


def test_acks_reader_parses_split_frames():
    import live

    a, b = socket.socketpair()
    try:
        reader = live._Acks(a, 3).start()
        wire = b"".join(b"\x81\xa3ack" + bytes([0xA7]) + f"c{i:06d}".encode() for i in (2, 0, 1))
        b.sendall(wire[:9])
        b.sendall(wire[9:])
        reader.join(timeout=10)
        assert not reader.is_alive()
        assert reader.count == 3 and all(t is not None for t in reader.at)
    finally:
        a.close()
        b.close()


def test_percentile_and_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert common.median(xs) == 3.0
    assert common.median([1.0, 2.0]) == 1.5
    assert common.percentile(xs, 0) == 1.0
    assert common.percentile(xs, 100) == 5.0
    assert common.percentile(xs, 50) == 3.0
    assert common.percentile(list(range(101)), 99) == pytest.approx(99.0)


def _task(stage, run_ms, cpu_ns, records=0, py_ms=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": "time to run Python workers", "Update": str(py_ms)}]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Disk Bytes Spilled": 0, "Peak Execution Memory": run_ms,
            "Input Metrics": {"Bytes Read": 100},
            "Output Metrics": {"Bytes Written": 7, "Records Written": records},
        },
    }


def test_eventlog_attributes_jobs_and_tasks_to_spans():
    def job(jid, span, start, end, stage):
        props = {"spark.job.description": f"span:{span}"}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
             "Properties": props},
            {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
             "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
        ]

    events = (job(0, 1, 1000, 3000, 0) + job(1, 1, 2000, 4000, 1) + job(2, 2, 9000, 9500, 2)
              + [_task(0, 500, 2e8, records=4), _task(1, 300, 1e8, py_ms=250), _task(2, 99, 0)])
    s = eventlog.summarize(events, {1})
    assert s["jobs"] == 2 and s["tasks"] == 2
    assert s["job_busy_s"] == pytest.approx(3.0)  # [1, 4] s, overlaps merged
    assert s["executor_run_s"] == pytest.approx(0.8)
    assert s["executor_cpu_s"] == pytest.approx(0.3)
    assert s["python_worker_s"] == pytest.approx(0.25)
    assert s["write_task_records"] == [4]
    assert eventlog.summarize(events)["jobs"] == 3


def test_executions_orders_actions_and_flags_writes():
    def ex(eid, span, start, end, job, stage, records):
        props = {"spark.job.description": f"span:{span}", "spark.sql.execution.id": str(eid)}
        return [
            {"Event": eventlog._SQL_START, "executionId": eid, "time": start},
            {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": start,
             "Stage IDs": [stage], "Properties": props},
            _task(stage, 10, 0, records=records),
            {"Event": eventlog._SQL_END, "executionId": eid, "time": end},
        ]

    events = ex(1, 3, 2000, 2500, 0, 0, 0) + ex(0, 3, 1000, 1500, 1, 1, 0) + ex(2, 3, 3000, 4000, 2, 2, 5)
    events += ex(3, 9, 5000, 6000, 3, 3, 5)  # another span
    got = eventlog.executions(events, {3})
    assert [(x["start"], x["writes"]) for x in got] == [(1.0, False), (2.0, False), (3.0, True)]


def test_tracer_subtree_collects_nested_spans():
    t = common.Tracer("r")
    with t.span("a.call"):
        with t.span("x"):
            with t.span("y"):
                pass
    with t.span("z"):
        pass
    with t.span("a.call"):
        pass
    assert t.subtree("a.call") == {0, 1, 2, 4}
    assert t.subtree_of(1) == {1, 2}


def test_tree_pss_counts_children():
    p = subprocess.Popen([sys.executable, "-c",
                          "import time; x = bytearray(64 << 20); time.sleep(3)"])
    try:
        threading.Event().wait(1.0)
        alone = common.tree_pss_kb(p.pid)
        assert common.tree_pss_kb(os.getpid()) >= alone >= 64 * 1024
    finally:
        p.kill()
        p.wait(timeout=10)


def test_stop_processes_reaps_orphans():
    code = (
        f"import os, subprocess, sys; sys.path.insert(0, {HERE!r}); import common\n"
        "common.adopt_orphans()\n"
        "pid = int(subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "                         capture_output=True, text=True).stdout)\n"
        "assert common._proc_table()[pid][1] == os.getpid()\n"
        "common.stop_processes(grace=0.5)\n"
        "print(pid, os.path.exists(f'/proc/{pid}'))\n"
    )
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.split()[-1] == "False"


def test_docs_oracle_counts_normalized_distinct_texts():
    assert inputs._normalize("  Spark  JOIN\tdata ") == "spark join data"


def test_smoke_runs_every_workload_with_checks():
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--trace", "1"],
        cwd=common.ROOT, capture_output=True, text=True, timeout=900,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert r.stdout.strip().splitlines()[-1] == '{"smoke": "ok"}'


def test_refuses_to_run_without_the_program(tmp_path):
    import shutil

    dst = tmp_path / "perfbench"
    shutil.copytree(HERE, dst, ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, str(dst / "run.py"), "--workload", "ingest_batch", "--seed", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""
