"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

Builds the workload's inputs from --seed (cached, untimed), runs it,
checks the program's outputs, and prints one JSON object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record (raw samples, the environment stamp and
the calibration probe) goes to .perfbench/out/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    OUT,
    BenchError,
    adopt_orphans,
    await_end,
    group_members,
    log,
    nproc,
    pin_env,
    require_program,
    stamp,
    stop_processes,
    write_json,
)

WORKLOADS = ("ingest_batch", "docs_suite", "live_edge")


_BURN = (
    "import time; t = time.perf_counter(); x = 0\n"
    "for i in range({loops}): x += i * i\n"
    "print(time.perf_counter() - t)"
)


def calibrate(loops: int = 1_000_000) -> float:
    """Host speed stamp: pure-Python Mops/s over nproc processes at once."""
    n = nproc()
    procs = [
        subprocess.Popen([sys.executable, "-c", _BURN.format(loops=loops)],
                         stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    secs = [float(p.communicate(timeout=120)[0]) for p in procs]
    return n * loops / max(secs) / 1e6


def run_one(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    if workload == "live_edge":
        import live

        return live.run(seed, seconds, trace, smoke)
    import batch

    return batch.run(workload, seed, seconds, trace, smoke)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload at a tiny size, with all its checks")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    try:
        res = _run(args)
    finally:
        # no process of the run may outlive it, on any path out
        stop_processes()
    if res is None:
        return 2
    if args.smoke:
        return res
    rec = {**res["record"], "env": res["env"], "trace_mode": args.trace}
    write_json(os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}.json"), rec)
    for e in rec.get("errors", []):
        log(f"check failed: {e}")
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }), flush=True)
    return 0 if correct else 1


def _run(args):
    """The run itself: its result, the smoke mode's exit code, or None
    after an error that ends the run without a result line."""
    try:
        adopt_orphans()
        require_program()
        pin_env()
        env = {**stamp(), "calibration_mops": calibrate()}
        if args.smoke:
            return _smoke(args.seed, bool(args.trace))
        if args.trace:
            _reference(args)
        res = run_one(args.workload, args.seed, args.seconds, bool(args.trace), False)
    except BenchError as e:
        log(f"error: {e}")
        return None
    return {**res, "env": env}


def _reference(args) -> None:
    """A traced run reads its tracing overhead against the untraced runs
    of its workload in this checkout; with none there yet, it makes one
    first, in a process of its own."""
    if glob.glob(os.path.join(OUT, f"{args.workload}-s*-t0.json")):
        return
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        p.wait(timeout=150)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    await_end(lambda: group_members(p.pid), 30)
    if not glob.glob(os.path.join(OUT, f"{args.workload}-s*-t0.json")):
        raise BenchError("the untraced reference run failed")


def _smoke(seed: int, trace: bool) -> int:
    ok = True
    for w in WORKLOADS:
        t0 = time.perf_counter()
        res = run_one(w, seed, 1, trace, True)
        good = res["failed"] == 0
        ok &= good
        log(f"smoke {w}: {'ok' if good else 'FAILED'} in {time.perf_counter() - t0:.1f}s "
            f"{json.dumps({k: round(v, 4) for k, (v, _) in res['metrics'].items()})}")
        for e in res["record"].get("errors", []):
            log(f"  check failed: {e}")
    print(json.dumps({"smoke": "ok" if ok else "failed"}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
