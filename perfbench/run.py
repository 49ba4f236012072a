#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest_steady|analytics>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints a context line, then as its last
line one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1`` (see perfbench/README.md).

The workload runs in a child process in a session of its own. This
process adopts every process the child leaves behind (the JVM, Spark's
Python workers, multiprocessing's resource tracker, the wire service),
and ends and reaps them all before it exits, on every path out.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, TRACE_DIR, Tracer, WorkArea, log, run_context  # noqa: E402

WORKLOADS = ("ingest_steady", "analytics")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 5.0  # for leftovers to end on their own, then after SIGTERM


def become_subreaper() -> None:
    """Make orphaned descendants this process's children, so it can
    reap them (Linux prctl; a no-op where that is missing)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def leftovers(sid: int) -> list[int]:
    """Live processes in session ``sid`` or descended from this one."""
    me = os.getpid()
    parent, session = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] in ("Z", "X"):  # ended; a zombie child is reaped below
            continue
        parent[int(d)], session[int(d)] = int(fields[1]), int(fields[3])
    out = []
    for pid in parent:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if pid != me and (p == me or session[pid] == sid):
            out.append(pid)
    return out


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_all(sid: int) -> int:
    """End every process the child left: give them GRACE_S to exit on
    their own, then SIGTERM, and GRACE_S later SIGKILL. Returns how many
    had to be signalled."""
    signalled = set()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in leftovers(sid) if sig is not None else ():
            try:
                os.kill(pid, sig)
                signalled.add(pid)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + GRACE_S
        while time.monotonic() < deadline:
            reap()
            if not leftovers(sid):
                return len(signalled)
            time.sleep(0.05)
    raise RuntimeError(f"processes {leftovers(sid)} did not end")


def exit_on_signal(signum, _frame) -> None:
    """Turn a signal into SystemExit, so ``finally`` blocks run."""
    raise SystemExit(128 + signum)


def supervise(argv: list[str]) -> int:
    """Run this script with ``argv`` in a child process in a new session;
    return its exit code once it and everything it started have ended."""
    become_subreaper()
    signal.signal(signal.SIGTERM, exit_on_signal)
    signal.signal(signal.SIGINT, exit_on_signal)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child", *argv],
        start_new_session=True,
    )
    rc = 1
    try:
        rc = child.wait()
    finally:
        if child.poll() is None:
            child.terminate()
            try:
                child.wait(GRACE_S)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
        signalled = end_all(child.pid)
        if signalled:
            print(f"ended {signalled} leftover processes", file=sys.stderr, flush=True)
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not args.child:
        return supervise(sys.argv[1:])
    # a SIGTERM from the supervisor still removes the work area
    signal.signal(signal.SIGTERM, exit_on_signal)
    spec = load_spec()
    # the program under test comes from the checkout; without it there
    # is nothing to measure, and the import error ends the run
    sys.path.insert(0, ROOT)
    import kinesumer_spark  # noqa: F401

    from common import static_context

    work = WorkArea(args.workload)
    context = {**static_context(), "workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "before": run_context("before")}
    tracer = Tracer() if args.trace else None
    try:
        if args.workload == "ingest_steady":
            from ingest import run_steady as fn
        else:
            from analytics import run_analytics as fn
        out = fn(work, args.seed, args.seconds, tracer)
    finally:
        work.close()
    context["after"] = run_context("after")
    context["samples"] = out.get("_samples")
    context["rounds"] = out.get("_rounds")
    context["setup_times_s"] = out.get("_setup_times")
    print("context " + json.dumps(context), flush=True)
    problems = out["_problems"]
    for p in problems:
        log(f"CHECK FAILED: {p}")

    e2e = [m["name"] for m in spec["end_to_end"]]
    if tracer is None:
        wanted = spec["end_to_end"]
        values = {m: out[m] for m in e2e}
    else:
        wanted = spec["per_layer"]
        values = dict(out)
        for m in e2e:
            values[f"trace.{m}"] = out[m]
        tracer.write(
            os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json"), context
        )
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": int(out["_attempted"]),
                "failed": int(out.get("_failed", 0)),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
