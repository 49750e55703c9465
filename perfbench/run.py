"""Benchmark entry point.

    python3 perfbench/run.py --workload {small,large}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Every run has the same two parts, on
one engine process: the catalog part (catalog queries, closed loop,
``catalog``) and then the stream part (the chat module served over
socket.io at fixed rates, ``chat_wire``).  The workload picks their
inputs: ``small`` runs the sub-second catalog queries and a fresh stream
served from the append mirror; ``large`` runs the compute-heavy catalog
queries and a stream preloaded past the mirror cap, served by Spark.

Inputs come from ``--seed``; the timed windows' operation counts come from
``--seconds`` (``CATALOG_SHARE`` of it for the catalog part, the rest for
the stream part).  ``--trace 0`` prints the end-to-end metrics, ``--trace
1`` the per-layer metrics (from a separate, traced run).  The last line
of standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a ``{"details": ...}`` object with the
steadiness diagnostics.  A failed output check exits 1 after printing the
result; a checkout without the engine exits 2 without printing one.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("small", "large")
CATALOG_SHARE = 0.4  # of --seconds; the stream part's window is the rest
E2E = ("setup_s", "pass_s", "query_geomean_ms", "commit_p50_ms", "push_p50_ms")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: a fraction of the normal sizes, and an expectation
    # that is deliberately wrong so the output check must fail
    p.add_argument("--size", type=float, default=1.0, help=argparse.SUPPRESS)
    p.add_argument("--wrong-expectation", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _prepare_env(root: str, work_path: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the run's
    work directory, and run the engine on local[nproc] like tier-1."""
    from perfbench.common import nproc

    tmp = os.path.join(work_path, "tmp")
    local = os.path.join(work_path, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    import tempfile

    tempfile.tempdir = tmp


def _clean(v):
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, dict):
        return {str(k): _clean(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_clean(x) for x in v]
    return v


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, here)
    from perfbench.common import Clock, HostSampler, Outcome, WorkDir, engine_present

    if not engine_present(root):
        print(f"perfbench: no leaf_spark package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    host = HostSampler()
    work = WorkDir(root, args.workload)
    _prepare_env(root, work.path)

    real_stdout = sys.stdout
    out = Outcome()
    clock = Clock(_T0)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            _run(args, clock, out, work)
            host_info = host.summary()
    finally:
        work.close()

    if args.trace:
        out.metric("host.steal_share", host_info["steal_share"], "share")
        out.metric("host.load1", host_info["load1_before"], "load")
        # a traced run reports per-layer metrics; its end-to-end figures
        # go to the details, where they give the tracing overhead
        out.details["e2e_traced"] = {k: out.metrics.pop(k)[0] for k in E2E if k in out.metrics}
    out.details["host"] = host_info
    out.details["checks_failed"] = [(n, d) for n, ok, d in out.checks if not ok]
    out.details["checks_run"] = len(out.checks)
    result = {
        "correct": out.correct,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.metrics.items()},
    }
    print(json.dumps(_clean({"details": out.details})), file=real_stdout)
    print(json.dumps(_clean(result)), file=real_stdout, flush=True)
    return 0 if out.correct else 1


def _run(args, clock, out, work) -> None:
    """Prepare both parts' inputs, start the engine process, check the
    catalog part it ran, drive the stream part, and always stop the
    engine process and wait for it."""
    import random
    import subprocess

    from perfbench import catalog, chat_wire
    from perfbench.common import repo_root

    cat = catalog.plan(args.workload, args.seconds * CATALOG_SHARE, args.size)
    # benchmark-side preparation: tables, oracle answers and the stream
    # part's schedule (not set-up)
    with clock.exclude():
        data_dir = work.sub("tables")
        prep = catalog.prepare(args.seed, cat, data_dir, args.wrong_expectation)
        chat = chat_wire.plan(random.Random(args.seed), args.workload,
                              args.seconds * (1 - CATALOG_SHARE), args.size)
    out.details["tables"] = prep["tables"]
    cfg = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": int(bool(args.trace)), "work": work.path, "data_dir": data_dir,
        "catalog": cat, "stream": chat_wire.STREAM, "tokens": chat_wire.TOKENS,
        "preload": chat["preload"],
    }
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.engine", json.dumps(cfg)],
        cwd=repo_root(), stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    conns = {}
    try:
        ready = proc.stdout.readline().split(maxsplit=2)
        if not ready or ready[0] != "READY":
            raise RuntimeError("engine process failed to start")
        setup = json.loads(ready[2])
        catalog.check(out, setup["catalog"], prep["expected"])
        catalog.metrics(out, setup["catalog"], cat)
        if args.trace:
            for name, (v, unit) in setup["catalog"]["layers"].items():
                out.metric(name, v, unit)
        chat_wire.drive(args, clock, out, chat, int(ready[1]), conns, proc, setup)
        proc.wait(timeout=60)
    finally:
        for c in conns.values():
            c.close()
        if proc.poll() is None:
            # end of stdin tells the engine process to stop its JVM and exit
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
