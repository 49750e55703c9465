"""The engine process of a run.

    python3 -m perfbench.engine '<json config>'

Starts the engine (``get_spark``) and runs the catalog part on it
(``catalog.run_passes``: warm-up passes, then the timed passes).  Then it
starts a ``StreamCatalog`` on a fresh root, a ``LeafServer`` and a
``LeafSocketIOServer`` on a free localhost port, uploads the chat module,
creates the workload's stream and, for ``large``, preloads it through
``Stream.add_events``.  It prints ``READY <port> <json>`` (the set-up
timings and the catalog part's figures and answers) and serves until it
reads ``STOP <t0> <t1>`` on stdin (the generator's window, in
``time.perf_counter`` seconds, which is CLOCK_MONOTONIC and so comparable
across processes on one host).

On stop it times and checks recovery — ``persist_state``, reopens from
the snapshot and, in a traced run, a reopen with the snapshot removed
(full replay), each of which must reproduce the live ``messages`` — and
prints one JSON line: the stream's live ``messages`` as ``[idx, sender,
content]``, the recovery checks and timings and, in a traced run, the
server-side layer metrics.  A traced run also folds a few seeded batches
through each fold tier (``_fold_tiers``) on the warm session.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def main() -> int:
    marks = {"engine_start": time.perf_counter()}
    cfg = json.loads(sys.argv[1])
    real_stdout = sys.stdout
    sys.stdout = sys.stderr  # engine and Spark chatter stays off the pipe

    from perfbench.common import stop_spark
    from perfbench.tracing import Tracer

    tracer = Tracer(bool(cfg["trace"]))
    tracer.install_substrate()
    t = time.perf_counter()
    from leaf_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{cfg['workload']}")
    start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach_spark(spark)

    try:
        return _serve(cfg, spark, tracer, start_s, marks, real_stdout)
    finally:
        tracer.unpatch()
        stop_spark()


def _serve(cfg: dict, spark, tracer, start_s: float, marks: dict, real_stdout) -> int:
    from perfbench import catalog as C
    from perfbench import modules as M

    marks["session_started"] = time.perf_counter()
    cat = C.run_passes(spark, tracer, cfg["catalog"], cfg["seed"], cfg["data_dir"])
    marks["catalog_done"] = time.perf_counter()

    from leaf_spark.catalog import StreamCatalog
    from leaf_spark.server import Connection, LeafServer
    from leaf_spark.socketio import LeafSocketIOServer

    _wrap_layers(tracer)
    catalog = StreamCatalog(spark, os.path.join(cfg["work"], "streams"))
    server = LeafServer(catalog)
    cid = catalog.modules.upload(M.CHAT)
    did = cfg["stream"]
    catalog.create_stream(did, cid)

    # ``large``: preload past the append-mirror cap, in one batch
    t = time.perf_counter()
    if cfg["preload"]:
        catalog.open(did).add_events(
            [M.chat_event(*M.preload_row(i)) for i in range(cfg["preload"])])
    preload_s = time.perf_counter() - t

    tokens = {tok: Connection(user=user) for tok, user in cfg["tokens"].items()}
    sio = LeafSocketIOServer(server, port=0, tokens=tokens).start()
    print(
        "READY", sio.port,
        json.dumps({"session_start_s": start_s, "preload_s": preload_s, "catalog": cat,
                    "marks": {**marks, "serving": time.perf_counter()}}),
        file=real_stdout, flush=True,
    )

    line = sys.stdin.readline().split()
    if not line or line[0] != "STOP":
        sio.close()
        return 1
    t0, t1 = float(line[1]), float(line[2])
    sio.close()
    result = {"messages": _messages(catalog.open(did)), "checks": [], "layers": {}}
    if tracer.enabled:
        tracer.collect_jobs([s for s in tracer.spans if s.t0 >= t0])
        result["layers"] = _layer_metrics(tracer, did, t0, t1)
        result["handles"] = _handle_spans(tracer, t0)
        result["dropped"] = tracer.dropped
    result["recovery"] = _recovery(spark, tracer, catalog, did, result)
    result["recovered_at"] = time.perf_counter()
    if tracer.enabled:
        result["layers"].update(_fold_tiers(spark, tracer, cfg, result))
        traces = os.path.join(os.path.dirname(cfg["work"]), "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{cfg['workload']}-seed{cfg['seed']}.jsonl"))
    print(json.dumps(result), file=real_stdout, flush=True)
    return 0


def _messages(stream) -> list:
    from leaf_spark.types import LeafQuery

    rows = stream.query(None, LeafQuery("messages", {}, None, 10**7))
    return [[r["idx"], r["sender"], r["content"]] for r in rows]


# reopen is cheap (~0.08 s): repeat it and report the median; a median of
# three still spread 15-40 % across runs
REOPENS = 9


def _recovery(spark, tracer, catalog, did: str, result: dict) -> dict:
    """Persist the stream and reopen it from its snapshot ``REOPENS``
    times; in a traced run, remove the snapshot and replay the whole log
    (a per-layer figure: one replay took 2-8 s and spread too far for an
    end-to-end bound).  Every reopened and replayed stream must reproduce
    the live ``messages``."""
    from perfbench.common import median

    live = result["messages"]
    timing = {}
    t = time.perf_counter()
    catalog.open(did).persist_state()
    timing["persist_s"] = time.perf_counter() - t
    catalog.close()
    reopen = []
    for i in range(REOPENS):
        t = time.perf_counter()
        with tracer.span("stream.reopen", job_group=True):
            s = _open(spark, catalog.root, did)
        reopen.append(time.perf_counter() - t)
        if i == 0:
            got = _messages(s)
            result["checks"].append(
                ["reopen==live", got == live, f"{len(got)} vs {len(live)} rows"])
    snap = os.path.join(s.dir, "snapshot")
    timing["snapshot_mb"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(snap) for f in fs) / 1e6
    timing["log_files"] = sum(1 for f in os.listdir(s.events_dir) if f.endswith(".parquet"))
    timing["reopen_s"] = median(reopen)
    timing["reopen_s_samples"] = reopen
    if not tracer.enabled:
        return timing
    shutil.rmtree(snap, ignore_errors=True)
    t = time.perf_counter()
    with tracer.span("stream.replay", job_group=True) as sp:
        s = _open(spark, catalog.root, did)
    timing["replay_s"] = time.perf_counter() - t
    got = _messages(s)
    result["checks"].append(["replay==live", got == live, f"{len(got)} vs {len(live)} rows"])
    tracer.collect_jobs(tracer.subtree(sp))
    timing["replay_jobs"] = tracer.inclusive_jobs(sp)[0]
    return timing


# -- fold tiers (traced runs only) ------------------------------------------

# module name -> events per batch.  ``chat`` folds set-wise, ``counter`` in
# pooled per-key rounds (one round per occurrence of the batch's most
# frequent key, each a few Spark statements), ``dedup`` through the
# compiled ``NOT EXISTS`` statement.  The counter batch is small because
# its cost grows with the rounds: 0.5-1 s a round on a 4-core host.
FOLD_EVENTS = {"chat": 200, "counter": 20, "dedup": 50}
FOLD_BATCHES = 4  # the first is warm-up; the figures are medians of the rest
COUNTER_KEYS, DEDUP_KEYS = 20, 100
ZIPF_S = 0.5  # key k has weight 1 / (k + 1) ** ZIPF_S


def _fold_batches(rng, name: str, n: int) -> list:
    """``FOLD_BATCHES`` seeded batches of ``n`` events for module ``name``;
    counter and dedup keys are Zipf-skewed, so some repeat in a batch."""
    from perfbench import modules as M

    def zipf(keys: int) -> list[str]:
        w = [1.0 / (k + 1) ** ZIPF_S for k in range(keys)]
        return [f"k{k}" for k in rng.choices(range(keys), weights=w, k=n)]

    out = []
    for b in range(FOLD_BATCHES):
        if name == "chat":
            out.append([M.chat_event(f"did:plc:u{rng.randrange(8)}", f"fold-{b}-{i}",
                                     1_700_000_000 + b * n + i) for i in range(n)])
        elif name == "counter":
            out.append([M.counter_event("did:plc:u", k, rng.randrange(1, 10))
                        for k in zipf(COUNTER_KEYS)])
        else:
            out.append([M.dedup_event("did:plc:u", k) for k in zipf(DEDUP_KEYS)])
    return out


def _fold_expected(name: str, batches: list) -> list:
    """The module's query result computed by a plain-Python fold."""
    from leaf_spark import drisl

    events = [(i + 1, e) for i, e in enumerate(ev for b in batches for ev in b)]
    payload = {i: drisl.decode(e.payload) for i, e in events}
    if name == "chat":
        return [[i, e.user, payload[i]["content"]] for i, e in events]
    if name == "counter":
        acc: dict[str, int] = {}
        for i, _ in events:
            acc[payload[i]["name"]] = acc.get(payload[i]["name"], 0) + payload[i]["delta"]
        return sorted([k, v] for k, v in acc.items())
    first: dict[str, int] = {}
    for i, _ in events:
        first.setdefault(payload[i]["key"], i)
    return sorted(([k, i] for k, i in first.items()), key=lambda r: r[1])


def _fold_tiers(spark, tracer, cfg: dict, result: dict) -> dict:
    """Fold ``FOLD_BATCHES`` batches through a fresh stream of each fold
    module and report, per module, the median over the batches after the
    first of the ``add_events`` time and of the ``DmlExecutor.execute``
    statements, Spark jobs, DataFrame checkpoints and py4j commands it
    took.  Each stream's state must equal a plain-Python fold."""
    import random

    from perfbench import modules as M
    from perfbench.common import median
    from leaf_spark.stream import Stream
    from leaf_spark.types import LeafQuery

    # module, its query and the query's columns the check compares
    mods = {"chat": (M.CHAT, "messages", ("idx", "sender", "content")),
            "counter": (M.COUNTER, "counters", ("name", "value")),
            "dedup": (M.DEDUP, "seen", ("key", "idx"))}
    rng = random.Random(cfg["seed"])
    m = {}
    for name, (mod, query, cols) in mods.items():
        n = max(5, int(FOLD_EVENTS[name] * cfg["size"]))
        batches = _fold_batches(rng, name, n)
        s = Stream(spark, os.path.join(cfg["work"], "fold"), f"did:plc:fold-{name}")
        s.provide_module(mod)
        rows = []
        for batch in batches:
            with tracer.span(f"fold.{name}", job_group=True) as sp:
                s.add_events(batch)
            tracer.collect_jobs(tracer.subtree(sp))
            sub = {x.sid: x for x in tracer.subtree(sp)}
            # statements the fold issued; an execution nested in another
            # is not counted
            stmts = [x for x in sub.values() if x.name == "dml.execute"
                     and sub.get(x.parent, sp).name != "dml.execute"]
            rows.append({"ms": sp.ms, "stmts": len(stmts), "jobs": tracer.inclusive_jobs(sp)[0],
                         "ckpts": sp.ckpt, "py4j": sp.py4j})
        for key, metric, unit in (("ms", "stream.batch_ms", "ms"),
                                  ("stmts", "dml.statements_per_batch", "count"),
                                  ("jobs", "spark.jobs_per_batch", "count"),
                                  ("ckpts", "spark.checkpoints_per_batch", "count"),
                                  ("py4j", "py4j.calls_per_batch", "count")):
            m[f"{metric}.{name}"] = (median(r[key] for r in rows[1:]), unit)
        got = [[r[c] for c in cols] for r in s.query(None, LeafQuery(query, {}, None, 10**7))]
        want = _fold_expected(name, batches)
        result["checks"].append([f"fold:{name}==python fold", got == want,
                                 f"{len(got)} vs {len(want)} rows"])
    return m


def _open(spark, root: str, did: str):
    from perfbench import modules as M
    from leaf_spark.stream import Stream

    s = Stream(spark, root, did)
    s.provide_module(M.CHAT)
    return s


# -- tracing -----------------------------------------------------------------


def _did(args, kwargs):
    return {"did": args[0].stream_did}


def _handle_attrs(args, kwargs):
    from leaf_spark import drisl

    endpoint, body = args[2], args[3]
    try:
        bench_id = drisl.decode(body).get("benchId") if body else None
    except Exception:
        bench_id = None
    return {"endpoint": endpoint, "bench_id": bench_id}


def _wrap_layers(tracer) -> None:
    from leaf_spark.dml import DmlExecutor, TableStore
    from leaf_spark.localexec import LocalEval
    from leaf_spark.server import LeafServer
    from leaf_spark.stream import Stream

    tracer.wrap(LeafServer, "handle", "server.handle", attrs_fn=_handle_attrs)
    tracer.wrap(Stream, "add_events", "stream.add_events", job_group=True, attrs_fn=_did)
    tracer.wrap(Stream, "add_state_events", "stream.add_state_events", attrs_fn=_did)
    tracer.wrap(Stream, "query", "stream.query", job_group=True, attrs_fn=_did)
    tracer.wrap(Stream, "query_df", "stream.query_df")
    tracer.wrap(Stream, "persist_state", "stream.persist")
    tracer.wrap(TableStore, "checkpoint_all", "dml.checkpoint")
    tracer.wrap(DmlExecutor, "execute", "dml.execute")
    tracer.wrap(LocalEval, "authorize", "localexec.authorize")
    tracer.wrap(LocalEval, "authorize_setwise", "localexec.authorize")
    tracer.wrap(LocalEval, "run_readonly", "localexec.readonly")


_ENGINE_CHILDREN = ("stream.add_events", "stream.add_state_events", "stream.query")


def _handle_spans(tracer, t0: float) -> dict:
    """bench id → (handle ms, handle self ms): self time is the handle span
    minus its engine child spans (transport decode, dispatch, encode)."""
    out = {}
    for sp in tracer.by_name("server.handle", since=t0):
        bid = sp.attrs.get("bench_id")
        if bid is None:
            continue
        engine = sum(c.ms for c in tracer.children(sp) if c.name in _ENGINE_CHILDREN)
        out[bid] = [sp.ms, sp.ms - engine]
    return out


def _layer_metrics(tracer, did: str, t0: float, t1: float) -> dict:
    from perfbench.common import median, pct

    m = {}
    window = max(t1 - t0, 1e-9)
    handles = tracer.by_name("server.handle", since=t0, until=t1)
    m["server.inflight_mean"] = (sum(min(s.t1, t1) - s.t0 for s in handles) / window, "calls")

    commits = tracer.by_name("stream.add_events", since=t0, until=t1)
    rows = []
    for sp in commits:
        sub = tracer.subtree(sp)
        jobs, _stages, tasks, _sh, _rm = tracer.inclusive_jobs(sp)
        rows.append({
            "ms": sp.ms,
            "dml_ckpt": sum(s.ms for s in sub if s.name == "dml.checkpoint"),
            "spark_ckpt": sum(s.ms for s in sub if s.name == "spark.checkpoint"),
            "ckpts": sp.ckpt,
            "auth": sum(s.ms for s in sub if s.name == "localexec.authorize"),
            "jobs": jobs,
            "tasks": tasks,
            "py4j": sp.py4j,
            "py4j_wait": sp.py4j_wait * 1000.0,
        })
    ms = [r["ms"] for r in rows]
    m["stream.add_events_ms.p50"] = (median(ms), "ms")
    m["stream.add_events_ms.p90"] = (pct(ms, 90), "ms")
    for key, name, unit in (
        ("dml_ckpt", "dml.checkpoint_ms", "ms"),
        ("spark_ckpt", "spark.checkpoint_ms", "ms"),
        ("ckpts", "spark.checkpoints_per_commit", "count"),
        ("auth", "localexec.authorize_ms", "ms"),
        ("jobs", "spark.jobs_per_commit", "count"),
        ("tasks", "spark.tasks_per_commit", "count"),
        ("py4j", "py4j.calls_per_commit", "count"),
        ("py4j_wait", "py4j.wait_ms_per_commit", "ms"),
    ):
        m[name] = (median(r[key] for r in rows), unit)

    persists = tracer.by_name("stream.persist", since=t0, until=t1)
    m["stream.persists_in_window"] = (len(persists), "count")

    queries = [s for s in tracer.by_name("stream.query", since=t0, until=t1)
               if s.attrs["did"] == did]
    req = [s for s in queries if "_serve_conn" in s.thread]
    sub = [s for s in queries if "_serve_conn" not in s.thread]
    hits = [s for s in req if not any(c.name == "stream.query_df" for c in tracer.subtree(s))]
    m["stream.query_ms"] = (median(s.ms for s in req), "ms")
    m["stream.query_calls"] = (len(req), "count")
    m["stream.mirror_hit_ratio"] = (len(hits) / len(req) if req else 0.0, "share")
    m["subscribe.requery_ms"] = (median(s.ms for s in sub), "ms")
    ro = tracer.by_name("localexec.readonly", since=t0, until=t1)
    m["localexec.readonly_ms"] = (median(s.ms for s in ro) if ro else 0.0, "ms")
    m["localexec.readonly_calls"] = (len(ro), "count")
    return m


if __name__ == "__main__":
    sys.exit(main())
