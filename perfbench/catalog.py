"""The catalog part of a run: the operator catalog, closed loop, one client.

Each pass builds every query of the workload's set in ``QUERIES``
(``QueryCase.spark_fn``) and forces all of its columns through Spark's
``noop`` sink; ``count()`` would let the optimizer prune columns.  Query
order is shuffled per pass by the seed.  The tables come from ``datagen``
with the run's seed.

The passes run in the engine process (``run_passes``), on the session the
stream part then serves from.  ``WARMUP_PASSES`` passes come first (part of
``setup_s``), the first of which collects every query's rows; the engine
returns each query's answer (row count, column names and an
order-insensitive value hash, the method of ``tools/check.py``), which the
generator checks against the query's DuckDB oracle (``check``).  The timed
window is a fixed number of passes derived from the catalog's share of
``--seconds``.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import random
import time

from . import datagen
from .common import Outcome, geomean, halves, median

# The benchmark's own copy of the measured query sets, kept here so edits
# to bench.py cannot change a workload.  ``small``: one query per operator
# family from bench.py's headline list, sub-second each, where the fixed
# per-job cost dominates.  ``large``: the containment-dedup heavy, whose
# eager checkpoints and iterative rounds make compute and shuffle dominate.
# The other iterative heavy, q49_minhash_lsh, took as long a pass but
# added ~9 s of warm-up to every run: the 48 runs of two sets of
# steadiness evidence per checkout would not fit their time budget.
QUERIES = {
    "small": (
        "q01_pricing_summary",
        "q03_revenue_by_nation",
        "q11_window_topk",
        "q15_correlated_subquery",
        "q34_events_sessionize",
    ),
    "large": ("q90_containment_dedup",),
}
SCALE = 0.01  # lineitem 60,000 rows
# warm-up passes: the first collects the rows for the output check, the
# rest write to the noop sink.  On a fresh session, pass times on a 4-core
# host ran 4.5, 1.9, 1.6, 1.4, 1.4 s (``small``) and 2.9, 1.7, 1.35, 1.1,
# 1.1 s (``large``'s query on a warm JVM); the first pass also pays the
# session's cold start, ~7 s.  With four (``small``) and three (``large``)
# warm-up passes, the window's first-half pass time still ran 9-15 %
# above its second half in nearly every run.
WARMUP_PASSES = {"small": 6, "large": 5}
# sizes the window: passes = round(catalog seconds / this)
NOMINAL_PASS_S = {"small": 1.45, "large": 1.25}


def plan(workload: str, seconds: float, size: float) -> dict:
    """The catalog part's fixed counts for a window of ``seconds``."""
    names = list(QUERIES[workload])
    if size < 1:
        names = names[: max(1, int(len(names) * size + 0.5))]
    return {
        "queries": names,
        "scale": SCALE * size,
        "passes": max(2, round(seconds / NOMINAL_PASS_S[workload])),
        "warmup_passes": WARMUP_PASSES[workload],
    }


# -- output checks (the tools/check.py method) -------------------------------


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def value_hash(rows: list[dict]) -> str:
    """Order-insensitive hash: hash each row with its columns sorted by
    name, sort the row digests, hash their concatenation."""
    digests = sorted(
        hashlib.sha256(
            "|".join(f"{k}={_norm_cell(v)}" for k, v in sorted(r.items())).encode()
        ).hexdigest()
        for r in rows
    )
    return hashlib.sha256("".join(digests).encode()).hexdigest()


def answer(rows: list[dict]) -> tuple[int, list[str], str]:
    return len(rows), sorted(rows[0]) if rows else [], value_hash(rows)


def oracle_answers(cases, names, data_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"create view {t} as select * from '{data_dir}/{t}.parquet'")
    out = {}
    for n in names:
        rows = con.execute(cases[n].oracle).fetch_arrow_table().to_pylist()
        out[n] = answer(rows)
    con.close()
    return out




def prepare(seed: int, cat: dict, data_dir: str, wrong: bool) -> dict:
    """Benchmark-side preparation (not set-up): write the seeded tables and
    compute the oracle's answers.  ``wrong`` makes one answer deliberately
    wrong, so the output check must fail."""
    from leaf_spark.queries import all_cases

    counts = datagen.write_tables(seed, cat["scale"], data_dir)
    expected = oracle_answers(all_cases(), cat["queries"], data_dir)
    if wrong:
        n0 = cat["queries"][0]
        rc, cols, h = expected[n0]
        expected[n0] = (rc + 1, cols, h)
    return {"tables": counts, "expected": expected}


# -- engine side --------------------------------------------------------------


def run_passes(spark, tracer, cat: dict, seed: int, data_dir: str) -> dict:
    """Register the tables, run the warm-up passes and the timed window,
    and return the window's timings and every query's answer."""
    from leaf_spark.queries import all_cases
    from leaf_spark.session import load_tables

    cases = all_cases()
    names = cat["queries"]
    load_tables(spark, data_dir)

    def one_pass(order, sink: str, results: dict | None):
        per_q = {}
        t_pass = time.perf_counter()
        with tracer.span("catalog.pass") as psp:
            for n in order:
                t0 = time.perf_counter()
                with tracer.span("queries.spark_fn", job_group=True, query=n):
                    df = cases[n].spark_fn(spark, data_dir)
                t1 = time.perf_counter()
                with tracer.span("queries.execute", job_group=True, query=n):
                    if sink == "collect":
                        cols = df.columns
                        results[n] = [dict(zip(cols, r)) for r in df.collect()]
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                per_q[n] = (t1 - t0, t2 - t1)
        wall = time.perf_counter() - t_pass
        if tracer.enabled:
            # read back per pass, well inside the status tracker's retention
            tracer.collect_jobs(tracer.subtree(psp))
        return wall, per_q, psp

    rng = random.Random(seed)

    def shuffled():
        order = list(names)
        rng.shuffle(order)
        return order

    collected: dict = {}
    t_w = time.perf_counter()
    with tracer.span("session.warmup"):
        for i in range(cat["warmup_passes"]):
            one_pass(shuffled(), "collect" if i == 0 else "noop", collected)
    warmup_s = time.perf_counter() - t_w

    t_win = time.perf_counter()
    walls, per_query, pass_spans = [], {n: [] for n in names}, []
    for _ in range(cat["passes"]):
        wall, per_q, psp = one_pass(shuffled(), "noop", None)
        walls.append(wall)
        pass_spans.append(psp)
        for n, (c, e) in per_q.items():
            per_query[n].append((c + e) * 1000.0)
    window_s = time.perf_counter() - t_win

    answers = {}
    for n in names:
        got = collected[n]
        dec = [k for k, v in (got[0].items() if got else []) if isinstance(v, decimal.Decimal)]
        answers[n] = [*answer(got), dec]
    res = {"warmup_s": warmup_s, "window_s": window_s, "walls": walls,
           "query_ms": per_query, "answers": answers}
    if tracer.enabled:
        res["layers"] = _layer_metrics(tracer, pass_spans, spark)
    return res


def _layer_metrics(tracer, pass_spans, spark) -> dict:
    slots = spark.sparkContext.defaultParallelism
    rows = []
    for psp in pass_spans:
        sub = tracer.subtree(psp)
        construct = [s for s in sub if s.name == "queries.spark_fn"]
        execute = [s for s in sub if s.name == "queries.execute"]
        jobs, stages, tasks, shuffle, run_ms = tracer.inclusive_jobs(psp)
        rows.append({
            "construct_ms": sum(s.ms for s in construct),
            "execute_ms": sum(s.ms for s in execute),
            "eager_jobs": sum(len(s.jobs) for s in construct),
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "checkpoints": psp.ckpt,
            "py4j": psp.py4j,
            "shuffle_mb": shuffle / 1e6,
            "busy_share": run_ms / (psp.ms * slots) if psp.ms > 0 else 0.0,
        })

    def m(key):
        return median(r[key] for r in rows)

    return {
        "queries.construct_ms": (m("construct_ms"), "ms"),
        "queries.execute_ms": (m("execute_ms"), "ms"),
        "queries.eager_jobs": (m("eager_jobs"), "count"),
        "spark.jobs_per_pass": (m("jobs"), "count"),
        "spark.stages_per_pass": (m("stages"), "count"),
        "spark.tasks_per_pass": (m("tasks"), "count"),
        "spark.checkpoints_per_pass": (m("checkpoints"), "count"),
        "py4j.calls_per_pass": (m("py4j"), "count"),
        "spark.shuffle_mb_per_pass": (m("shuffle_mb"), "MB"),
        "spark.busy_share": (m("busy_share"), "share"),
    }


# -- generator side -------------------------------------------------------------


def check(out: Outcome, res: dict, expected: dict) -> None:
    """Every query's answer against its oracle; decimal outputs fail."""
    for n, want in expected.items():
        out.attempted += 1
        rc, cols, h, dec = res["answers"][n]
        ok = not dec and (rc, cols, h) == tuple(want)
        if not ok:
            out.failed += 1
        out.check(f"oracle:{n}", ok,
                  f"spark rows={rc} oracle rows={want[0]}" + (f" decimal={dec}" if dec else ""))


def metrics(out: Outcome, res: dict, cat: dict) -> None:
    out.attempted += len(cat["queries"]) * (cat["warmup_passes"] - 1 + cat["passes"])
    q_ms = {n: median(v) for n, v in res["query_ms"].items()}
    out.metric("pass_s", median(res["walls"]), "s")
    out.metric("query_geomean_ms", geomean(q_ms.values()), "ms")
    out.details["catalog"] = {
        "queries": cat["queries"], "scale": cat["scale"], "passes": cat["passes"],
        "warmup_passes": cat["warmup_passes"], "warmup_s": res["warmup_s"],
        "window_s": res["window_s"], "pass_s_samples": res["walls"],
        "query_median_ms": q_ms,
    }
    out.details["pass_s"] = halves(res["walls"])
    for n, v in res["query_ms"].items():
        out.details[f"query_ms.{n}"] = halves(v)
