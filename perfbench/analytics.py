"""The ``analytics`` workload: one closed-loop client running rounds of
the 15 headline queries through their registered callables.

The first (cold) round pays JIT, class loading and Python-worker start;
one untimed warm-up round follows; then a number of whole rounds fixed
before timing starts (``--seconds`` over the warm-up round's time,
rounded, at least one), each in a seed-shuffled order. One measured round of every query is compared against its
DuckDB oracle SQL with ``kinesumer_spark.oracle.compare_frames``.
"""

from __future__ import annotations

import random

from common import (
    ProgressListener,
    clock,
    log,
    median,
    start_session,
    timed_setups,
    trigger_metrics,
    trigger_spans,
)

# bench.py's HEADLINE list, frozen here so the workload does not change
# when the repo's headline does
QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "join_broadcast_dim",
    "join_left_outer",
    "window_topk_per_group",
    "events_sessionize",
    "events_asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_cosine_topk",
    "text_fingerprint",
    "stream_consume_envelope",
)
# untimed rounds after the cold one. Round times still drift down a few
# per cent after it, but with two a run took 73-89 s, which left too
# little of the one-hour schedule when the host was loaded
WARMUP_ROUNDS = 1


def run_analytics(work, seed: int, seconds: float, tracer) -> dict:
    import datagen

    data = work.sub("tables")
    datagen.write_tables(data)

    def setup(rep: int) -> dict:
        spark = start_session(work)
        from kinesumer_spark.catalog import load_tables
        from kinesumer_spark.registry import all_queries

        registry = all_queries()
        load_tables(spark, data)
        return {"spark": spark, "registry": registry}

    st, setup_times = timed_setups(setup, lambda s: s["spark"].stop())
    spark, registry = st["spark"], st["registry"]
    sc = spark.sparkContext
    listener = ProgressListener(spark) if tracer is not None else None
    rng = random.Random(seed)
    problems: list[str] = []
    failed = attempted = 0

    def one_round(label: str, keep: bool = False) -> dict:
        nonlocal failed, attempted
        order = list(QUERIES)
        rng.shuffle(order)
        res = {"label": label, "per": {}, "build": 0.0, "collect": 0.0,
               "jobs": 0, "tasks": 0, "frames": {}}
        t_round = clock()
        for name in order:
            attempted += 1
            group = f"{label}:{name}"
            if tracer is not None:
                sc.setJobGroup(group, name)
            try:
                t0 = clock()
                if tracer is None:
                    df = registry[name].spark(spark, data)
                    t1 = clock()
                    pdf = df.toPandas()
                else:
                    with tracer.span(f"build.{name}"):
                        df = registry[name].spark(spark, data)
                    t1 = clock()
                    with tracer.span(f"collect.{name}"):
                        pdf = df.toPandas()
                t2 = clock()
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                failed += 1
                problems.append(f"{label} {name}: {type(e).__name__}: {e}"[:300])
                continue
            res["per"][name] = t2 - t0
            res["build"] += t1 - t0
            res["collect"] += t2 - t1
            if keep:
                res["frames"][name] = pdf
            if tracer is not None:
                tracker = sc.statusTracker()
                for job in tracker.getJobIdsForGroup(group):
                    res["jobs"] += 1
                    info = tracker.getJobInfo(job)
                    for stage in list(info.stageIds) if info else []:
                        s = tracker.getStageInfo(stage)
                        res["tasks"] += s.numTasks if s else 0
        res["time"] = clock() - t_round
        return res

    cold = one_round("cold")
    warm = [one_round(f"warmup{i}")["time"] for i in range(WARMUP_ROUNDS)]
    # rounds still get faster after the warm-up round, so a median over
    # a count that depended on the measured rounds' own speed would move
    # with that count; it is fixed before timing starts
    n_rounds = max(1, round(seconds / warm[-1]))
    rounds = [one_round(f"m{i}", keep=i == 0) for i in range(n_rounds)]
    log(f"analytics: cold {cold['time']:.2f}s, warm-up {warm}, "
        f"measured {[r['time'] for r in rounds]}")

    from kinesumer_spark.oracle import compare_frames, run_oracle

    for name, pdf in rounds[0]["frames"].items():
        sql = registry[name].oracle
        if sql is None:
            problems.append(f"{name}: no oracle SQL")
            continue
        for p in compare_frames(pdf, run_oracle(sql, data)):
            problems.append(f"{name}: {p}")

    times = [r["time"] for r in rounds]
    out = {
        "setup_s": median(setup_times),
        "latency_p50_s": median(times),
        # fewer than 40 rounds: the slowest round, not a tail estimate
        "latency_p99_s": max(times),
        "delivered_rps": len(QUERIES) * len(rounds) / sum(times),
        "round_s": median(times),
        "_samples": len(rounds),
        "_rounds": len(rounds),
        "_setup_times": setup_times,
        "_attempted": attempted,
        "_failed": failed,
        "_problems": problems,
        "session.start_s": setup_times[0],
    }
    if tracer is not None:
        listener.close()
        progress = [p for p in listener.progress if p["name"] == "ks_stream_consume"]
        trigger_spans(progress, tracer)
        out.update(trigger_metrics(progress))
        n = len(rounds)
        out.update(
            {
                "analytics.build_s": sum(r["build"] for r in rounds) / n,
                "analytics.collect_s": sum(r["collect"] for r in rounds) / n,
                "analytics.jobs_per_round": sum(r["jobs"] for r in rounds) / n,
                "analytics.tasks_per_round": sum(r["tasks"] for r in rounds) / n,
                "analytics.cold_round_s": cold["time"],
            }
        )
        for name in QUERIES:
            vals = [r["per"][name] for r in rounds if name in r["per"]]
            out[f"analytics.q.{name}_s"] = median(vals) if vals else 0.0
    spark.stop()
    return out
