"""One benchmark run in a fresh Python process with a fresh JVM.

``run.py`` starts this file with the run's environment already set and the
path of a JSON spec (workload, seed, seconds, trace, data directory, result
path).  The engine is touched only through its public functions; every call
is timed from here.

A run has three timed phases:

- set-up: the session answers a job, then the workload's staged frames are
  materialised one after another;
- the cold pass: every operation of the workload once, in a fixed order;
- warm passes: the same operations again, in as many whole passes as
  nominally fill ``seconds``.

Each operation is a registered query: the call that builds its DataFrame
(for the streaming queries, the call also runs their streams) and the
``noop`` write that forces the whole plan to run.  Each operation's output
from its last pass that did not fail is checked against DuckDB afterwards,
outside the timed phases.
"""

from __future__ import annotations

import json
import math
import statistics
import sys
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from checks import compare, duck, verdict_properties
from layers import StreamProgress, Tracer, staged_mb

# (query, the query module that defines it), in run order: weighted to CDC
# verification, plus the fixed-cost cases (events_theta_ops recompiles
# generated code on every run, orders_dq_scorecard runs 11 eager jobs,
# cdc_watermark_alignment 24 jobs) and one relational plan.
VERIFY_SUITE = [
    ("cdc_verdict", "cdc_queries"),
    ("cdc_lane_metrics", "cdc_queries"),
    ("cdc_replay_fold", "cdc_queries"),
    ("cdc_debezium_parse", "cdc_queries"),
    ("events_theta_ops", "sketch_queries"),
    ("orders_dq_scorecard", "layout_queries"),
    ("cdc_watermark_alignment", "governance_queries"),
    ("q1_pricing_summary", "relational"),
]

# The streaming queries that start their own streams on every call, so a
# warm pass runs streams again rather than re-reading finished outputs.
STREAM_REPLAY = [
    ("stream_ivm_join", "stream_queries"),
    ("stream_backpressure", "stream_queries"),
]

# the staged frames, by the layer metric that times them
STAGES = ("capture.ops_feed_s", "capture.log_s", "capture.polling_s",
          "capture.trigger_s", "playground.bus_feed_s")

# pass_s: the nominal wall of one warm pass on a 4-core machine; a run makes
# round(seconds / pass_s) warm passes
WORKLOADS = {
    "verify_suite": {"ops": VERIFY_SUITE, "stage": STAGES[:4], "pass_s": 10},
    "stream_replay": {"ops": STREAM_REPLAY, "stage": STAGES[:1], "pass_s": 5},
}

# run in traced runs only, after the timed phases, when the workload itself
# runs no stream: the cheapest query that runs a stream of its own.  Staged
# frames a workload does not stage are likewise staged once then.
STREAM_PROBE = "stream_backpressure"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _stagers(spark, sf_dir):
    from lets_talk_cdc_change_feed_playground_spark.operators import capture, ops_feed
    from lets_talk_cdc_change_feed_playground_spark.operators import playground as pg

    return {
        "capture.ops_feed_s": lambda: ops_feed.ops_feed(spark, sf_dir),
        "capture.log_s": lambda: capture.log_capture(spark, sf_dir),
        "capture.polling_s": lambda: capture.polling_capture(spark, sf_dir),
        "capture.trigger_s": lambda: capture.trigger_capture(spark, sf_dir),
        "playground.bus_feed_s": lambda: pg.bus_feed(spark, sf_dir),
    }


def _run_op(tr: Tracer, fn, name: str, sf_dir: str, spark, tag: str) -> dict:
    group = f"{name}#{tag}"
    tr.set_group(group)
    with tr.span(name) as op:
        with tr.span(f"{name}.build") as b:
            df = fn(spark, sf_dir)
        with tr.span(f"{name}.exec") as e:
            _noop(df)
    return {"wall": op["s"], "build": b["s"], "exec": e["s"], "jobs": tr.group_jobs(group), "df": df}


def main() -> int:
    spec = json.load(open(sys.argv[1]))
    sf_dir, seconds, traced = spec["data_dir"], spec["seconds"], spec["trace"]
    wl = WORKLOADS[spec["workload"]]

    from lets_talk_cdc_change_feed_playground_spark import get_spark, registry
    from lets_talk_cdc_change_feed_playground_spark.operators import shared
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_events

    spark = get_spark("perfbench")
    spark.range(1).count()
    session_s = time.time() - spec["spawned_at"]
    tr = Tracer(spark, traced)
    layer: dict[str, float] = {"session.start_s": session_s}
    listener = None
    if traced:
        listener = StreamProgress()
        spark.streams.addListener(listener)

    queries = registry.queries()
    stagers = _stagers(spark, sf_dir)
    with tr.span("setup.stage") as stage:
        for metric in wl["stage"]:
            with tr.span(metric) as s:
                _noop(stagers[metric]())
            layer[metric] = s["s"]

    attempted = failed = 0
    # query -> pass tag ("cold", "warm1", ...) -> its run; a failed call
    # leaves its pass out
    runs: dict[str, dict[str, dict]] = defaultdict(dict)
    errors: dict[str, str] = {}

    def one_pass(tag: str) -> None:
        nonlocal attempted, failed
        for name, _ in wl["ops"]:
            attempted += 1
            try:
                runs[name][tag] = _run_op(tr, queries[name], name, sf_dir, spark, tag)
            except Exception as e:  # keep measuring; the failure is counted
                failed += 1
                errors[name] = str(e).split("\n")[0][:300]

    if traced:
        cg0 = tr.codegen_ms()
    with tr.span("cold_pass") as cold:
        one_pass("cold")
    if traced:
        cg1, gc1, job1 = tr.codegen_ms(), tr.gc_ms(), tr.last_job_id()
    # a fixed number of passes for a given ``seconds``: the warm walls still
    # fall from pass to pass as the JIT settles, so a pass count that
    # followed the machine's speed would move the medians
    passes = max(1, round(seconds / wl["pass_s"]))
    warm_tags = [f"warm{i}" for i in range(1, passes + 1)]
    with tr.span("warm_passes"):
        for tag in warm_tags:
            with tr.span(f"warm_pass_{tag[4:]}"):
                one_pass(tag)
    staged = staged_mb(spark)

    def warm_runs(name: str) -> list[dict]:
        return [runs[name][t] for t in warm_tags if t in runs[name]]

    med = {n: statistics.median(r["wall"] for r in warm_runs(n)) for n in runs if warm_runs(n)}
    metrics = {
        "setup_s": (session_s + stage["s"], "s"),
        "cold_pass_s": (cold["s"], "s"),
        "warm_pass_s": (sum(med.values()), "s"),
        "query_geomean_s": (math.exp(statistics.fmean(math.log(v) for v in med.values())), "s"),
        "staged_mb": (staged, "MB"),
    }

    if traced:
        cg2, gc2 = tr.codegen_ms(), tr.gc_ms()
        jobs, tasks = tr.jobs_since(job1)
        layer.update({
            "spark.codegen_ms.cold": cg1 - cg0,
            "spark.codegen_ms.warm": (cg2 - cg1) / passes,
            "spark.gc_ms": (gc2 - gc1) / passes,
            "spark.jobs": jobs / passes,
            "spark.tasks": tasks / passes,
        })

    # each query's output from its last pass that did not fail, checked
    # outside the timed phases; a query without one fails its check.  The
    # collects overlap, as they are not measured
    t_checks = time.perf_counter()
    checks: dict[str, str] = {}
    last = {name: runs[name][t]["df"] for name, _ in wl["ops"]
            for t in ["cold", *warm_tags] if t in runs[name]}
    for name, _ in wl["ops"]:
        if name not in last:
            checks[name] = "no output: the query failed in every pass"
    con = duck(sf_dir, spec["tmp_dir"])
    oracle = registry.oracle_sql()
    with ThreadPoolExecutor(max_workers=4) as pool:
        outputs = pool.map(lambda n: last[n].collect(), last)
    for name, out in zip(last, outputs):
        cols, rows = list(last[name].columns), [tuple(r) for r in out]
        bad = compare(cols, rows, con, oracle[name])
        if bad is None and name == "cdc_verdict":
            bad = verdict_properties(cols, rows)
        checks[name] = bad or "ok"
    con.close()
    checks_s = time.perf_counter() - t_checks

    modules: dict[str, dict] = {}
    if traced:
        per_mod: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for name, mod in wl["ops"]:
            warm = warm_runs(name)
            if not warm:
                continue
            m = per_mod[mod]
            m["build_s"] += statistics.median(r["build"] for r in warm)
            m["exec_s"] += statistics.median(r["exec"] for r in warm)
            m["jobs"] += statistics.median(r["jobs"] for r in warm)
            if "cold" in runs[name]:
                m["cold_extra_s"] += runs[name]["cold"]["wall"] - med[name]
        modules = {k: dict(v) for k, v in per_mod.items()}
        for key in ("build_s", "exec_s", "jobs", "cold_extra_s"):
            layer[f"queries.{key}"] = sum(m.get(key, 0.0) for m in modules.values())
        layer.update(_probes(tr, spark, sf_dir, wl, stagers, queries, layer, load_events))
        layer.update(listener.summary(spark))
        layer["shared.anchor_fallbacks"] = shared._ANCHOR_FALLBACKS
    canary = None
    if spec["canary"]:
        import bench  # the repository's load canary: a CPU fold and a small shuffle

        canary = bench._canary(spark)
    frames = shared.clear_shared()
    if traced:
        layer["shared.frames"] = frames
    spark.stop()

    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "checks": checks,
        "correct": all(v == "ok" for v in checks.values()),
        "warm_passes": passes,
        "canary": canary,
        "checks_s": checks_s,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "per_query": {
            n: {tag: {k: r[k] for k in ("wall", "build", "exec", "jobs")} for tag, r in rs.items()}
            for n, rs in runs.items()
        },
    }
    if traced:
        result.update(layers=layer, modules=modules, spans=tr.spans)
    with open(spec["result"], "w") as f:
        json.dump(result, f)
    return 0


def _probes(tr, spark, sf_dir, wl, stagers, queries, layer, load_events) -> dict:
    """Layer figures taken after the timed phases of a traced run: the events
    scan, and every layer the workload itself does not time, so each traced
    run reports every layer."""
    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    with tr.span("probe.sources.events_load_s") as s:
        _noop(load_events(spark, sf_dir))
    out["sources.events_load_s"] = s["s"]
    ev = load_events(spark, sf_dir)
    out["sources.scan_tasks"] = ev.rdd.getNumPartitions()
    out["sources.nonempty_scan_tasks"] = (
        ev.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    for metric in STAGES:
        if metric not in layer:
            with tr.span(f"probe.{metric}") as s:
                _noop(stagers[metric]())
            out[metric] = s["s"]
    if not any(name.startswith("stream_") for name, _ in wl["ops"]):
        with tr.span(f"probe.{STREAM_PROBE}"):
            _noop(queries[STREAM_PROBE](spark, sf_dir))
    return out


if __name__ == "__main__":
    raise SystemExit(main())
