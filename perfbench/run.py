"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload verify_suite --seed 1 --seconds 10 --trace 0

Run it from the repository root.  The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`` with
every end-to-end metric of BENCHMARK.json (``--trace 0``) or every per-layer
metric (``--trace 1``).  A traced run also writes the spans, the per-module
figures and the tracing overhead to ``.perfbench/trace-<workload>-<seed>.json``.

Run hygiene is done here, never by changing the engine:

- the seeded inputs are written to a per-run directory;
- the worker runs in a fresh Python process (and so a fresh JVM) with
  ``PYTHONPATH`` set to the repository root (Python UDF workers cannot
  import the engine otherwise), ``SPARK_GRAFT_CPUS`` set to the core count
  and a fixed ``PYTHONHASHSEED``;
- ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM's temp directory point into
  the per-run directory; what the engine leaves there is counted
  (``tmp.leaked_dirs``, ``tmp.leaked_mb``), then the directory is removed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
PACKAGE = "lets_talk_cdc_change_feed_playground_spark"
# inputs of every workload, in multiples of the reference data's sf 1
SCALE = 0.005
WORKER_TIMEOUT_S = 150
GROUP_GRACE_S = 10
KILL_WAIT_S = 5


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def _end_group(proc: subprocess.Popen, grace_s: float) -> None:
    """Stop what is left of the worker's process group (the JVM and the
    Python UDF workers): give it ``grace_s`` to shut down, then kill it.
    The worker itself is reaped on every round, since a killed but unreaped
    group leader would keep the group alive as a zombie.  Orphans that
    nobody reaps stay zombies too, so the killing stops after
    ``KILL_WAIT_S``."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline + KILL_WAIT_S:
        proc.poll()
        try:
            os.killpg(proc.pid, signal.SIGKILL if time.monotonic() >= deadline else 0)
        except ProcessLookupError:
            break
        time.sleep(0.1)
    proc.wait()


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--canary", action="store_true",
                    help="also time bench.py's load canary after the run (steady.py)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        return _fail(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        return _fail(f"the engine package {PACKAGE}/ is not in {ROOT}")
    sys.path.insert(0, HERE)
    import datagen

    run_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp_dir, local_dir, data_dir = (os.path.join(run_dir, d) for d in ("tmp", "local", "data"))
    for d in (tmp_dir, local_dir):
        os.makedirs(d)
    try:
        datagen.write_tables(data_dir, args.seed, SCALE)
        spec = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "canary": args.canary,
            "data_dir": data_dir,
            "tmp_dir": tmp_dir,
            "result": os.path.join(run_dir, "result.json"),
        }
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": ROOT,
            "PYTHONHASHSEED": "0",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "TMPDIR": tmp_dir,
            "SPARK_LOCAL_DIRS": local_dir,
            # the JVM's own temp files; no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
            "SPARK_DRIVER_MEMORY": env.get("SPARK_DRIVER_MEMORY", "2g"),
        })
        env.pop("SPARK_GRAFT_CACHE_BASE", None)
        spec["spawned_at"] = time.time()
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        log_path = os.path.join(run_dir, "worker.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            code, grace_s = None, 0.0
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
                grace_s = GROUP_GRACE_S
            except subprocess.TimeoutExpired:
                pass
            finally:
                _end_group(proc, grace_s)
        if code != 0 or not os.path.exists(spec["result"]):
            with open(log_path) as f:
                tail = f.read()[-4000:]
            print(tail, file=sys.stderr)
            return _fail(f"worker exited with {code!r}")
        with open(spec["result"]) as f:
            res = json.load(f)
        leaked = os.listdir(tmp_dir)
        leaked_mb = _du(tmp_dir) / 1e6
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        layer = dict(res["layers"])
        layer["tmp.leaked_dirs"] = len(leaked)
        layer["tmp.leaked_mb"] = leaked_mb
        wanted = bench["per_layer"]
    else:
        layer = {k: v["value"] for k, v in res["metrics"].items()}
        wanted = bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in layer]
    if missing:
        return _fail(f"the run did not measure {missing}")
    metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in wanted}

    os.makedirs(OUT, exist_ok=True)
    plain = os.path.join(OUT, f"last-{args.workload}-{args.seed}.json")
    if args.trace:
        trace = {k: res.get(k) for k in ("layers", "modules", "spans", "per_query", "checks", "errors")}
        trace["layers"] = layer
        trace["leaked_entries"] = sorted(leaked)
        trace["end_to_end"] = res["metrics"]
        # tracing overhead: this run's end-to-end figures against the last
        # untraced run of the same workload and seed, when there is one
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["metrics"]
            trace["tracing_overhead"] = {
                k: {"traced": v["value"], "untraced": base[k]["value"],
                    "ratio": v["value"] / base[k]["value"]}
                for k, v in res["metrics"].items() if k in base and base[k]["value"]
            }
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(trace, f, indent=1)
    else:
        with open(plain, "w") as f:
            json.dump({k: res.get(k) for k in ("metrics", "canary", "per_query", "checks_s", "warm_passes")}, f)
    for name, why in res["checks"].items():
        if why != "ok":
            print(f"perfbench: check failed: {name}: {why}", file=sys.stderr)
    for name, why in res["errors"].items():
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)
    if res.get("canary"):
        print(f"perfbench: canary {json.dumps(res['canary'])}", file=sys.stderr)
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
