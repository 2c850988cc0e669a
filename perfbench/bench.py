"""One benchmark run in a fresh process (started by ``perfbench/run.py``).

Starts the Spark session, sets the workload up ``SETUP_REPS`` times
(fresh inputs each time; ``setup_s`` is the session start plus the
median set-up), then runs operations in a closed loop for ``--seconds``.
With ``--trace 1`` the same loop runs traced instead; its spans and the
engine's status-store counters give the per-layer metrics.  The
tracing overhead is the traced run's ``trace.turns_per_s`` against the
untraced run's ``turns_per_s`` at the same seed (both start cold), and
the tracer's own time as a share of the operations' time.
The result JSON goes to ``--result``; ``run.py`` prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

SETUP_REPS = 3
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--size", default="bench")
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it (by
    nearest rank); the maximum when there are too few samples."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10:
            rank = max(1, min(n, int(-(-p * n // 100))))
            return xs[rank - 1], f"p{p:g}"
    return xs[-1], "max"


def measure(wl, seconds: float, tracer=None, traced_store=None) -> list:
    """Closed loop: one operation at a time until ``seconds`` elapsed
    (at least one)."""
    results = []
    i = 0
    t0 = time.perf_counter()
    while not results or time.perf_counter() - t0 < seconds:
        root = None
        if tracer is not None:
            tracer.run_id = f"{wl.name}-seed{wl.seed}-op{i}"
            root = tracer.start("op", index=i)
        ts = time.perf_counter()
        try:
            r = wl.op(i, tracer, traced_store)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            r = {"ok": False, "latency_s": time.perf_counter() - ts,
                 "turns": 0, "error": True}
        finally:
            if root is not None:
                tracer.end(root)
        if r is None:  # no input left
            break
        results.append(r)
        i += 1
    return results


def rate(results) -> float:
    busy = sum(r["latency_s"] for r in results)
    return sum(r["turns"] for r in results) / busy if busy else 0.0


def end_to_end(results, quality, setup_s, failed, attempted):
    good = [r for r in results if r["ok"]]
    # one sample per drain on ingest, per run on the resolve workloads
    lat = [x for r in results for x in r.get("drains", [r["latency_s"]])]
    tail_v, tail_p = tail(lat)

    def med(key):  # measured on every operation, failed checks included
        vals = [r[key] for r in results if key in r]
        return statistics.median(vals) if vals else 0.0

    if "bytes" in quality:
        turns = sum(r["turns"] for r in results)
        bpt = quality["bytes"] / turns if turns else 0.0
    else:
        bpt = statistics.median(
            [r["bytes"] / r["turns"] for r in good if r["turns"]] or [0.0]
        )
    m = {
        "setup_s": (setup_s, "s"),
        "turns_per_s": (rate(results), "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail_v, "s"),
        "pair_f1": (quality.get("pair_f1", med("pair_f1")), "ratio"),
        "cluster_f1": (quality.get("cluster_f1", med("cluster_f1")), "ratio"),
        "store_bytes_per_turn": (bpt, "B"),
        "ok_share": (1.0 - failed / attempted, "ratio"),
    }
    info = {"latency_tail_percentile": tail_p, "latency_samples": len(lat)}
    return m, info


def per_layer(spark, wl, tracer, results, after_job, quality, cores,
              trace_path) -> dict:
    from tracing import (
        layer_metrics,
        read_engine_counters,
        self_times,
        task_skew,
        write_trace,
    )

    sc = spark.sparkContext
    jobs, stages = read_engine_counters(sc, after_job)
    n = max(len(results), 1)
    m, layer_stages = layer_metrics(tracer.spans, jobs, stages, cores, n)

    def mean(key):
        return sum(r.get(key, 0) for r in results) / n

    blocking = sorted(layer_stages["blocking"], key=lambda s: s["run_ms"])
    heavy = [s for s in blocking if s["num_tasks"] > 1]
    pairs, mentions = mean("pairs"), mean("mentions")
    drains = sum(len(r.get("drains", ())) for r in results)
    if drains:  # each drain assigns every mention of its file once
        mentions = quality.get("assigned_rows", 0) / drains
    fit_s = sum(sp.end - sp.start for sp in tracer.spans
                if sp.attrs.get("call") == "fit_match_classifier") / n
    features_busy = m["features.busy_s"][0]
    busy = sum(r["latency_s"] for r in results)
    roots = {sp.span_id for sp in tracer.spans if sp.name == "op"}
    root_self = sum(
        t for sid, t in self_times(tracer.spans).items() if sid in roots
    ) / n
    m.update({
        "signatures.mentions": (mentions, "count"),
        "blocking.pairs": (pairs, "count"),
        "blocking.pairs_per_mention": (pairs / mentions if mentions else 0.0,
                                       "count"),
        "blocking.true_pair_share": (
            mean("true_pairs") / pairs if pairs else 0.0, "ratio"),
        "blocking.max_task_over_median": (
            task_skew(sc, heavy[-1]) if heavy else 0.0, "ratio"),
        "features.pairs_per_s": (
            pairs / features_busy if features_busy else 0.0, "1/s"),
        "ml.fit_s": (fit_s, "s"),
        "ml.train_rows": (mean("train_rows"), "count"),
        "cc.edges": (mean("edges"), "count"),
        "store.bytes_written": (mean("stage_bytes"), "B"),
        "ingest.rows_per_drain": (mentions if drains else 0.0, "count"),
        "catalog.bytes": (float(getattr(wl, "catalog_bytes", 0)), "B"),
        "trace.unattributed_s": (root_self, "s"),
        "trace.turns_per_s": (rate(results), "1/s"),
        "trace.overhead_share": (
            tracer.bookkeeping_s / busy if busy else 0.0, "ratio"),
    })
    write_trace(trace_path, tracer, jobs, stages, {
        "workload": wl.name, "seed": wl.seed, "cores": cores,
        "metrics": {k: v[0] for k, v in m.items()},
    })
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    t_session = time.perf_counter()
    from pubmed_and_method_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for the traced phase
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.range(1).count()
    session_s = time.perf_counter() - t_session

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, args.work, args.seed, args.size)
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(rep)
        setups.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(setups)

    tracer = None
    if args.trace:
        from tracing import (
            Tracer,
            last_job_id,
            traced_stage_store,
            wrappers_installed,
        )

        after_job = last_job_id(spark.sparkContext)
        tracer = Tracer(spark.sparkContext)
        with wrappers_installed(tracer):
            ops = measure(
                wl, args.seconds, tracer,
                lambda root: traced_stage_store(tracer, spark, root),
            )
    else:
        ops = measure(wl, args.seconds)
    try:
        quality = wl.finish()
    except Exception:
        traceback.print_exc()
        wl.check("run-level output checks", False, "raised")
        quality = {}

    # a failed run-level check counts as one more failed operation
    run_checks = [ok for name, ok, _ in wl.checks if not name.startswith("op")]
    attempted = len(ops) + (1 if run_checks else 0)
    failed = sum(not r["ok"] for r in ops) + (0 if all(run_checks) else 1)

    info = {
        "workload": wl.name, "seed": args.seed, "size": args.size,
        "trace": args.trace, "params": wl.params,
        "env": {
            "cores": cores,
            "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM"),
            "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
            "PYTHONPATH": os.environ.get("PYTHONPATH"),
            "spark": spark.version,
            "python": sys.version.split()[0],
        },
        "session_s": session_s, "setup_reps_s": setups,
        "latencies_s": [r.get("drains", r["latency_s"]) for r in ops],
        "checks": [{"name": n, "ok": ok, "detail": d}
                   for n, ok, d in wl.checks],
    }
    if tracer is not None:
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(
            out_dir, f"{wl.name}-seed{args.seed}-{int(time.time())}.json")
        metrics = per_layer(spark, wl, tracer, ops, after_job, quality,
                            cores, trace_path)
        info["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics, tail_info = end_to_end(ops, quality, setup_s, failed,
                                        attempted)
        info.update(tail_info)
    print(json.dumps({"info": info}), flush=True)
    result = {
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
