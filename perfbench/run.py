"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from the
seed, starts one Spark session on ``local[nproc]``, sets the workload
up several times (reporting the median), then runs one closed-loop
client for ``--seconds`` (finishing the cycle in progress, and at least
two cycles) and checks every op's output.  Human-readable metric lines go to stdout, and the
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``.  Everything the run writes lives in a per-run directory
under ``perfbench/.run/`` that is removed at exit; traced runs also
leave their spans and layer totals in ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

sys.dont_write_bytecode = True  # write nothing into the program's tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# Latencies still fall from cycle to cycle after the warm-up, so a slow
# run must not measure fewer (and less settled) cycles than a fast one.
MIN_CYCLES = 2


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _sandbox(run_dir: str) -> dict:
    """Environment for the session: every file Spark, the JVM and Python
    write goes under ``run_dir``.  Must run before the JVM starts."""
    ncpu = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        # get_spark defaults to 16g, more than many hosts have
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run_loop(workload, seconds: float, log, tracer=None, counter=None, spark_ops=None):
    """Run whole cycles until ``seconds`` have passed, and at least
    ``MIN_CYCLES``; returns the wall time and the number of cycles."""
    from metrics import OpRecord, union_length

    start = time.perf_counter()
    op_id = cycles = 0
    while cycles < MIN_CYCLES or time.perf_counter() - start < seconds:
        cycles += 1
        for kind, _form, run, check in workload.cycle():
            op_id += 1
            span = tracer.start_op(op_id, kind) if tracer else None
            group = counter.begin(op_id, kind) if counter else None
            t0 = time.perf_counter()
            ok, err = True, ""
            try:
                result = run()
            except Exception as e:  # an op failure is a result, not a crash
                ok, err = False, f"{type(e).__name__}: {e}"
            t1 = time.perf_counter()
            if tracer:
                tracer.end_op(span)
            if counter:
                stats = counter.end(group)
                acts = [(s["start"], s["end"]) for s in tracer.spans
                        if s["op"] == op_id and s["name"] == "spark.action"]
                stats["action_s"] = union_length(acts)
                agg = spark_ops.setdefault(kind, {"ops": 0})
                agg["ops"] += 1
                for k, v in stats.items():
                    agg[k] = agg.get(k, 0) + v
            if ok:
                try:
                    check(result)
                except Exception as e:
                    ok, err = False, f"{type(e).__name__}: {e}"
            if not ok:
                print(f"op {op_id} {kind} failed: {err}", file=sys.stderr)
            log.add(OpRecord(kind, t0, t1, ok, err))
    return time.perf_counter() - start, cycles


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "locopy_spark", "__init__.py")):
        _fail(f"no locopy_spark package under {ROOT}; run from a checkout of the repository")
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        _fail(f"no __spark_entry__.py under {ROOT}")
    with open(bench_json) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]

    from metrics import OpLog, child_pids, p50, peak_rss_mb, tail
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    run_dir = os.path.join(HERE, ".run", str(os.getpid()))
    spark = None
    tracer = None
    try:
        extra_conf = _sandbox(run_dir)
        from locopy_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
        session_s = time.perf_counter() - t0

        counter = spark_ops = None
        if args.trace:
            import layers
            from sparkstats import SparkCounter
            from spans import Tracer

            tracer = Tracer()
            tracer.spans.append({"id": -1, "name": "session.get_spark", "parent": None,
                                 "op": None, "start": t0, "end": t0 + session_s})
            layers.install(tracer, spark)
            counter, spark_ops = SparkCounter(spark), {}

        # inputs are generated and registered SETUP_REPS times (median
        # reported); the JVM start, the index build and the first-call
        # warm-up happen once per process
        rep_s = []
        for rep in range(SETUP_REPS):
            w = WORKLOADS[args.workload](spark, args.seed, tracer)
            t = time.perf_counter()
            w.setup(os.path.join(run_dir, f"rep{rep}"))
            rep_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.build_index()
        index_s = time.perf_counter() - t
        w.warm_up()
        warm_s = time.perf_counter() - t
        w.reset()
        setup_s = session_s + statistics.median(rep_s) + warm_s

        log = OpLog()
        wall, cycles = run_loop(w, args.seconds, log, tracer, counter, spark_ops)
        rss = peak_rss_mb([os.getpid()] + child_pids(os.getpid()))
        lat = log.latencies()
        if not lat:
            raise RuntimeError("every op failed")
        tail_v, tail_p = tail(lat)
        kind_p50 = [p50(log.latencies((k,))) for k in w.kinds if log.latencies((k,))]
        e2e = {
            "setup_s": (setup_s, "s", SETUP_REPS),
            "ops_per_s": (log.attempted / log.busy_s(), "1/s", log.attempted),
            "p50_geomean_s": (statistics.geometric_mean(kind_p50), "s", len(lat)),
            "op_p50_s": (p50(lat), "s", len(lat)),
            "op_tail_s": (tail_v, "s", len(lat), tail_p),
            "peak_rss_mb": (rss, "MB", 1),
            "failed_op_share": (log.failed_share(), "ratio", log.attempted),
        }
        e2e.update(w.summary(log))
        print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
              f"wall_s={wall:.3f} cycles={cycles} session_s={session_s:.3f} "
              f"setup_reps_s={[round(x, 3) for x in rep_s]} "
              f"index_and_warm_up_s={warm_s:.3f} (index {index_s:.3f})")
        print("# ops " + " ".join(f"{r.kind}:{r.latency:.3f}{'' if r.ok else '!'}"
                                   for r in log.records))
        for name, v in e2e.items():
            extra = f" p{v[3]:.1f}" if len(v) > 3 else ""
            print(f"{name} {v[0]:.6g} {v[1]} n={v[2]}{extra}")

        if args.trace:
            # per cycle of the op mix; layers that run only at set-up
            # (session start, index build) report their set-up spans
            layer = tracer.layer_metrics(in_ops=False)
            layer.update({k: v / cycles for k, v in tracer.layer_metrics(in_ops=True).items()})
            for kind, agg in spark_ops.items():
                for k in ("action_s", "jobs", "stages", "tasks", "failed_tasks"):
                    layer[f"spark.{kind}.{k}"] = agg[k] / agg["ops"]
            for name, key in (("planted_pair_recall", "operators.dedup.planted_pair_recall"),
                              ("knn_recall_at_k", "operators.ann_index.recall_at_k")):
                if name in e2e:
                    layer[key] = e2e[name][0]
            excess = tracer.self_sum_excess()
            print(f"# trace: span self-time sum minus op wall, worst op: {excess:.6f} s")
            out_dir = os.path.join(HERE, ".out")
            tracer.write(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.jsonl"))
            with open(os.path.join(out_dir, f"layers_{args.workload}_{args.seed}.json"), "w") as f:
                json.dump(layer, f, indent=1, sort_keys=True)
            metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        result = {"correct": log.failed == 0, "attempted": log.attempted,
                  "failed": log.failed, "metrics": metrics}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if tracer is not None:
            tracer.unpatch()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
