#!/usr/bin/env python3
"""Vector ground-truth benchmark for nbdatatools_spark.

    python3 perfbench/run.py --workload knn_gt --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):
``knn_gt`` (dense KNN answer keys), ``filtered_gt`` (predicate-filtered
answer keys) and ``dataset_prep`` (generate, clean and convert vectors).

One run: start Spark as ``local[nproc]``, set up SETUP_REPS times (input
generation, oracle answers, one warm-up op with its oracle and corruption
self-check) and report session start plus the median rep as ``setup_s``; then run
passes over the workload's ops in a closed loop with a single client until
``--seconds`` have passed (at least MIN_PASSES passes), checking every op
against its numpy oracle. With ``--trace 1`` half the passes record layer
spans and the per-layer metrics replace the end-to-end ones. The last stdout
line is one JSON object; everything before it is the human-readable report.
All files go to .perfbench_work/ (removed at exit) and the span dump to
.perfbench_out/ under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
SETUP_REPS = 3
MIN_PASSES = 2
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "items_per_s": "1/s",
    "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB",
}

# per-layer metric -> unit. "<layer>.<step>_s" is the self time of span
# "<layer>.<step>"; "<layer>.jobs"/".tasks" count Spark jobs and completed
# tasks in the layer's spans; other names are counts attached to the spans.
PER_LAYER = {
    "session.start_s": "s",
    "datagen.generate_s": "s", "datagen.vectors": "count",
    "sources.xvec.read_s": "s", "sources.xvec.read_mb": "MB",
    "sources.xvec.write_s": "s", "sources.xvec.write_mb": "MB",
    "sources.xvec.jobs": "count", "sources.xvec.tasks": "count",
    "operators.knn.exact_s": "s", "operators.knn.recall_s": "s",
    "operators.knn.flop": "flop", "operators.knn.gflop_per_s": "GFLOP/s",
    "operators.knn.base_mb_scanned": "MB",
    "operators.knn.jobs": "count", "operators.knn.tasks": "count",
    "predicates.parse_s": "s", "predicates.compile_s": "s", "predicates.count": "count",
    "operators.hybrid.result_indices_s": "s", "operators.hybrid.ground_truth_s": "s",
    "operators.hybrid.match_fraction": "ratio",
    "operators.hybrid.jobs": "count", "operators.hybrid.tasks": "count",
    "operators.dedup.clean_s": "s", "operators.dedup.kept_ratio": "ratio",
    "operators.dedup.jobs": "count", "operators.dedup.tasks": "count",
    "sources.parquet.write_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate_environment(nproc: int) -> dict:
    """Keep every file Spark, the JVM and Python write inside WORK, and size
    Spark to the cores this process may use. -> extra Spark conf."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # a bounded heap keeps the JVM's resident memory (and peak_rss_mb) from
    # following the collector's heap-growth choices on a shared host
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # every JVM spark-submit starts, its launcher included; without
    # -XX:-UsePerfData each would write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }


def shutdown_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until no process we started remains."""
    from pyspark import SparkContext

    from perfbench.procinfo import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:  # it ended on its own meanwhile
                    pass
        time.sleep(0.1)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples above it,
    the 11th largest. -> (value, percentile, samples above)."""
    xs = sorted(latencies)
    # below 21 samples that percentile is at or under the median: report the
    # slowest op instead
    i = len(xs) - 11 if len(xs) >= 21 else len(xs) - 1
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs) - 1 - i


def layer_metrics(tracer, phases: list[set[str]]) -> tuple[dict, dict]:
    """Per-layer figures, each the median over the ops of the first phase in
    ``phases`` whose ops entered that layer. -> (metrics, phase index per
    layer)."""
    layers = {name.rsplit(".", 1)[0] for name in PER_LAYER if not name.startswith("trace.")}
    chosen, ops_of = {}, {}
    for layer in layers:
        for i, ops in enumerate(phases):
            entered = {s.op for s in tracer.spans if s.op in ops and s.layer == layer}
            if entered:
                chosen[layer], ops_of[layer] = i, entered
                break
    self_t = tracer.self_times(set().union(*phases))
    metrics = {}
    for name in PER_LAYER:
        layer, leaf = name.rsplit(".", 1)
        ops = ops_of.get(layer)
        if not ops:
            continue
        if name == "operators.knn.gflop_per_s":
            flop = dict(zip(sorted(ops), tracer.per_op_sums(ops, layer, "flop")))
            vals = [flop[o] / self_t[o]["operators.knn.exact"] / 1e9 for o in sorted(ops)]
        elif leaf.endswith("_s"):
            span = f"{layer}.{leaf[:-2]}"
            vals = [self_t[o].get(span, 0.0) for o in ops]
        else:
            vals = tracer.per_op_sums(ops, layer, leaf)
        metrics[name] = statistics.median(vals)
    return metrics, chosen


def repeats(tracer, timed_ops: set[str]) -> dict[str, bool]:
    """{layer: whether every traced pass ran the same Spark jobs and tasks
    for each op of the pass}."""
    per = {}
    for s in tracer.spans:
        if s.op in timed_ops:
            counts = per.setdefault((s.layer, s.op.split(":", 1)[1]), {}).setdefault(s.op, [0, 0])
            counts[0] += s.jobs
            counts[1] += s.tasks
    out = {}
    for (layer, _), by_op in per.items():
        out[layer] = out.get(layer, True) and len({tuple(c) for c in by_op.values()}) == 1
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "nbdatatools_spark" / "__init__.py").is_file():
        print(f"perfbench: no nbdatatools_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import procinfo

    facts = procinfo.host_facts()
    extra_conf = isolate_environment(facts["nproc"])

    from nbdatatools_spark import session
    from nbdatatools_spark.operators import hybrid
    from perfbench import workloads
    from perfbench.tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    load_start = procinfo.loadavg()
    tracer = Tracer()
    trace = bool(args.trace)
    if trace:
        tracer.wrap(hybrid, "compile_pnode", "predicates.compile")
    spark = None
    try:
        # ---- setup: one session start, then SETUP_REPS reps of inputs,
        # oracle answers and a checked warm-up op; the last rep is measured
        tracer.op, tracer.enabled = "setup0", trace
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = session.get_spark("perfbench", extra_conf=extra_conf)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(spark.sparkContext)
        rep_times, self_checks, correct = [], [], True
        workdir = WORK / "data"
        for rep in range(SETUP_REPS):
            spark.catalog.clearCache()
            shutil.rmtree(workdir, ignore_errors=True)
            workdir.mkdir()
            tracer.op, tracer.enabled = f"setup{rep}", trace
            t0 = time.perf_counter()
            wl = workloads.WORKLOADS[args.workload](spark, tracer, str(workdir), args.seed)
            wl.setup()
            first = wl.ops()[0]
            _, out = wl.run_op(first)
            problems = wl.check(first, out)
            caught = wl.self_check(first, out)
            rep_times.append(time.perf_counter() - t0)
            tracer.enabled = False
            tracer.resolve_jobs()
            correct = correct and not problems and all(caught.values())
            self_checks.append({"warmup_problems": problems[:3], "corruption_caught": caught})

        # ---- timed phase: closed loop, one client -----------------------
        latencies, pass_walls, traced_walls, untraced_walls = [], [], [], []
        items = attempted = failed = 0
        timed_ops = set()
        t_start = time.perf_counter()
        with procinfo.PeakRss() as rss:
            n_pass = 0
            while n_pass < MIN_PASSES * (1 + trace) or time.perf_counter() - t_start < args.seconds:
                traced_pass = trace and n_pass % 4 in (1, 2)  # u t t u: drift-balanced
                tp = time.perf_counter()
                for key in wl.ops():
                    tracer.op, tracer.enabled = f"p{n_pass}:{key}", traced_pass
                    attempted += 1
                    t0 = time.perf_counter()
                    try:
                        n, out = wl.run_op(key)
                    except Exception:  # an op that raises counts as failed
                        traceback.print_exc()
                        failed += 1
                        continue
                    finally:
                        tracer.enabled = False
                    latencies.append(time.perf_counter() - t0)
                    problems = wl.check(key, out)
                    if problems:
                        print(f"op {tracer.op} failed its oracle: {problems[:3]}", file=sys.stderr)
                        failed += 1
                    else:
                        items += n
                    if traced_pass:
                        timed_ops.add(tracer.op)
                        tracer.resolve_jobs()
                wall = time.perf_counter() - tp
                pass_walls.append(wall)
                (traced_walls if traced_pass else untraced_walls).append(wall)
                n_pass += 1
        timed_s = time.perf_counter() - t_start

        if trace:
            # layers the timed ops do not enter report their setup figures;
            # layers neither enters are measured on a tiny probe input
            phases = [timed_ops, {f"setup{r}" for r in range(SETUP_REPS)}]
            _, chosen = layer_metrics(tracer, phases)
            missing = {name.rsplit(".", 1)[0] for name in PER_LAYER} - set(chosen) - {"trace"}
            tracer.op, tracer.enabled = "probe", True
            workloads.probe(spark, tracer, str(workdir), missing)
            tracer.enabled = False
            tracer.resolve_jobs()
            metrics, chosen = layer_metrics(tracer, phases + [{"probe"}])
            metrics["trace.overhead_s"] = (
                statistics.median(traced_walls) - statistics.median(untraced_walls)
            )
        description = wl.describe()
    finally:
        if spark is not None:
            shutdown_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    load_end = procinfo.loadavg()

    # ---- report -----------------------------------------------------------
    correct = correct and failed == 0
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} master=local[{facts['nproc']}]")
    print(f"host: {json.dumps(facts)} loadavg_start={load_start} loadavg_end={load_end}")
    print(f"input: {json.dumps(description)}")
    print(f"self-check (per setup rep): {json.dumps(self_checks)}")
    print(f"failed_ratio {failed / attempted} ratio ({failed}/{attempted} ops)")
    if trace:
        OUT.mkdir(exist_ok=True)
        dump = OUT / f"spans-{args.workload}-seed{args.seed}.json"
        tracer.dump(str(dump))
        phase_names = ("timed", "setup", "probe")
        for name, value in metrics.items():
            layer = name.rsplit(".", 1)[0]
            phase = phase_names[chosen[layer]] if layer in chosen else "timed"
            print(f"  {name} {value} {PER_LAYER[name]} [{phase}]")
        print(f"jobs/tasks repeat across traced passes: {repeats(tracer, timed_ops)}")
        print(f"pass walls traced {traced_walls}, untraced {untraced_walls}; spans in {dump}")
        result = {n: {"value": v, "unit": PER_LAYER[n]} for n, v in metrics.items()}
    else:
        tail_v, tail_p, beyond = tail(latencies)
        values = {
            "setup_s": session_s + statistics.median(rep_times),
            "wall_s": statistics.median(pass_walls),
            "items_per_s": items / timed_s,
            "op_p50_s": statistics.median(latencies),
            "op_tail_s": tail_v,
            "peak_rss_mb": rss.peak / 1e6,
        }
        print(f"  session start {session_s} s; setup reps {rep_times}")
        print(f"  passes {len(pass_walls)} walls {pass_walls}")
        print(f"  ops {len(latencies)}; op_tail_s is p{tail_p:.1f} with {beyond} samples beyond")
        for name, value in values.items():
            print(f"  {name} {value} {END_TO_END[name]}")
        result = {n: {"value": v, "unit": END_TO_END[n]} for n, v in values.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
