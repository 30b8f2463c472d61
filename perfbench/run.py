"""Benchmark entry point.

    python3 perfbench/run.py --workload elt_windows --seed 1 --seconds 10 --trace 0

Runs one seeded workload against the program in the checkout this file
sits in, checks its outputs, and prints as the last line of standard
output one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is a JSON object with
the details: the workload's own metric names, sample counts, the set-up
samples and the host's busy and steal percentages during the run.

Exits with code 2 and prints no result when the program is not there.
"""
from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "mgo_liveagent_data_pipeline_spark"
WORK = os.path.join(HERE, ".work")

# peak RSS does not repeat within a tenth from run to run, so it is the
# per-layer session.jvm_peak_rss_mb. The tail is reported in the detail
# line only: analyst_queries times 21 queries a run (three rounds of seven
# in 10 s on a 4-core host), so its tail is the p52 and moves with the
# median, and the other workloads time one unit
E2E_UNITS = {"setup_s": "s", "ok_frac": "fraction", "op_s_p50": "s", "work_per_s": "1/s"}
WORKLOADS = ("elt_windows", "analyst_queries", "curation_batch")


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", default="nproc",
                   help="Spark cores (SPARK_GRAFT_CPUS); 'nproc' = the cores this process may use")
    p.add_argument("--driver-memory", default="4g", help="SPARK_DRIVER_MEMORY")
    p.add_argument("--local-dirs", default="perfbench/.work/spark-local",
                   help="SPARK_LOCAL_DIRS, relative to the checkout root")
    return p.parse_args(argv)


def _pin_env(args) -> None:
    """Pin Spark to this machine through the variables the program reads,
    and keep every file the run writes inside the checkout."""
    cpus = len(os.sched_getaffinity(0)) if args.cpus == "nproc" else int(args.cpus)
    local = os.path.join(ROOT, args.local_dirs)
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = args.driver_memory
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(WORK)  # spark-warehouse and friends land here


def _session(extra_conf=None):
    """Time from ``get_spark`` until a first trivial query completes."""
    from mgo_liveagent_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG} not found next to {HERE}; run from a checkout of the program",
              file=sys.stderr)
        return 2
    if args.workload is None:
        print("--workload is required", file=sys.stderr)
        return 2

    # clean state: nothing from an earlier run survives into this one
    shutil.rmtree(WORK, ignore_errors=True)
    _pin_env(args)
    # a SIGTERM unwinds through the finally below like any other error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from perfbench import gen, wl_curation, wl_elt, wl_queries
    from perfbench.common import Ctx, HostLoad, jvm_pid, vm_hwm_mb
    from perfbench.spans import ACCOUNTING, Tracer, eventlog_conf, layer_accounting

    wl = dict(zip(WORKLOADS, (wl_elt, wl_queries, wl_curation)))[args.workload]
    host = HostLoad()
    t_start = time.perf_counter()
    phases: dict[str, float] = {}

    def phase(name: str) -> None:
        phases[name] = round(time.perf_counter() - t_start, 3)

    data_dir = os.path.join(WORK, "data")
    traced = args.trace == 1
    log_dir = os.path.join(WORK, "eventlog")
    detail: dict = {"workload": args.workload, "seed": args.seed}
    spark = None
    try:
        manifest = gen.generate(args.seed, data_dir, wl.INPUTS)
        phase("generated")
        spark, setup_s = _session(eventlog_conf(log_dir) if traced else None)
        phase("set_up")
        ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, data_dir=data_dir,
                  work_dir=WORK, manifest=manifest,
                  tracer=Tracer(spark if traced else None))
        with wl.Workload(ctx) as w:
            w.warmup(traced)
            phase("warmed_up")
            recs = w.measure(args.seconds, traced)
            ctx.tracer.on = False
            phase("measured")
            w.check(recs)
            phase("checked")
        pid = jvm_pid(spark)
        jvm_mb = vm_hwm_mb(pid) if pid else 0.0
        self_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        if not traced:
            e2e = wl.summarize_e2e(recs)
            values = {
                "setup_s": setup_s,
                "ok_frac": 1.0 - ctx.failed / max(1, ctx.attempted),
                "op_s_p50": e2e["op_s_p50"],
                "work_per_s": e2e["work_per_s"],
            }
            detail.update(e2e["detail"])
            detail.update(op_s_tail=e2e["op_s_tail"], op_cpu_s=e2e["op_cpu_s"],
                          peak_rss_mb=jvm_mb + self_mb,
                          jvm_peak_rss_mb=jvm_mb, bench_peak_rss_mb=self_mb,
                          failed_frac=ctx.failed / max(1, ctx.attempted))
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        else:
            plain = wl.unit_seconds([r for r in recs if not r["traced"]])
            traced_recs = [r for r in recs if r["traced"]]
            t_traced = wl.unit_seconds(traced_recs)
            layers = wl.summarize_layers(traced_recs, ctx.tracer)
            layers["trace_overhead_frac"] = (
                (sum(t_traced) / len(t_traced)) / (sum(plain) / len(plain)) - 1.0
            )
            layers["session.jvm_peak_rss_mb"] = jvm_mb
            group_layer = {sp.group: sp.layer for sp in ctx.tracer.spans}
            spark.stop()  # completes the event log
            spark = None
            acc = layer_accounting(log_dir, group_layer)
            for layer in LAYERS:
                for k in ACCOUNTING:
                    layers[f"{layer}.{k}"] = acc.get(layer, {}).get(k, 0) / len(t_traced)
            metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                       for name, unit in _per_layer().items()}
            detail.update(units_plain=len(plain), units_traced=len(t_traced))
    finally:
        _cleanup(spark)
    phase("cleaned_up")
    detail["phase_end_s"] = phases
    detail["host"] = host.stop()
    detail["failures"] = ctx.failures[:20]
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


def _cleanup(spark) -> None:
    """Drop the run's state and end every process it started: the Spark
    JVM and the Python workers under it. ``spark.stop()`` alone leaves
    the JVM to notice, after this process has exited, that its stdin
    closed."""
    from mgo_liveagent_data_pipeline_spark.operators.dedup import release_intermediates
    from mgo_liveagent_data_pipeline_spark.scratch import purge_scratch

    started = _descendants(os.getpid())
    try:
        if spark is not None:
            release_intermediates()
            spark.stop()
    finally:
        _stop_gateway()
        _reap(started)
        purge_scratch()
        os.chdir(HERE)
        shutil.rmtree(WORK, ignore_errors=True)


def _stop_gateway() -> None:
    """Close the Spark JVM's stdin, which it takes as the order to exit,
    and wait for it."""
    from pyspark import SparkContext

    gw, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.close()
        except Exception:  # the JVM may already be gone
            pass
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, start time) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return (None if fields[0] == "Z" else (int(fields[1]), fields[19]))


def _descendants(root: int) -> dict[int, str]:
    """Every process below ``root``: pid → start time."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        st = _stat(int(name)) if name.isdigit() else None
        if st:
            children.setdefault(st[0], []).append(int(name))
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        st = _stat(pid)
        if st:
            out[pid] = st[1]
            todo.extend(children.get(pid, ()))
    return out


def _reap(procs: dict[int, str], timeout: float = 30.0) -> None:
    """Wait until each process has ended; kill what outlives ``timeout``."""
    def alive():
        return [p for p, t in procs.items() if (_stat(p) or (0, None))[1] == t]

    end = time.monotonic() + timeout
    while alive() and time.monotonic() < end:
        time.sleep(0.05)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while alive():
        time.sleep(0.05)


# layers whose Spark work the event log accounts for, one job group per span
LAYERS = ("api", "sources.rest", "transforms", "enrich", "sinks", "operators.setops",
          "operators.aggregations", "plans", "operators.dedup", "operators.annsearch")

def _per_layer() -> dict[str, str]:
    """Every per-layer metric and its unit, in BENCHMARK.json order."""
    from perfbench.spans import ACCOUNTING

    m = {
        "sources.rest.extract_s": "s", "sources.rest.pages": "count",
        "sources.rest.rows": "count",
        "transforms.tickets_s": "s", "transforms.messages_s": "s",
        "transforms.rows_out": "count",
        "enrich.convo_s": "s", "enrich.convo_groups": "count",
        "enrich.convo_useful_ratio": "fraction", "enrich.gateway_failed_frac": "fraction",
        "enrich.tokens": "count",
        "sinks.upsert_s": "s", "sinks.append_s": "s", "sinks.history_append_s": "s",
        "sinks.overwrite_s": "s", "sinks.bytes_written": "bytes",
        "sinks.files_written": "count", "sinks.live_bytes": "bytes",
        "sinks.upsert_rewrite_ratio": "ratio", "sinks.write_amp": "ratio",
        "api.process_agents_s": "s", "api.process_tags_s": "s",
        "api.process_tickets_and_messages_s": "s", "api.process_convo_s": "s",
        "api.process_logs_s": "s", "api.dashboard_reads_s": "s", "api.read_s_p50": "s",
        "api.span_coverage_frac": "fraction",
        "operators.setops.new_vs_existing_s": "s",
        "operators.aggregations.token_totals_s": "s",
    }
    from perfbench.wl_queries import QUERIES

    for q in QUERIES:
        m[f"plans.{q}_s"] = "s"
    m.update({
        "operators.dedup.exact_s": "s", "operators.dedup.minhash_lsh_s": "s",
        "operators.dedup.simhash_near_dup_s": "s", "operators.dedup.pairs_out": "count",
        "operators.dedup.dup_recall": "fraction",
        "operators.dedup.near_dup_recall": "fraction",
        "operators.annsearch.cosine_topk_s": "s", "operators.annsearch.ivfsq_topk_s": "s",
        "operators.annsearch.recall_at_10": "fraction",
        "session.jvm_peak_rss_mb": "MB",
        "trace_overhead_frac": "fraction",
    })
    units = {"executor_cpu_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
             "gc_s": "s", "tasks": "count", "task_failures": "count"}
    for layer in LAYERS:
        for k in ACCOUNTING:
            m[f"{layer}.{k}"] = units[k]
    return m


if __name__ == "__main__":
    # the checkout root, not this directory, heads the import path: the
    # program and this package import by name, and no module here can
    # shadow a standard one
    sys.path[0] = ROOT
    sys.exit(main())
