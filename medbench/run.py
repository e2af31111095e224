"""Benchmark entry point.

    python3 medbench/run.py --workload {medallion,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Builds nothing: it imports the engine
package from the checkout.  Every input is generated from ``--seed``
inside ``.medbench_work/`` and removed at the end.  The last line of
stdout is one JSON object: with ``--trace 0`` the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a separate traced run, whose
spans are also written to ``.medbench_out/``.  Lines before it name
every failed operation and give wall-clock figures.

``--seconds`` sizes the timed work: each workload runs a fixed amount
of work per second asked for, so a run's work is a function of its
arguments alone and wall time can move freely between commits.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the engine package
sys.path.insert(0, HERE)

from probe import (  # noqa: E402
    LAYER_PREFIXES,
    Recorder,
    data_files,
    reset_peak_rss,
    tree_cpu,
    tree_peak_rss,
    tree_pids,
    wait_gone,
)

#: Per-layer suffixes every layer reports; the streaming layers add
#: ``STREAM_SUFFIXES``.  ``queries.*`` write nothing, so they skip the
#: two write counters.
SUFFIXES = (
    "calls", "failed", "wall_s", "proc_cpu_s", "task_cpu_s", "task_run_s", "gc_s",
    "blocked_s", "jobs", "tasks", "input_bytes", "shuffle_bytes", "output_rows",
    "files_written", "bytes_written",
)
STREAM_SUFFIXES = (
    "batches", "add_batch_s", "wal_commit_s", "query_planning_s", "latest_offset_s",
    "state_rows",
)
PIPELINE = ("bronze_ingest", "silver_transform", "build_gold_dim", "build_gold_fact",
            "run_quality")
STREAMING = ("bronze_ingest", "silver_transform", "build_gold_fact")
RUN_METRICS = {
    "session.boot_s": "s",
    "run.wall_s": "s",
    "run.op_p50_s": "s",
    "run.op_max_s": "s",
    "run.task_cpu_s": "s",
    "run.unattributed_stages": "count",
    "trace.overhead_s": "s",
    "lakehouse.files_written": "count",
    "lakehouse.write_amp": "ratio",
}

#: Spark task slots.  Two of the four cores leave room for the driver's
#: own threads (planning, JIT, GC, Python), which the pipeline calls
#: mostly wait on; on four slots, runs were slower and their times spread
#: wider on a shared host.
CORES = 2

#: Nominal seconds of one repetition of a workload's timed work; a run
#: makes ``round(--seconds / SECONDS_PER_REP)`` repetitions, at least one.
SECONDS_PER_REP = 30

#: End-to-end metrics.  Wall-clock times are not among them: on a shared
#: host they track the hypervisor's CPU steal (quartile spreads of
#: 0.23-0.29 over ten seeds on a shared 4-vCPU VM, against a largest
#: allowed bound of 0.25), so they are printed beside the steal and
#: reported per layer from the traced run instead.  For the same reason
#: ``setup_s`` is the set-up's CPU time, not its wall time.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}


def unit(suffix: str) -> str:
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_bytes") or suffix == "bytes_written":
        return "bytes"
    return "count"


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    layers = [f"pipeline.{p}" for p in PIPELINE] + ["queries.build", "queries.exec"]
    for layer in layers:
        for suf in SUFFIXES:
            if layer.startswith("queries.") and suf in ("files_written", "bytes_written"):
                continue
            out[f"{layer}.{suf}"] = unit(suf)
        if layer.split(".")[1] in STREAMING:
            for suf in STREAM_SUFFIXES:
                out[f"{layer}.{suf}"] = unit(suf)
    out.update(RUN_METRICS)
    return out


def latency(rec) -> tuple[float, float]:
    """(median, maximum) of successful operations' seconds.  A run has
    11 to 24 operations, too few for a tail percentile with ten samples
    beyond it, so the slowest operation stands in for the tail."""
    lat = [dt for _, dt, ok in rec.ops if ok]
    if not lat:
        return 0.0, 0.0
    return statistics.median(lat), max(lat)


def layer_metrics(rec, boot_s: float, files: int, write_amp: float) -> dict[str, dict]:
    names = per_layer_names()
    vals = dict.fromkeys(names, 0.0)
    for s in rec.spans:
        if not s.name.startswith(LAYER_PREFIXES):
            continue
        vals[f"{s.name}.calls"] += 1
        vals[f"{s.name}.failed"] += not s.ok
        vals[f"{s.name}.wall_s"] += s.end - s.start
        for k, v in s.counters.items():
            if f"{s.name}.{k}" in vals:  # skips stage ids and idle suffixes
                vals[f"{s.name}.{k}"] += v
    for layer in {n.rsplit(".", 1)[0] for n in names if n.endswith(".blocked_s")}:
        vals[f"{layer}.blocked_s"] = (
            vals[f"{layer}.task_run_s"] - vals[f"{layer}.task_cpu_s"] - vals[f"{layer}.gc_s"]
        )
    vals["session.boot_s"] = boot_s
    vals["run.wall_s"] = rec.wall_s
    vals["run.op_p50_s"], vals["run.op_max_s"] = latency(rec)
    vals["run.task_cpu_s"] = rec.timed_task_cpu_s
    vals["run.unattributed_stages"] = rec.unattributed_stages + rec.missing_stages
    vals["trace.overhead_s"] = rec.overhead_s
    vals["lakehouse.files_written"] = files
    vals["lakehouse.write_amp"] = write_amp
    return {k: {"value": v, "unit": names[k]} for k, v in vals.items()}


def host_steal() -> float:
    """Seconds of CPU the hypervisor gave other guests, summed over the
    host's CPUs (``/proc/stat``): printed beside the results, since it
    inflates wall time without any change to the program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def boot(work: str, cores: int):
    """The benchmark's Spark session.  The serial collector sizes the
    heap from the data live after each collection; G1, the JVM's default
    on four cores, sizes it from pause-time goals that follow wall time,
    and so host steal.  Peak RSS spread 0.13 over five seeds with G1 and
    0.04-0.07 over four with the serial collector."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.session import get_spark

    return get_spark(
        "medbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work} -XX:-UsePerfData -XX:+UseSerialGC"
            ),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )


def stop(spark) -> None:
    """Stop Spark and wait until the JVM it launched, and every process
    below it (Python workers), has exited."""
    from pyspark import SparkContext

    children = tree_pids()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    wait_gone(children, timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run_id = uuid.uuid4().hex[:12]
    work = os.path.abspath(os.path.join(".medbench_work", f"{args.workload}-{run_id}"))
    os.makedirs(work)
    os.environ["TMPDIR"] = work  # pyspark's gateway handshake file
    tempfile.tempdir = work
    cores = min(CORES, len(os.sched_getaffinity(0)))
    reps = max(1, round(args.seconds / SECONDS_PER_REP))
    spark = None
    try:
        # inputs before Spark boots, so the generator's memory is not
        # counted as the program's
        wl = WORKLOADS[args.workload](work, args.seed, reps)
        t0 = time.perf_counter()
        wl.render()
        t1 = time.perf_counter()
        spark = boot(work, cores)
        boot_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        wl.setup(spark, Recorder(spark, run_id, traced=False, lakehouse_root=work))
        rec = Recorder(spark, run_id, traced=bool(args.trace), lakehouse_root=work)
        files0, bytes0 = data_files(work) if args.trace else (0, 0)
        steal0 = host_steal()
        reset_peak_rss()
        setup_s = tree_cpu()  # all CPU since the process started
        setup_wall = time.perf_counter() - T_START
        print(f"setup: {setup_s:.2f} CPU s, {setup_wall:.2f} wall s (render "
              f"{t1 - t0:.2f}, boot {boot_s:.2f}, warm-up {time.perf_counter() - t2:.2f})",
              flush=True)
        for rep in range(reps):
            wl.run(rec, rep)
        peak_rss = tree_peak_rss()
        steal = (host_steal() - steal0) / (time.perf_counter() - T_START - setup_wall)
        rec.close()
        if args.trace:
            files, size = data_files(work)
            files, size = files - files0, size - bytes0
        wl.verify(rec)
        n_ok = sum(ok for _, _, ok in rec.ops)
        p50, max_s = latency(rec)
        print(f"workload={args.workload} seed={args.seed} cores={cores} "
              f"ops={len(rec.ops)} ok={n_ok}")
        for name, dt, ok in rec.ops:
            print(f"op {name} {dt:.3f}s {'ok' if ok else 'FAILED'}")
        for err in rec.errors:
            print(f"FAILED {err}")
        print(f"wall_s={rec.wall_s:.3f} op_p50_s={p50:.3f} op_max_s={max_s:.3f} "
              f"({n_ok} successful ops); host steal {steal:.2f} CPUs over the timed "
              f"section")
        if args.trace:
            out = os.path.join(".medbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"spans-{args.workload}-{args.seed}-{run_id}.jsonl")
            with open(path, "w") as f:
                for i, s in enumerate(rec.spans):
                    f.write(json.dumps({"id": i, **s.__dict__}) + "\n")
            write_amp = size / wl.landed_bytes if wl.landed_bytes else 0.0
            metrics = layer_metrics(rec, boot_s, files, write_amp)
            print(f"traced: tracer self time {rec.overhead_s:.3f}s (overhead = this wall_s "
                  f"minus an untraced run's); spans -> {path}")
        else:
            metrics = {
                "setup_s": setup_s,
                "cpu_s": rec.cpu_s,
                "peak_rss_mb": peak_rss / 2**20,
                "ok_frac": n_ok / max(1, len(rec.ops)),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        result = {
            "correct": not any(" CheckFailed: " in e for e in rec.errors),
            "attempted": len(rec.ops),
            "failed": len(rec.ops) - n_ok,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
