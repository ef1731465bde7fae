"""Benchmark entry point: one workload, one process, one caller.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json): ``xlsx_to_postgres`` (the product
path, ``perfbench/etl.py``) and ``query_mix`` (registry queries,
``perfbench/mixes.py``). Each run sets up (session,
inputs, warm-up and output checks), then measures for ``--seconds``
seconds: at least ``MIN_CYCLES`` (xlsx) or ``MIN_PASSES`` (mix) full
passes over the workload's operations, more while time remains,
reporting medians over passes. The timed section runs pinned to
``harness.TIMED_CPUS`` CPUs.

``--trace 0`` reports the end-to-end metrics. ``pass_s`` is one pass;
``phase1_s`` and ``phase2_s`` split it: the insert-heavy load and the
conflict-heavy reload of ``xlsx_to_postgres``, the action-bound and
the build-bound queries of ``query_mix``.
``--trace 1`` runs with spans and Spark's event log on and reports the
per-layer metrics plus the tracing overhead: traced ``pass_s`` minus
the ``pass_s`` of an untraced run of the same workload, seed and
``--seconds``, made in a child process right before.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it summarises the run. The full record (metadata, every operation,
and the spans of a traced run) is written under ``.perfbench_work/``
in the checkout. Without the package next to this directory the run
exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

if __package__ in (None, ""):
    # run as a script: import the benchmark as a package from the checkout
    # root, not its modules as top-level names
    _here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != _here]
    sys.path.insert(0, os.path.dirname(_here))

from perfbench import harness  # noqa: E402
from perfbench.spans import covered  # noqa: E402

WORKLOADS = ("xlsx_to_postgres", "query_mix")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "phase1_s": "s",
    "phase2_s": "s",
    "op_geomean_s": "s",
    "peak_pss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.xlsx_infer_s": "s",
    "sources.xlsx_files": "count",
    "sources.xlsx_rows": "count",
    "pipelines.transform_s": "s",
    "pipelines.outputs_s": "s",
    "pipelines.kept_ratio": "ratio",
    "sinks.planos_s": "s",
    "sinks.clientes_s": "s",
    "sinks.contratos_s": "s",
    "sinks.contatos_s": "s",
    "sinks.reload_s": "s",
    "pg.statements": "count",
    "pg.statements_per_row": "ratio",
    "pg.exec_s": "s",
    "pg.commits": "count",
    "pg.sessions": "count",
    "pg.rows_inserted": "count",
    "pg.reload_rows_inserted": "count",
    "pg.wal_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "plans.action_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "caching.persisted": "count",
    "caching.release_s": "s",
    "spark.tasks": "count",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_share": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "spark.input_rows": "count",
    "spark.input_mb": "MB",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "python.rows_returned": "count",
    "self.bench_s": "s",
    "self.sources_s": "s",
    "self.pipelines_s": "s",
    "self.sinks_s": "s",
    "self.plans_s": "s",
    "self.caching_s": "s",
    "self.spark_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


def _process_age() -> float:
    """Seconds since this process started (``/proc``, clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _untraced_run(args) -> dict:
    """Result of an untraced run of the same workload, seed and
    ``--seconds`` in a child process, made right before the traced run
    so that both see the same host."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.Popen(cmd, cwd=harness.ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        stdout, stderr = proc.communicate(timeout=170)
    except BaseException:
        # SIGTERM lets the child stop its JVM and Postgres before it exits
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        raise
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stderr[-4000:])
        raise RuntimeError(f"untraced run failed with status {proc.returncode}")
    return json.loads(lines[-1])


def _attach_stages(run: harness.Run, first_timed: int) -> list:
    """Spark stages from the event log, as spans under the phase span
    whose job group launched them; returns the timed section's stages."""
    from perfbench import eventlog

    path = run.eventlog_path()
    if path is None:
        raise RuntimeError("traced run wrote no Spark event log")
    by_group = {s.attrs["group"]: s for s in run.tracer.spans if "group" in s.attrs}
    timed_groups = {g for g, s in by_group.items() if s.id >= first_timed}
    timed = []
    for st in eventlog.parse(path):
        parent = by_group.get(st.job_group)
        if parent is None:
            continue
        run.tracer.add(f"stage {st.stage_id}", "spark", st.submitted - run.clock_offset,
                       st.completed - run.clock_offset, parent.id, **st.metrics)
        if st.job_group in timed_groups:
            timed.append(st)
    return timed


def _layer_metrics(run: harness.Run, wl, first_timed: int, passes: int) -> dict[str, float]:
    from perfbench import eventlog

    out = dict.fromkeys(PER_LAYER, 0.0)
    stages = _attach_stages(run, first_timed)
    spans = run.tracer.spans
    timed = [s for s in spans if s.id >= first_timed]

    def span_sum(layer: str, name: str) -> float:
        return sum(s.duration for s in timed if s.layer == layer and s.name == name) / passes

    out["session.start_s"] = sum(s.duration for s in spans if s.name == "get_spark")
    out["sources.xlsx_infer_s"] = span_sum("sources", "xlsx_load")
    out["pipelines.transform_s"] = span_sum("pipelines", "transform")
    out["pipelines.outputs_s"] = span_sum("pipelines", "build_outputs")
    out.update(wl.per_layer())

    t = eventlog.totals(stages)
    mb = 2**20
    op_wall = sum(s.duration for s in timed if s.layer == "bench")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out.update({
        "spark.tasks": t["tasks"] / passes,
        "spark.run_s": t["run_s"] / passes,
        "spark.cpu_s": t["cpu_s"] / passes,
        "spark.gc_s": t["gc_s"] / passes,
        "spark.core_busy_share": t["run_s"] / (op_wall * cores) if op_wall else 0.0,
        "spark.shuffle_write_mb": t["shuffle_write_bytes"] / mb / passes,
        "spark.shuffle_read_mb": t["shuffle_read_bytes"] / mb / passes,
        "spark.fetch_wait_s": t["fetch_wait_s"] / passes,
        "spark.spill_mb": t["spill_bytes"] / mb / passes,
        "spark.input_rows": t["input_rows"] / passes,
        "spark.input_mb": t["input_bytes"] / mb / passes,
        "python.sent_mb": t["python_sent_bytes"] / mb / passes,
        "python.returned_mb": t["python_returned_bytes"] / mb / passes,
        "python.rows_returned": t["python_rows"] / passes,
    })

    # self time per layer over the timed section (a span's children plus
    # its self time cover its duration). Stages run in parallel, so the
    # spark layer counts the time at least one stage ran, once.
    kids = run.tracer.children()
    selfs = run.tracer.self_times()
    for s in timed:
        if s.layer == "spark":
            continue
        out["self.spark_s"] += covered(s, [k for k in kids.get(s.id, ()) if k.layer == "spark"])
        key = f"self.{s.layer}_s"
        if key in out:
            out[key] += selfs[s.id]
    for key in ("self.bench_s", "self.sources_s", "self.pipelines_s", "self.sinks_s",
                "self.plans_s", "self.caching_s", "self.spark_s"):
        out[key] /= passes
    return out


def run_workload(args) -> tuple[dict, dict]:
    traced = bool(args.trace)
    base = os.path.join(harness.ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    child = _untraced_run(args) if traced else None
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        return _measure(args, base, work, child)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, base, work, child) -> tuple[dict, dict]:
    from bench import external_cpu_cores, external_cpu_probe

    traced = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    env = harness.configure_env(work)
    run = harness.Run(args.workload, args.seed, traced, work)
    if args.workload == "xlsx_to_postgres":
        from perfbench.etl import EtlWorkload

        wl = EtlWorkload(run)
    else:
        from perfbench.mixes import MixWorkload

        wl = MixWorkload(run)
    probe0, cpu0 = external_cpu_probe(), harness.cpu_counters()
    try:
        wl.setup()
        setup_s = _process_age()
        first_timed = len(run.tracer.spans)
        cpus = harness.timed_cpus()
        harness.pin_tree(cpus)
        t0 = time.perf_counter()
        with harness.MemorySampler(wl.excluded_pids()) as mem:
            wl.timed(args.seconds)
        timed_s = time.perf_counter() - t0
        probe1, cpu1 = external_cpu_probe(), harness.cpu_counters()
    finally:
        try:
            run.stop_session()
        finally:
            wl.close()

    e2e = wl.end_to_end()
    e2e.update(setup_s=setup_s, peak_pss_mb=mem.peak_mb)
    passes = wl.passes_done
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "meta": {
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "timed_cpus": sorted(cpus),
            "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
            "PYTHONPATH_set_by_benchmark": env["PYTHONPATH"],
            "git_commit": harness.git_commit(),
            "source_digest": harness.source_digest(),
            "external_cpu_cores": external_cpu_cores(probe0, probe1),
            "steal_share": harness.steal_share(cpu0, cpu1),
            "loadavg": os.getloadavg(),
            "setup_steps": run.setup_steps,
            "timed_s": timed_s,
            "passes": passes,
        },
        "end_to_end": e2e,
        "failed_operations": wl.failed,
        "operations": wl.operations(),
    }
    correct = not wl.failed
    attempted, failed = wl.attempted, len(wl.failed)
    if traced:
        layers = _layer_metrics(run, wl, first_timed, passes)
        base_pass = child["metrics"]["pass_s"]["value"]
        layers["trace.overhead_s"] = e2e["pass_s"] - base_pass
        layers["trace.overhead_share"] = e2e["pass_s"] / base_pass - 1
        record["per_layer"] = layers
        record["untraced_pass_s"] = base_pass
        run.tracer.dump(os.path.join(base, f"spans-{os.path.basename(work)}.json"))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        correct = correct and child["correct"]
        attempted += child["attempted"]
        failed += child["failed"]
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(base, f"record-{os.path.basename(work)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return record, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import bench  # noqa: F401 - the checkout's bench.py (external load probe)
        import etl_xlsx_potgres_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not next to perfbench/: {exc}", file=sys.stderr)
        return 2

    def _terminate(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _terminate)
    record, result = run_workload(args)
    e2e = record["end_to_end"]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "end_to_end": {k: round(v, 4) for k, v in e2e.items()},
                      "failed_operations": record["failed_operations"],
                      "meta": record["meta"]}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
