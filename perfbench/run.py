"""Benchmark entry point.

    python3 perfbench/run.py --workload odm_import --seed 1 --seconds 14 --trace 0

Runs one workload (see README.md) on ``local[nproc]`` against the
vendored sf0.001 tables in ``perfbench/data``, checks every output, and
prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
records spans, Spark's event log and the layer probes, and the metrics
are the per-layer ones.  The line before it is the run's stamp
(versions, core counts, sample counts, tracing overhead).

Everything the run writes goes under ``perfbench/.work/<pid>``, which is
removed at exit; untraced results are kept in ``perfbench/.results`` so
a traced run can report its overhead against them.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("odm_import", "state_commit")
E2E = (
    ("setup_s", "s"),
    ("op_s_p50", "s"),
    ("rows_per_s", "1/s"),
)
OPERATOR_MODULES = ("cdc", "curation", "dedup", "multimodal", "relational", "similarity", "textops")
PER_LAYER = (
    ("mem.peak_rss_mb", "MB"),
    ("session.jvm_start_s", "s"),
    ("session.get_spark_s", "s"),
    ("session.warmup_s", "s"),
    ("exec.plan_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.eff_cores", "cores"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.gc_s", "s"),
    ("exec.input_mb", "MB"),
    ("exec.driver_gap_s", "s"),
    ("bench.op_self_s", "s"),
    ("plans.odm.import_s", "s"),
    ("plans.commands.build_s", "s"),
    ("plans.commands.generic_build_s", "s"),
    ("sources.odm_xml.import_s", "s"),
    ("sources.odm_xml.parse_s", "s"),
    ("sources.odm_xml.dead_letters", "count"),
    ("functions.keys.uuid3_ids_per_s", "1/s"),
    ("functions.keys.uuid5_ids_per_s", "1/s"),
    ("plans.merge.commit_s", "s"),
    ("plans.merge.lookup_s", "s"),
    ("plans.merge.jobs_per_commit", "count"),
    ("plans.merge.files_per_commit", "count"),
    ("plans.merge.write_mb_per_commit", "MB"),
    ("plans.merge.space_amp", "ratio"),
    ("plans.merge.maintain_s", "s"),
    ("plans.ivm.refresh_s", "s"),
    ("plans.ivm.jobs_per_refresh", "count"),
    ("plans.ivm.groups_changed", "count"),
) + tuple(
    (f"operators.{m}.{k}", "s") for m in OPERATOR_MODULES for k in ("build_s", "exec_s")
)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def isolate(work: str, trace: bool) -> None:
    """Point every scratch path of the program and of Spark into the
    run's own directory, and make the package importable by the Python
    workers whatever the current directory."""
    conf = os.path.join(work, "conf")
    os.makedirs(conf)
    lines = ["spark.ui.showConsoleProgress false"]
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{events}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_RENDER_DIR"] = os.path.join(work, "render")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def source_rev() -> dict:
    """git rev when the checkout is a repository, and always a digest
    of the program's sources."""
    h = hashlib.sha1()
    for d, dirs, names in sorted(os.walk(os.path.join(ROOT, "lens_sds_batch_spark"))):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    try:
        rev = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    return {"git_rev": rev, "source_sha1": h.hexdigest()}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def shutdown(ctx) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(res: dict) -> tuple[dict, dict]:
    ops = res["ops"]
    values = {
        "setup_s": res["setup_s"],
        "op_s_p50": statistics.median(o["op_s"] for o in ops),
        "rows_per_s": statistics.median(o["rows"] / o["op_s"] for o in ops),
    }
    samples = {"setup_s": len(res["sessions"]), "op_s_p50": len(ops), "rows_per_s": len(ops)}
    return values, samples


def per_layer(ctx, res: dict, probed: dict, rss_mb: float) -> dict:
    """Loop figures per measured operation (from spans and the event
    log), session figures, and the probes' layer figures."""
    import spans as sp

    by_group = sp.read_event_log(sp.event_log_files(os.path.join(ctx.work, "eventlog")))
    spans = ctx.tracer.spans
    tot = sp.span_counters(spans, by_group)
    selfs = sp.self_times(spans)
    byid = {s.id: s for s in spans}
    op_spans = [byid[o["span"]] for o in res["ops"]]
    op_ids = {s.id for s in op_spans}
    n = len(op_spans)

    def per_op(field):
        return sum(getattr(tot[s.id], field) for s in op_spans) / n

    def children(ids, name):
        return [s for s in spans if s.parent in ids and s.name == name]

    # the calls that start Spark work: the import sinks and each state step
    actions = [s for nm in ("import.sink", "commit", "refresh", "lookup") for s in children(op_ids, nm)]
    probe_state = set(probed.pop("state_spans"))
    return {
        "mem.peak_rss_mb": rss_mb,
        "session.jvm_start_s": res["sessions"][0],
        "session.get_spark_s": statistics.median(res["sessions"]),
        "session.warmup_s": res["warm_s"],
        "exec.plan_s": sum(sp.plan_time(a, tot[a.id]) or 0.0 for a in actions) / n,
        "exec.jobs": per_op("jobs"),
        "exec.stages": per_op("stages"),
        "exec.tasks": per_op("tasks"),
        "exec.task_s": per_op("task_s"),
        "exec.cpu_s": per_op("cpu_s"),
        "exec.eff_cores": per_op("cpu_s") / statistics.mean(s.wall for s in op_spans),
        "exec.shuffle_read_mb": per_op("shuffle_read_mb"),
        "exec.shuffle_write_mb": per_op("shuffle_write_mb"),
        "exec.spill_mb": per_op("spill_mb"),
        "exec.gc_s": per_op("gc_s"),
        "exec.input_mb": per_op("input_mb"),
        "exec.driver_gap_s": sum(sp.driver_gap(s, tot[s.id]) for s in op_spans) / n,
        "bench.op_self_s": sum(selfs[s.id] for s in op_spans) / n,
        "plans.merge.jobs_per_commit": statistics.mean(
            tot[s.id].jobs for s in children(probe_state, "commit")
        ),
        "plans.ivm.jobs_per_refresh": statistics.mean(
            tot[s.id].jobs for s in children(probe_state, "refresh")
        ),
        **probed,
    }


def overhead(workload: str, traced: dict) -> dict | None:
    """Traced minus untraced, per end-to-end metric, against the median
    of the untraced runs recorded in this checkout."""
    path = os.path.join(HERE, ".results", f"{workload}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        past = [json.loads(line)["metrics"] for line in f if line.strip()]
    return {
        k: v - statistics.median(p[k] for p in past if k in p)
        for k, v in traced.items()
        if any(k in p for p in past)
    }


def versions() -> dict:
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "python": platform.python_version()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("lens_sds_batch_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the program")
    if not os.path.isdir(DATA):
        fail(f"input tables not found at {DATA}")

    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = None
    try:
        isolate(work, bool(args.trace))
        import workloads

        ctx = workloads.Ctx(DATA, work, args.seed, args.seconds, bool(args.trace))
        res = workloads.run(ctx, workloads.WORKLOADS[args.workload](ctx))
        probed = {}
        if ctx.trace:
            import probes

            probed = probes.run_all(ctx)
        jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        shutdown(ctx)
        e2e, samples = end_to_end(res)
        metrics = per_layer(ctx, res, probed, rss) if ctx.trace else e2e
    finally:
        if ctx is not None and ctx.spark is not None:
            shutdown(ctx)
        shutil.rmtree(work, ignore_errors=True)

    table = PER_LAYER if args.trace else E2E
    if sorted(metrics) != sorted(k for k, _ in table):
        fail(f"metric set differs from the declared table: {sorted(metrics)}")
    ledger = ctx.ledger
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "inputs": os.path.relpath(DATA, ROOT),
        "versions": versions(),
        **source_rev(),
        "samples": samples,
        "op_s": [o["op_s"] for o in res["ops"]],
        "peak_rss_mb": rss,
        "timeline": res["timeline"],
        "failed_ratio": ledger.failed / ledger.attempted,
        "failures": ledger.failures[:10],
    }
    if args.trace:
        stamp["traced_end_to_end"] = e2e
        stamp["tracing_overhead"] = overhead(args.workload, e2e)
    else:
        os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
        with open(os.path.join(HERE, ".results", f"{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": args.seed, "metrics": e2e}) + "\n")
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in table},
    }))


if __name__ == "__main__":
    main()
