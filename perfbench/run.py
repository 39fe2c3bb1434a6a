"""Closed-loop benchmark of the spark_ifs_spark engine.

One client (this thread) runs one workload's fixed operation list in
passes, each operation after the previous one completes, on Spark
``local[nproc]`` with ``nproc`` shuffle partitions, until ``--seconds``
have passed (at least one pass). Every output is checked after the
timed passes. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the ``end_to_end`` metrics of BENCHMARK.json untraced
(``--trace 0``) and its ``per_layer`` metrics traced (``--trace 1``).
A fuller per-run report goes to ``.perfbench/reports/``. See README.md.

    python3 perfbench/run.py --workload ifs --seed 1 --seconds 6 --trace 0
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import warnings
from dataclasses import dataclass

from tracing import RssSampler, Tracer, attribute, read_event_log, self_times, tree_pids, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

KERNELS = ["scores.mi_codes", "scores.factorize", "scores.mi_vec"]


@dataclass
class OpRecord:
    name: str
    pass_no: int
    span: int
    seconds: float = 0.0
    result: object = None
    error: str | None = None
    jobs: int = 0
    staged_s: float = 0.0  # wall time inside staged builds it triggered

    @property
    def latency(self) -> float:
        """The operation's time net of the once-per-session staged
        builds it triggered; those stay in the pass wall time."""
        return self.seconds - self.staged_s


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and the staging layer write inside
    ``work``; enable the event log for traced runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_IFS_DRIVER_MEM"] = "2g"
    # the 2 GB heap is committed and touched at start, so peak RSS moves
    # with off-heap, driver and Python-worker memory, not with how much of
    # the fixed heap the collector happened to touch
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
    args = ["--driver-java-options", java, "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def install_wrappers(tracer) -> None:
    """Spans around the public functions of the traced layers, patched
    in the defining module and in each module that imported the name."""
    from spark_ifs_spark.functions import mi
    from spark_ifs_spark.ml import feature_selector, row_selector
    from spark_ifs_spark.operators import scores, select_columns, select_rows

    tracer.wrap(select_columns, "select_columns", "select_columns", also=[feature_selector])
    tracer.wrap(select_rows, "select_rows", "select_rows", also=[row_selector])
    tracer.wrap(mi, "check_cardinality", "mi.check_cardinality", also=[select_columns])
    tracer.wrap_kernel(scores, "mi_codes", "scores.mi_codes")
    tracer.wrap_kernel(scores, "factorize", "scores.factorize")
    tracer.wrap_kernel(scores, "mi_vec", "scores.mi_vec", also=[select_rows])


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.2)
    for p in pids:
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


def cpu_times() -> list[int]:
    """The machine's aggregate CPU times from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def runnable_others() -> float:
    """Runnable tasks on the machine besides this one, median of five
    looks over half a second: load now, where the 1-minute load average
    still carries the previous run."""
    counts = []
    for _ in range(5):
        with open("/proc/stat") as f:
            counts.append(next(int(ln.split()[1]) for ln in f if ln.startswith("procs_running")) - 1)
        time.sleep(0.1)
    return statistics.median(counts)


def tail_percentile(xs: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None, None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(xs)[n - 11]


def measure(wl, tracer, seconds: float, spark) -> tuple[list[OpRecord], list[dict]]:
    """Run passes until ``seconds`` have passed; every pass completes."""
    sc = spark.sparkContext
    records: list[OpRecord] = []
    passes: list[dict] = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        n = len(passes)
        wl.prepare_pass(n)
        calls, kernel = dict(tracer.calls), dict(tracer.kernel_s)
        first = len(records)
        t0 = time.perf_counter()
        for name, fn in wl.ops():
            with tracer.op(name) as idx:
                rec = OpRecord(name, n, idx)
                t_op = time.perf_counter()
                try:
                    rec.result = fn()
                except Exception as exc:  # one failed operation must not end the run
                    rec.error = f"{type(exc).__name__}: {str(exc)[:300]}"
                    traceback.print_exc(file=sys.stderr)
                t_end = time.perf_counter()
                rec.seconds = t_end - t_op
                rec.staged_s = union_length([(a, b) for _, a, b in wl.builds], t_op, t_end)
            records.append(rec)
        t1 = time.perf_counter()
        builds = [(name, a, b) for name, a, b in wl.builds if a >= t0]
        staged: dict[str, float] = {}
        for name, a, b in builds:
            staged[name] = staged.get(name, 0.0) + b - a
        for rec in records[first:]:
            rec.jobs = sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in tracer.op_groups(rec.span))
        passes.append({
            "wall_s": t1 - t0,
            "ops": [r.span for r in records[first:]],
            "calls": {k: v - calls.get(k, 0) for k, v in tracer.calls.items()},
            "kernel_s": {k: v - kernel.get(k, 0.0) for k, v in tracer.kernel_s.items()},
            "staged": staged,
            "builds": len(builds),
            "staged_s": union_length([(a, b) for _, a, b in builds], t0, t1),
        })
    return records, passes


def layer_metrics(wl, tracer, records: list[OpRecord], passes: list[dict], log_dir: str) -> tuple[dict, dict]:
    """Per-pass layer metrics (medians over passes) from the spans and
    the Spark event log, plus each operation's layer breakdown."""
    jobs, stages = read_event_log(log_dir)
    span_jobs = attribute(tracer, jobs)
    selfs = self_times(tracer, span_jobs)
    spans = tracer.spans
    incl: dict[int, list] = {}  # each span's own jobs plus its descendants'
    for i in range(len(spans)):
        j = i
        while j is not None:
            incl.setdefault(j, []).extend(span_jobs.get(i, []))
            j = spans[j].parent
    rec_by_span = {r.span: r for r in records}

    def stage_sum(job_list, attr, python_only=False) -> float:
        sids = {s for jb in job_list for s in jb.stages if s in stages}
        return sum(getattr(stages[s], attr) for s in sids if stages[s].python or not python_only)

    per_pass = []
    for p in passes:
        ops = set(p["ops"])
        mine = [i for i, s in enumerate(spans) if s.op in ops]

        def named(*names):
            return [i for i in mine if spans[i].name in names]

        def total(idx):
            return sum(spans[i].end - spans[i].start for i in idx)

        m: dict[str, float] = {
            "ml.fit_s": total(named("ml.fit")),
            "ml.transform_s": total(named("ml.transform")),
            "ml.fits": len(named("ml.fit")),
            "ml.self_s": sum(selfs[i] for i in named("ml.fit", "ml.transform")),
            "registry.construct_s": total(named("registry.construct")),
            "registry.exec_s": total(named("registry.exec")),
            "registry.self_s": sum(selfs[i] for i in named("registry.construct", "registry.exec")),
        }
        for layer in ("select_columns", "select_rows", "mi.check_cardinality"):
            idx = named(layer)
            lj = [jb for i in idx for jb in incl.get(i, [])]
            m[f"{layer}.s"] = total(idx)
            m[f"{layer}.calls"] = len(idx)
            m[f"{layer}.self_s"] = sum(selfs[i] for i in idx)
            m[f"{layer}.jobs"] = len(lj)
            m[f"{layer}.tasks"] = stage_sum(lj, "tasks")
        for k in KERNELS:
            m[f"{k}.calls"] = p["calls"].get(k, 0)
            m[f"{k}.s"] = p["kernel_s"].get(k, 0.0)
        for i in p["ops"]:
            for k, v in wl.op_counters(rec_by_span[i]).items():
                m[k] = m.get(k, 0) + v
        m["staging.build_s"] = p["staged_s"]
        m["staging.builds"] = p["builds"]
        for a, v in p["staged"].items():
            m[f"staging.build_s.{a}"] = v
        pj = [jb for i in p["ops"] for jb in incl.get(i, [])]
        m["spark.jobs"] = len(pj)
        m["spark.stages"] = len({s for jb in pj for s in jb.stages if s in stages})
        m["spark.tasks"] = stage_sum(pj, "tasks")
        m["spark.tasks_failed"] = stage_sum(pj, "failed")
        m["spark.executor_run_s"] = stage_sum(pj, "run_ms") / 1e3
        m["spark.executor_cpu_s"] = stage_sum(pj, "cpu_ns") / 1e9
        m["spark.gc_s"] = stage_sum(pj, "gc_ms") / 1e3
        m["spark.shuffle_write_mb"] = stage_sum(pj, "shuffle_w") / 2**20
        m["spark.shuffle_read_mb"] = stage_sum(pj, "shuffle_r") / 2**20
        m["spark.spill_mb"] = stage_sum(pj, "spill") / 2**20
        m["spark.python_stage_run_s"] = stage_sum(pj, "run_ms", python_only=True) / 1e3
        # driver self time: each operation's span minus the union of its job spans
        busy = [
            union_length([(jb.start, jb.end) for jb in incl.get(i, [])], spans[i].start, spans[i].end)
            for i in p["ops"]
        ]
        m["spark.job_s"] = sum(busy)
        m["driver.self_s"] = total(p["ops"]) - sum(busy)
        per_pass.append(m)
    keys = sorted({k for m in per_pass for k in m})
    medians = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
    per_op = {
        f"p{r.pass_no}:{r.name}": {
            "s": r.seconds,
            "jobs": len(incl.get(i, [])),
            "self_s": selfs[i],
            "layers_self_s": {
                spans[c].name: round(selfs[c], 4) for c in range(len(spans)) if spans[c].op == i and c != i
            },
        }
        for i, r in rec_by_span.items()
    }
    return medians, per_op


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_ifs_spark", "__init__.py")):
        print(f"spark_ifs_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    trace = bool(args.trace)
    nproc = os.cpu_count() or 1
    load_start, busy_start, cpu_start = os.getloadavg()[0], runnable_others(), cpu_times()
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, trace)
    warnings.filterwarnings("ignore", category=FutureWarning)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t_setup = time.perf_counter()
        from spark_ifs_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc)
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(sc=spark.sparkContext)
        if trace:
            install_wrappers(tracer)
        wl = WORKLOADS[args.workload]()
        gen = wl.setup(spark, tracer, args.seed, work)
        setup_s = time.perf_counter() - t_setup

        tracer.enabled = trace
        records, passes = measure(wl, tracer, args.seconds, spark)
        tracer.enabled = False
        rss.stop()

        failures = {}
        for rec in records:
            reason = rec.error
            if reason is None:
                try:
                    reason = wl.check(rec)
                except Exception as exc:  # a check that cannot run is a failed op
                    reason = f"check raised {type(exc).__name__}: {exc}"
            if reason is not None:
                failures[f"p{rec.pass_no}:{rec.name}"] = reason
        for k, v in failures.items():
            print(f"FAILED {k}: {v}", file=sys.stderr)
        stop_spark(spark)
        spark = None
        load_end = os.getloadavg()[0]
        cpu = [b - a for a, b in zip(cpu_start, cpu_times())]
        steal = cpu[7] / max(1, sum(cpu))

        op_s = [r.latency for r in records]
        tail_pct, tail_s = tail_percentile(op_s)
        e2e = {
            "wall_s": statistics.median(p["wall_s"] for p in passes),
            "op_p50_s": statistics.median(op_s),
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_kb / 1024.0,
        }
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc,
            "loadavg1_start": load_start, "loadavg1_end": load_end,
            "runnable_others_start": busy_start, "steal_share": steal,
            # co-tenant load: most cores already busy when the run
            # started, or the hypervisor took CPU time from this machine
            "contended": busy_start >= 0.75 * nproc or steal >= 0.05,
            "end_to_end": e2e,
            "error_rate": len(failures) / len(records),
            "op_tail": {"percentile": tail_pct, "s": tail_s, "n": len(op_s)},
            "passes": [{k: p[k] for k in ("wall_s", "staged_s", "staged")} for p in passes],
            "ops": [
                {"pass": r.pass_no, "name": r.name, "s": r.seconds, "staged_s": r.staged_s,
                 "jobs": r.jobs, "failure": failures.get(f"p{r.pass_no}:{r.name}")}
                for r in records
            ],
            "setup": {"session.start_s": start_s, **{f"sources.{k}": v for k, v in gen.items()}},
        }
        if trace:
            layers, per_op = layer_metrics(wl, tracer, records, passes, os.path.join(work, "eventlog"))
            layers["session.start_s"] = start_s
            layers["sources.gen_s"] = gen["gen_s"]
            layers["sources.gen_cells"] = gen["gen_cells"]
            layers["trace.wall_s"] = e2e["wall_s"]
            base = []
            for p in glob.glob(os.path.join(OUT, "reports", f"{args.workload}-seed*-trace0.json")):
                with open(p) as f:
                    base.append(json.load(f)["end_to_end"]["wall_s"])
            layers["trace.overhead_s"] = e2e["wall_s"] - statistics.median(base) if base else 0.0
            report["trace_overhead"] = {"untraced_runs": len(base), "s": layers["trace.overhead_s"]}
            report["per_layer"] = layers
            report["per_op"] = per_op
            # a layer the workload does not exercise reads 0
            values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
            wanted = spec["per_layer"]
        else:
            values, wanted = e2e, spec["end_to_end"]
        os.makedirs(os.path.join(OUT, "reports"), exist_ok=True)
        path = os.path.join(OUT, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1)
        print(
            f"{args.workload} seed={args.seed} passes={len(passes)} ops={len(records)} "
            f"failed={len(failures)} error_rate={report['error_rate']:.3f} "
            f"op_tail=p{tail_pct and round(tail_pct)}:{tail_s} loadavg1={load_start:.2f}->{load_end:.2f} "
            f"runnable_others={busy_start:g} steal={steal:.1%}"
            f"{' CONTENDED' if report['contended'] else ''} report={os.path.relpath(path, ROOT)}",
            file=sys.stderr,
        )
        result = {
            "correct": not failures,
            "attempted": len(records),
            "failed": len(failures),
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
