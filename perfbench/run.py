"""Repo benchmark: one closed-loop client driving uw_mapreduce_spark on local[4].

    python3 perfbench/run.py --workload kv_text_sum --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root.  Each invocation is one hermetic run: its
own process, Spark session, ``SPARK_LOCAL_DIRS``, artifact cache and
warehouse, all under ``.perfbench/run-<pid>/`` (removed at exit).  The
run writes its inputs from ``--seed``, starts and warms the session (the
``setup_s`` metric), runs verified warm-up jobs (a pass, for a mix),
then runs jobs back to back for ``--seconds`` (finishing the current
pass of a mix), checks their outputs and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer ones, taken from every other job
(or pass) with spans and Spark counters on, while the jobs in between
run untraced so the tracing overhead can be reported.  Spans are written
to ``.perfbench/traces/``.  See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"


def _process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _hermetic_env(work: str) -> None:
    """Point every place a run writes to at its own directory."""
    dirs = {d: os.path.join(work, d) for d in ("local", "artifacts", "warehouse", "tmp", "derby")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_KNN_CACHE"] = dirs["artifacts"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
        "--driver-java-options",
        f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['derby']}",
        "pyspark-shell",
    ])


def start_session():
    """get_spark, then a first SQL action and a Python-worker fork, so the
    session is warm.  Returns (spark, start_s, first_action_s)."""
    t0 = time.perf_counter()
    from uw_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=MASTER)
    t1 = time.perf_counter()
    spark.range(0, 100_000, numPartitions=4).selectExpr("sum(id)").collect()
    spark.sparkContext.parallelize(range(4), 4).map(lambda x: x + 1).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_probes(tracer):
    """Spans around the program's inner layer calls (traced runs only).
    Returns undo callables."""
    # Import every module that copies a wrapped name before patching it.
    import uw_mapreduce_spark.plans.catalog  # noqa: F401
    import uw_mapreduce_spark.plans.catalog_llm  # noqa: F401
    from uw_mapreduce_spark.operators import scale
    from uw_mapreduce_spark.sources import tables

    from perfbench.tracing import patch_everywhere

    def borders(attrs, args, result):
        attrs.update(found=len(result), wanted=args[2] - 1, borders=list(result))

    return [
        patch_everywhere(scale, "_deterministic_borders", tracer.wrap(
            scale._deterministic_borders, "scale.borders", counters=True, on_result=borders)),
        patch_everywhere(scale, "_ranged_with_offsets",
                         tracer.wrap(scale._ranged_with_offsets, "scale.rank")),
        patch_everywhere(tables, "load_table", tracer.wrap(tables.load_table, "tables.scan")),
    ]




@dataclasses.dataclass
class Job:
    index: int
    label: str  # the kind of job: the workload, or the query of a mix
    seconds: float
    peak_rss_mb: float
    ref_s: float  # the host-speed reference kernel, timed just before the job
    rows: int
    traced: bool
    ok: bool


def measure(spark, wl, seconds: float, trace: bool, setup: dict) -> dict:
    """Warm up, run the closed loop, check outputs; returns the result
    with both metric sets (end-to-end from untraced jobs, per-layer from
    traced ones)."""
    from perfbench.tracing import SparkCounters, Tracer, median

    counters = SparkCounters(spark)
    tracer = Tracer(counters)
    undo = install_probes(tracer) if trace else []
    try:
        wl.warm_up(spark, tracer)
        jobs: list[Job] = []
        t_end = time.perf_counter() + seconds
        i = 0
        # Whole passes only; a traced run needs an untraced and a traced pass.
        while (time.perf_counter() < t_end or i % wl.pass_jobs
               or (trace and i < 2 * wl.pass_jobs)):
            label = wl.job_label(i)
            traced = trace and (i // wl.pass_jobs) % 2 == 1
            tracer.start_job(label)
            ref = counters.reference_s()
            # Every job starts from a collected heap: steadier times, and a
            # per-job memory peak instead of one that depends on GC timing.
            counters.reset_peak_rss()
            tracer.active = traced
            t0 = time.perf_counter()
            try:
                with tracer.span("job", counters=True):
                    rows = wl.job(spark, tracer, i)
                ok = True
            except Exception:
                traceback.print_exc()
                rows, ok = 0, False
            job = Job(i, label, time.perf_counter() - t0, counters.peak_rss_mb(), ref, rows, traced, ok)
            tracer.active = False
            print(f"job {i} {label} {job.seconds:.3f} s ref {ref:.4f}{' traced' if traced else ''}"
                  f"{'' if ok else ' FAILED'}")
            jobs.append(job)
            i += 1
        bad = set(wl.check())
        if any(b < 0 for b in bad):  # a warm-up output was wrong: so is every job's
            wl.failed_names.add(wl.name)
        for job in jobs:
            job.ok = job.ok and job.index not in bad and job.label not in wl.failed_names

        plain = [j for j in jobs if not j.traced and j.ok]
        traced_ok = [j for j in jobs if j.traced and j.ok]
        # Job times are reported in units of the reference kernel's median
        # time in this run ("ref"): the host's speed drifts by up to 2x over
        # minutes, and the ratio cancels that drift.
        ref_s = median([j.ref_s for j in jobs])
        job_s_p50 = _per_kind_median(plain, "seconds")
        rows_per_s = sum(j.rows for j in plain) / max(1e-9, sum(j.seconds for j in plain))
        print(f"host.ref_s = {ref_s:.6g}, job_s_p50 = {job_s_p50:.6g} s, rows_per_s = {rows_per_s:.6g}")
        e2e = {
            "setup_s": setup["setup_s"],
            "job_p50_ref": job_s_p50 / ref_s,
            "rows_per_ref": rows_per_s * ref_s,
            "peak_rss_mb": median([j.peak_rss_mb for j in jobs if not j.traced]),
        }
        layer = {}
        if trace:
            layer = _layer_metrics(spark, wl, tracer, traced_ok, plain, setup)
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{wl.name}-seed{wl.seed}.json"))
            n = max(1, len(traced_ok))
            print(f"self time per traced job ({len(traced_ok)} jobs):")
            for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
                print(f"  {name:24s} {s / n:9.4f} s")
        failed = sum(1 for j in jobs if not j.ok)
        return {"attempted": len(jobs), "failed": failed, "end_to_end": e2e, "per_layer": layer}
    finally:
        for u in undo:
            u()


def _per_kind_median(jobs: list[Job], field: str) -> float:
    """Median of ``field`` for each kind of job (each query of a mix),
    averaged over the kinds, so every query of a pass weighs alike."""
    from perfbench.tracing import median

    kinds = {j.label for j in jobs}
    return statistics.fmean(
        median([getattr(j, field) for j in jobs if j.label == k]) for k in kinds
    ) if kinds else 0.0


def _layer_metrics(spark, wl, tracer, traced_ok: list[Job], plain: list[Job], setup) -> dict:
    from perfbench.tracing import STAGE_FIELDS, median
    from perfbench.workloads import PARTITIONS

    ok_jobs = {j.index for j in traced_ok}
    n = max(1, len(traced_ok))
    job_spans = [s for s in tracer.named("job") if s["job"] in ok_jobs]
    borders = tracer.named("scale.borders")

    def per_job(name):
        return tracer.total_by_job(name, n)

    m = {
        "session.start_s": setup["start_s"],
        "session.first_action_s": setup["first_action_s"],
        "text_kv.read_s": per_job("text_kv.read"),
        "text_kv.write_s": per_job("text_kv.write"),
        "text_kv.write_bytes_per_row": 0.0,
        "tables.scan_s": per_job("tables.scan"),
        "scale.borders_s": per_job("scale.borders"),
        "scale.borders_jobs": sum(b["counters"]["jobs"] for b in borders) / n,
        "scale.borders_found": median([b["attrs"]["found"] for b in borders]),
        "scale.borders_wanted": float(PARTITIONS - 1) if borders else 0.0,
        "scale.partition_rows_max_over_mean": 0.0,
        "scale.rank_s": per_job("scale.rank"),
        "scale.window_call_s": per_job("scale.window_call"),
        "scale.window_action_s": per_job("scale.window_action"),
        "window.single_partition_s": 0.0,
        "caching.cached_bytes_peak": median([float(tracer.cache_peak.get(j, 0)) for j in ok_jobs]),
        "catalog.call_s": per_job("catalog.call"),
        "catalog.action_s": per_job("catalog.action"),
        "trace.overhead_s": median([j.seconds for j in traced_ok]) - median([j.seconds for j in plain]),
        "trace.jobs": float(len(traced_ok)),
        "host.ref_s": median([j.ref_s for j in traced_ok + plain]),
    }
    for k in ("jobs", "stages", *STAGE_FIELDS):
        m[f"spark.{k}"] = sum(s["counters"][k] for s in job_spans) / n
    m["spark.shuffle_bytes_per_input_byte"] = (
        m["spark.shuffle_write_bytes"] / m["spark.input_bytes"] if m["spark.input_bytes"] else 0.0
    )
    m["spark.task_max_over_median"] = median(
        [s["counters"]["task_max_over_median"] for s in job_spans])
    m["spark.task_max_over_median_tasks"] = median(
        [s["counters"]["task_max_over_median_tasks"] for s in job_spans])
    m.update(wl.layer_metrics(spark, tracer))
    return m


def _select(spec: dict, kind: str, values: dict) -> dict:
    """The metrics ``BENCHMARK.json`` declares, in its order, with units."""
    declared = [m["name"] for m in spec[kind]]
    if set(declared) != set(values):
        raise RuntimeError(f"{kind} metrics differ from BENCHMARK.json: "
                           f"{sorted(set(declared) ^ set(values))}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec[kind]}


def run(args, spec: dict) -> dict:
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        _hermetic_env(work)
        wl = WORKLOADS[args.workload](work, args.seed, 1.0)
        prep = time.perf_counter()
        wl.prepare()
        prep = time.perf_counter() - prep
        spark, start_s, first_s = start_session()
        # Process start to warm session, minus the input generation.
        setup = {"setup_s": _process_age() - prep, "start_s": start_s, "first_action_s": first_s}
        try:
            res = measure(spark, wl, args.seconds, bool(args.trace), setup)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, v in {**res["end_to_end"], **res["per_layer"]}.items():
        print(f"{name} = {v:.6g}")
    print(f"failed_frac = {res['failed']}/{res['attempted']}")
    kind = "per_layer" if args.trace else "end_to_end"
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": _select(spec, kind, res[kind]),
    }


def self_test(spec: dict) -> int:
    """Every workload end to end at tiny size, traced and untraced, then
    the oracles must reject outputs computed with window l-1."""
    from perfbench import oracle
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    problems = []
    try:
        _hermetic_env(work)
        wls = {n: cls(os.path.join(work, n), 7, 0.02) for n, cls in WORKLOADS.items()}
        for wl in wls.values():
            wl.prepare()
        spark, start_s, first_s = start_session()
        setup = {"setup_s": start_s + first_s, "start_s": start_s, "first_action_s": first_s}
        try:
            for name, wl in wls.items():
                for trace in (False, True):
                    kind = "per_layer" if trace else "end_to_end"
                    res = measure(spark, wl, 0.5, trace, setup)
                    _select(spec, kind, res[kind])
                    if res["failed"]:
                        problems.append(f"{name} trace={trace}: "
                                        f"{res['failed']}/{res['attempted']} failed")
            problems += _oracle_rejects(spark, wls, oracle)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("self-test", "FAILED" if problems else "passed")
    return 1 if problems else 0


def _oracle_rejects(spark, wls, oracle) -> list[str]:
    from uw_mapreduce_spark.plans.catalog import QUERIES

    from perfbench.tracing import Tracer

    problems = []
    kv = wls["kv_text_sum"]
    path = os.path.join(kv.work, "wrong-window")
    kv.run_query(spark, Tracer(None), path, window=kv.window - 1)
    if oracle.kv_hash(oracle.read_kv_text_output(path)) == kv.expected:
        problems.append("kv_text_sum: oracle accepted window l-1")
    cat = wls["catalog_mix"]
    wrong = oracle.spark_signature(QUERIES["sliding_sum_79"](spark, cat.sf_dir))
    if wrong == cat.expected["sliding_sum_91"]:
        problems.append("catalog_mix: oracle accepted sliding_sum_79 for sliding_sum_91")
    return problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    # The program under test is the checkout's own source, never an
    # installed copy.
    if not (os.path.isfile(spec_path) and os.path.isdir(os.path.join(ROOT, "uw_mapreduce_spark"))):
        print("perfbench: run from a checkout of the repository (needs BENCHMARK.json "
              "and the uw_mapreduce_spark package)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.self_test:
        return self_test(spec)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"--workload must be one of {[w['name'] for w in spec['workloads']]}")
    print(json.dumps(run(args, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
