"""Benchmark of execute_sync_spark: the reference's ELT job and the declared
query registry, on Spark ``local[nproc]``, closed loop with one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads:
  elt       the reference's job (see elt.py): a force-refresh backlog of
            large pages, then small incremental pages, a crash replay,
            prune and the view forest, each outcome checked against the
            seeded feed's expected outcome
  registry  one query of every family of the declared queries, each built
            then collected, checked against its DuckDB oracle

Set-up (session start, a warm-up pass and, as the median of three
repetitions, making the inputs and their expected outcome) is timed apart
from the measured passes. Passes repeat, at least twice, until the next
would end after ``--seconds``. ``job_s`` is the best pass's time and
``op_ms_geomean`` the geometric mean of each operation's best time: the
host is shared, and a pass or an operation it slowed down says nothing
about the program. Every outcome is checked, warm-up included, and a wrong
or failed operation counts in ``failed``.

With ``--trace 0`` the last line of standard output holds the end-to-end
metrics. With ``--trace 1`` the measured pass is traced, and an untraced
and a second traced pass follow it to estimate the tracing overhead:
spans are recorded around each call into the program's layers, each span
sets a Spark job group, and after the session stops the Spark event log is
parsed into per-span jobs, task time, shuffle, input and spill; the last
line then holds the per-layer metrics. The line before the last is a detail
record: pass and sample counts, the tail percentile, the host calibration
and every error by name.

All files live under ``.perfbench_tmp/`` in the working directory and are
removed on exit.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("elt", "registry")
SETUP_REPS = 3
MIN_PASSES = 2
CALIB_WARM, CALIB_REPS = 2, 3
DRIVER_MEMORY = "3g"

ELT_SPANS = {
    "sources.fetch_ms": "sources.fetch",
    "sources.watermark_save_ms": "sources.watermark_save",
    "landing.build_ms": "landing.build",
    "sinks.append_ms": "sinks.append",
    "operators.prune_ms": "operators.prune",
    "schema.compile_ms": "schema.compile",
    "operators.views_build_ms": "operators.views_build",
    "operators.views_read_ms": "operators.views_read",
}
ELT_JOBS = {
    "sinks.append_jobs": "sinks.append",
    "operators.prune_jobs": "operators.prune",
    "operators.views_build_jobs": "operators.views_build",
    "operators.views_read_jobs": "operators.views_read",
}
# counts the ELT pass reports: name -> (unit, better)
ELT_COUNTS = {
    "landing.rows_landed": ("count", "higher"),
    "landing.chunk_rows": ("count", "higher"),
    "landing.useful_ratio": ("ratio", "higher"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.files_written": ("count", "lower"),
    "sinks.replay_absorbed": ("count", "higher"),
    "operators.rows_removed": ("count", "higher"),
    "operators.bytes_rewritten": ("bytes", "lower"),
    "operators.partitions_rewritten": ("count", "lower"),
    "operators.views_rows": ("count", "higher"),
}
ELT_STAGES = {
    "backlog_sync_s": ("s", "lower"),
    "incremental_sync_s": ("s", "lower"),
    "prune_s": ("s", "lower"),
    "views_s": ("s", "lower"),
    "backlog_docs_per_s": ("1/s", "higher"),
    "storage_ratio": ("ratio", "lower"),
}
EXEC_GROUPS = ("sources", "landing", "sinks", "operators", "plans.construct", "plans.collect")
EXEC_FIELDS = {"task_core_s": "s", "shuffle_bytes": "bytes", "input_bytes": "bytes", "spill_bytes": "bytes"}
E2E_UNITS = {"setup_s": "s", "job_s": "s", "op_ms_geomean": "ms"}
SELF_LAYERS = ("sources", "landing", "sinks", "operators", "schema", "plans", "bench")


def _families():
    from perfbench.registry import FAMILY_NAMES

    return FAMILY_NAMES


def per_layer_specs() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in print order."""
    specs = [(m, "ms", "lower") for m in ELT_SPANS] + [(m, "count", "lower") for m in ELT_JOBS]
    specs += [(m, unit, better) for m, (unit, better) in ELT_COUNTS.items()]
    specs += [(f"elt.{s}", unit, better) for s, (unit, better) in ELT_STAGES.items()]
    for fam in _families():
        specs += [(f"plans.construct_s.{fam}", "s", "lower"), (f"plans.construct_jobs.{fam}", "count", "lower"),
                  (f"spark.plan_ms.{fam}", "ms", "lower"), (f"plans.collect_s.{fam}", "s", "lower"),
                  (f"plans.collect_jobs.{fam}", "count", "lower")]
    specs.append(("plans.construct_share", "ratio", "lower"))
    specs += [(f"exec.{f}.{g}", unit, "lower") for f, unit in EXEC_FIELDS.items() for g in EXEC_GROUPS]
    specs += [(f"self_s.{layer}", "s", "lower") for layer in SELF_LAYERS]
    specs += [("trace.wall_s", "s", "lower"), ("trace.overhead_s", "s", "lower"),
              ("trace.accounted_share", "ratio", "higher"), ("trace.jobs_unattributed", "count", "lower"),
              ("host.calib_ms", "ms", "lower"), ("host.calib_drift", "ratio", "lower")]
    return specs


def _exec_group(span_name: str) -> str | None:
    for g in EXEC_GROUPS:
        if span_name.startswith(g + "."):
            return g
    if span_name.startswith("schema."):
        return "operators"
    return None


class _Elt:
    """The warm-up is a full pass over the same feed: the JVM is still
    compiling the ELT's code paths well into the first pass of that size."""

    def __init__(self, spark, tmp: str, seed: int):
        from perfbench import elt

        self.elt, self.spark, self.tmp, self.seed = elt, spark, tmp, seed
        self.inputs = None

    def prepare(self) -> None:
        self.inputs = self.elt.prepare(self.seed, os.path.join(self.tmp, "feed"))

    def warm_up(self):
        return self.elt.run_pass(self.spark, self.inputs, os.path.join(self.tmp, "warm"), _tracer(None))

    def run_pass(self, tracer, k: int):
        return self.elt.run_pass(self.spark, self.inputs, os.path.join(self.tmp, f"pass{k}"), tracer)


class _Registry:
    """The warm-up is a full pass over the sample: most of a cold pass's
    time is the JVM compiling code paths every query shares."""

    def __init__(self, spark, tmp: str, seed: int):
        from perfbench import registry

        self.reg, self.spark = registry, spark
        self.oracles = None

    def prepare(self) -> None:
        self.oracles = self.reg.load_oracles()

    def warm_up(self):
        return self.run_pass(_tracer(None), -1)

    def run_pass(self, tracer, k: int):
        res = self.reg.run_pass(self.spark, self.reg.SAMPLE, tracer)
        self.reg.check(res, self.oracles)
        return res


def _tracer(spark):
    from perfbench.spans import Tracer

    return Tracer(spark)


def _start_session(tmp: str, trace: bool):
    from execute_sync_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            # one plain file per application (rolling logs are the default)
            "spark.eventLog.rolling.enabled": "false",
        })
    cpus = len(os.sched_getaffinity(0))
    return get_spark("perfbench", cpus=str(cpus), extra_conf=conf), cpus


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _calibrate(spark, cpus: int) -> tuple[float, float]:
    """A fixed probe: (ms of a pure-Python loop, ms of one small Spark job),
    each the median of ``CALIB_REPS`` repetitions after ``CALIB_WARM``."""
    py, job = [], []
    for _ in range(CALIB_WARM + CALIB_REPS):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        u = time.perf_counter()
        spark.range(0, 1 << 21, numPartitions=cpus).selectExpr("sum(id * id % 7)").collect()
        py.append((u - t) * 1000)
        job.append((time.perf_counter() - u) * 1000)
    return statistics.median(py[CALIB_WARM:]), statistics.median(job[CALIB_WARM:])


def _layer_metrics(tracer, root, events, result, overhead_s: float, kind: str) -> dict:
    from perfbench.spans import exec_by_span

    spans = tracer.subtree(root)
    stats, unmatched = exec_by_span(events, spans, root)
    # jobs of each span including its descendants (children follow parents)
    incl_jobs = {s.id: stats[s.id].jobs if s.id in stats else 0 for s in spans}
    for s in reversed(spans[1:]):
        incl_jobs[s.parent] += incl_jobs[s.id]

    def dur(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    def jobs(name: str) -> int:
        return sum(incl_jobs[s.id] for s in spans if s.name == name)

    m = {name: 0.0 for name, _, _ in per_layer_specs()}
    wall = root.end - root.start
    if kind == "elt":
        for metric, span in ELT_SPANS.items():
            m[metric] = dur(span) * 1000
        for metric, span in ELT_JOBS.items():
            m[metric] = jobs(span)
        for metric in ELT_COUNTS:
            m[metric] = result.counts.get(metric, 0)
        for stage in ELT_STAGES:
            m[f"elt.{stage}"] = result.stages[stage]
    else:
        for fam in _families():
            m[f"plans.construct_s.{fam}"] = dur(f"plans.construct.{fam}")
            m[f"plans.construct_jobs.{fam}"] = jobs(f"plans.construct.{fam}")
            m[f"plans.collect_s.{fam}"] = dur(f"plans.collect.{fam}")
            m[f"plans.collect_jobs.{fam}"] = jobs(f"plans.collect.{fam}")
            m[f"spark.plan_ms.{fam}"] = result.plan_ms.get(fam, 0.0)
        m["plans.construct_share"] = sum(m[f"plans.construct_s.{fam}"] for fam in _families()) / wall
    for s in spans:
        group = _exec_group(s.name)
        if group is not None and s.id in stats:
            for f in EXEC_FIELDS:
                m[f"exec.{f}.{group}"] += getattr(stats[s.id], f)
    own = tracer.self_by_name(root)
    for name, secs in own.items():
        layer = name.split(".")[0]
        if layer in SELF_LAYERS:
            m[f"self_s.{layer}"] += secs
    m["trace.wall_s"] = wall
    m["trace.overhead_s"] = overhead_s
    # share of the pass inside named spans: all but the root's own time
    m["trace.accounted_share"] = 1 - own["bench.job"] / wall
    m["trace.jobs_unattributed"] = unmatched
    return m


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if args.seconds <= 0:
        return _fail("--seconds must be positive")

    # the program under test and the registry inputs come from this checkout
    if not os.path.isfile(os.path.join(ROOT, "execute_sync_spark", "__init__.py")):
        return _fail(f"execute_sync_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)
    from perfbench import registry, stats

    missing = [t for t in registry.TABLES if not os.path.isfile(os.path.join(registry.DATA_DIR, f"{t}.parquet"))]
    if missing or not os.path.isfile(registry.ORACLE_FILE):
        return _fail(f"registry inputs missing under {registry.HERE}")

    base = os.path.join(os.getcwd(), ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # every temp file of this process, its Python workers and the JVM
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    spark = None
    try:
        t0 = time.perf_counter()
        spark, cpus = _start_session(tmp, bool(args.trace))
        session_s = time.perf_counter() - t0

        cls = _Registry if args.workload == "registry" else _Elt
        wl = cls(spark, tmp, args.seed)
        prep = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + warm_s + statistics.median(prep)
        calib_start = _calibrate(spark, cpus)

        passes = []
        traced = None
        start = time.perf_counter()
        if args.trace:
            # the traced pass sits where an untraced run measures; an
            # untraced and a second traced pass follow, for the overhead
            tracer = _tracer(spark)
            traced = (tracer, wl.run_pass(tracer, 0))
            passes.append(wl.run_pass(_tracer(None), 1))
            passes.append(wl.run_pass(_tracer(spark), 2))
            overhead_s = passes[1].wall_s - passes[0].wall_s
        else:
            while True:
                passes.append(wl.run_pass(_tracer(None), len(passes)))
                elapsed = time.perf_counter() - start
                if len(passes) >= MIN_PASSES and elapsed + passes[-1].wall_s > args.seconds:
                    break
        calib_end = _calibrate(spark, cpus)
        _stop_session(spark)
        spark = None

        everything = [warm] + passes + ([traced[1]] if traced else [])
        errors = [e for p in everything for e in p.errors]
        attempted = sum(p.attempted for p in everything)
        failed = sum(p.failed for p in everything)

        op_ms = [x for p in passes for x in p.op_ms.values()]
        tail = stats.tail_rank(len(op_ms))
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "passes": len(passes) + (1 if traced else 0),
            "pass_s": [p.wall_s for p in ([traced[1]] if traced else []) + passes],
            "stages": [getattr(p, "stages", None) for p in passes],
            "ops_per_pass": len(passes[0].op_ms),
            "op_samples": len(op_ms),
            "op_tail": {"p": tail, "ms": stats.percentile(op_ms, tail) if tail else None},
            "setup": {"session_s": session_s, "warm_up_s": warm_s, "inputs_s": prep},
            # the Python loop does not warm up with the JVM, so it alone
            # decides whether the host changed speed during the run
            "host": {"calib_py_ms": [calib_start[0], calib_end[0]], "calib_job_ms": [calib_start[1], calib_end[1]],
                     "flagged": not (2 / 3 <= calib_end[0] / calib_start[0] <= 1.5)},
            "errors": errors,
        }
        if traced:
            tracer, result = traced
            root = tracer.spans[result.root_span]
            from perfbench.spans import read_event_log

            kind = "registry" if args.workload == "registry" else "elt"
            events = read_event_log(os.path.join(tmp, "events"))
            metrics = _layer_metrics(tracer, root, events, result, overhead_s, kind)
            metrics["host.calib_ms"] = sum(calib_start)
            metrics["host.calib_drift"] = calib_end[0] / calib_start[0]
            units = {name: unit for name, unit, _ in per_layer_specs()}
        else:
            metrics = {
                "setup_s": setup_s,
                "job_s": min(p.wall_s for p in passes),
                "op_ms_geomean": statistics.geometric_mean(stats.fastest([p.op_ms for p in passes]).values()),
            }
            units = E2E_UNITS
        if detail["host"]["flagged"]:
            print("perfbench: host calibration drifted during the run; treat its figures with care",
                  file=sys.stderr)
        print(json.dumps(detail))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
