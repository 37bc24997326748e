#!/usr/bin/env python3
"""Closed-loop benchmark of the query catalog, one client, ``local[3]``.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process: generate (once, cached
under ``.perfbench_work/``) the synthetic tables, start the Spark
session, warm up, check every op against its DuckDB oracle, then run
timed passes over the workload's ops for ``--seconds`` seconds. Each
op is one catalog call ``fn(spark, sf_dir)`` followed by a ``noop``
write of the full result, so every output column is computed. The seed
sets the op order of every pass; the tables are fixed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer functions (``spans.py``), alternates traced and untraced
timed passes, and prints the per-layer metrics. The last stdout line is
the result JSON; the line before it records the host and per-pass
detail. See ``README.md`` for workloads and metric definitions.
"""

from __future__ import annotations

import time

T_PROC = time.time()  # process start, before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import procstat  # noqa: E402

SF = 0.01
CORES = 3
DRIVER_MEM = "2g"
# Untimed noop passes after the cold oracle-check pass, until pass times
# have stopped falling: about 15 s of ops on each workload. The short
# incremental ops need more passes before the JIT has compiled them.
WARM_PASSES = {"corpus": 3, "incremental": 8}
MIN_PASSES = 3  # timed passes, so that the per-pass figures are medians of three or more

# Each workload is a small subset of the catalog: every run pays a fresh
# JVM and a cold first execution of each op, and the whole benchmark
# (4 + 22 runs per workload) must fit in under an hour, also on a host
# that steals a third of the CPU.
WORKLOADS = {
    # dedup with connected components, similarity top-k and text scoring:
    # shuffles and Python UDFs; reads a posting index (built once, in the
    # cold pass)
    "corpus": [
        "dedup_survivors", "sim_cosine_topk", "text_bm25_indexed",
        "text_gopher_rules", "text_quality_score",
    ],
    # write path: a micro-batch stream MERGEd into a ParquetStore, a
    # watermarked window stream, a relational MERGE
    "incremental": [
        "stream_upsert_merge", "stream_tumbling_daily", "m1_merge_upsert",
    ],
}

# Spans each workload must record in every traced pass.
EXPECTED = {
    "corpus": {
        "operators.components.connected_components",
        "store.posting.bm25_topk_indexed",
    },
    "incremental": {
        "store.table.ParquetStore.merge_upsert",
        "streaming.windows.drain_or_raise",
    },
}

# Ops whose micro-batch jobs run under the stream's own job group: the
# traced run asserts their job total exceeds the caller-group count.
STREAM_OPS = {"stream_upsert_merge", "stream_tumbling_daily"}

QUERY_MODULES = ["dedup", "similarity", "pipeline_text", "streaming_ops", "merge"]


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _require_checkout() -> None:
    for rel in ("agrobr_spark/queries/__init__.py", "tests/oracle_harness.py"):
        if not (ROOT / rel).is_file():
            sys.exit(f"perfbench: {rel} not found under {ROOT}; "
                     "run from the root of a repository checkout")


def _session(tmp: Path, trace: bool):
    from agrobr_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    if trace:
        # the per-layer task and shuffle sums read every traced job's
        # stages from the status store after the last pass
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, then the JVM and the Python workers, and wait for all."""
    pids = [p for p in procstat.tree() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if pids:
            time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class Runner:
    """Runs ops, records samples and failures."""

    def __init__(self, spark, catalog, data: str, tracer=None):
        self.spark, self.catalog, self.data, self.tracer = spark, catalog, data, tracer
        self.attempted = self.failed = 0
        self.failures: dict[str, str] = {}
        self.cold_s: dict[str, float] = {}

    def op(self, name: str, traced: bool = False):
        """One op: catalog call + full noop write. Returns
        ``(wall_s, op_span_or_None)``; ``wall_s`` is None if it raised."""
        entry = self.catalog[name]
        module = entry.fn.__module__.rsplit(".", 1)[1]
        tr = self.tracer if traced else None
        open_spans = []

        def begin(span_name, args=()):
            if tr:
                open_spans.append(tr.begin(span_name, args))

        def end():
            if tr:
                tr.end(open_spans.pop())

        self.spark.sparkContext.setJobGroup(f"perfbench.{name}", name)
        self.attempted += 1
        wall = None
        t0 = time.perf_counter()
        try:
            begin(f"op.{name}", (module,))
            begin(f"queries.{module}.plan")
            df = entry.fn(self.spark, self.data)
            end()
            begin(f"queries.{module}.exec")
            df.write.format("noop").mode("overwrite").save()
            end()
            wall = time.perf_counter() - t0
        except Exception as e:  # counted and reported; the op stays in
            self._fail(name, f"{type(e).__name__}: {e}")
        root = open_spans[0] if open_spans else None
        while open_spans:
            end()
        return wall, root

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(name, why[:300])

    def check(self, expected: dict, names) -> None:
        """Cold pass: run each op once, collect it through pandas and
        compare rows, schema and order-free value hash with the oracle."""
        from tests.oracle_harness import _pandas_rows, value_hash

        for name in names:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                sdf = self.catalog[name].fn(self.spark, self.data)
                pdf = sdf.toPandas()
            except Exception as e:
                self._fail(name, f"{type(e).__name__}: {e}")
                continue
            self.cold_s[name] = round(time.perf_counter() - t0, 3)
            rows = _pandas_rows(pdf)
            cols = [c.lower() for c in sdf.columns]
            got = (sorted(cols), len(rows), value_hash(rows, cols))
            if got != expected[name]:
                self._fail(name, f"oracle mismatch: spark {got[:2]} "
                                 f"oracle {expected[name][:2]}")


def _oracle_expected(data: str, sql: dict, names) -> dict:
    """DuckDB side of the oracle check: (columns, rows, value hash) per op."""
    from tests.oracle_harness import _pandas_rows, duckdb_con, value_hash

    con = duckdb_con(data)
    out = {}
    for name in names:
        cur = con.execute(sql[name])
        cols = [d[0].lower() for d in cur.description]
        rows = _pandas_rows(cur.df())
        out[name] = (sorted(cols), len(rows), value_hash(rows, cols))
    con.close()
    return out


def _stage_stats(spark, job_ids) -> tuple[int, int]:
    """(tasks run, shuffle bytes written) over the stages of ``job_ids``."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = shuffle = 0
    for sid in stages:
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # skipped stage: never submitted
            continue
        tasks += s.numCompleteTasks()
        shuffle += s.shuffleWriteBytes()
    return tasks, shuffle


def _layer_metrics(spark, traced_passes, span_names, workload):
    """Per-pass sums of the traced spans -> medians over traced passes,
    and the list of failed trace checks (dead spans, missed stream jobs)."""
    per_pass, problems = [], []
    for ops in traced_passes:
        m: dict[str, float] = {}

        def add(key, v):
            m[key] = m.get(key, 0) + v

        stream_total = stream_caller = 0
        for root, caller_jobs in ops:
            module = root.args[0]
            tasks, shuffle = _stage_stats(spark, range(root.job_start, root.job_end))
            for c in root.children:
                kind = c.name.rsplit(".", 1)[1]
                add(f"queries.{module}.{kind}_s", c.dur)
            add(f"queries.{module}.jobs", root.jobs)
            add(f"queries.{module}.tasks", tasks)
            add(f"queries.{module}.shuffle_bytes", shuffle)
            name = root.name[3:]
            if name in STREAM_OPS:
                if root.jobs <= caller_jobs:
                    problems.append(
                        f"{name} counted {root.jobs} jobs in total but "
                        f"{caller_jobs} in the caller's group; stream jobs missed")
                stream_total += root.jobs
                stream_caller += caller_jobs
            todo = list(root.children)
            while todo:
                s = todo.pop()
                todo.extend(s.children)
                if s.name in span_names and s.name != "io.load":
                    add(f"{s.name}.calls", 1)
                    add(f"{s.name}.self_s", s.self_s)
                    add(f"{s.name}.jobs", s.jobs)
        m["streaming.op_jobs"] = stream_total
        m["streaming.op_caller_group_jobs"] = stream_caller
        for want in EXPECTED[workload]:
            if m.get(f"{want}.calls", 0) < 1 and f"dead span {want}" not in problems:
                problems.append(f"dead span {want}")
        per_pass.append(m)
    keys = [f"queries.{mod}.{k}" for mod in QUERY_MODULES
            for k in ("plan_s", "exec_s", "jobs", "tasks", "shuffle_bytes")]
    keys += [f"{n}.{k}" for n in span_names if n != "io.load"
             for k in ("calls", "self_s", "jobs")]
    keys += ["streaming.op_jobs", "streaming.op_caller_group_jobs"]
    return {k: statistics.median(p.get(k, 0) for p in per_pass) for k in keys}, problems


UNITS = {"_s": "s", "_mb": "MB", "calls": "count", "jobs": "count",
         "tasks": "count", "bytes": "bytes", "rows": "count"}


def _unit(key: str) -> str:
    return next(u for suffix, u in UNITS.items() if key.endswith(suffix))


def _scan(spark, tables) -> tuple[float, int]:
    """io layer: load + noop write of each table read, rows via Observation."""
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    from agrobr_spark.io import load

    t0, rows = time.perf_counter(), 0
    for sf_dir, name in sorted(tables):
        obs = Observation(f"scan_{name}")
        load(spark, sf_dir, name).observe(obs, F.count(F.lit(1)).alias("n")) \
            .write.format("noop").mode("overwrite").save()
        rows += obs.get["n"]
    return time.perf_counter() - t0, rows


def main() -> int:
    # on SIGTERM, unwind through the finally below: stop Spark, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = _args()
    _require_checkout()
    work = ROOT / ".perfbench_work"
    data = work / f"data-sf{SF}"
    t, c = time.time(), procstat.tree_cpu_s()
    datagen.ensure(str(data), SF)
    datagen_s, datagen_cpu = time.time() - t, procstat.tree_cpu_s() - c

    tmp = work / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp / "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    tempfile.tempdir = str(tmp)
    os.chdir(tmp)
    sys.path.insert(0, str(ROOT))
    host = {"master": f"local[{CORES}]", "nproc": os.cpu_count(),
            "driver_mem": DRIVER_MEM, "sf": SF, "loadavg_start": procstat.loadavg()}
    steal0 = procstat.steal_s()
    spark = None
    try:
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            span_names = tracer.install()
        from agrobr_spark.queries import catalog, oracle_sql

        t, c = time.time(), procstat.tree_cpu_s()
        expected = _oracle_expected(str(data), oracle_sql(), WORKLOADS[args.workload])
        oracle_s, oracle_cpu = time.time() - t, procstat.tree_cpu_s() - c
        spark = _session(tmp, bool(args.trace))
        # the scheduler's job-id counter: every job submitted counts, also
        # the micro-batch jobs a stream runs under its own job group
        next_job_id = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
        if tracer:
            tracer.next_job_id = next_job_id
        t_session = time.time()

        ops = WORKLOADS[args.workload]
        rng = random.Random(args.seed)
        runner = Runner(spark, catalog(), str(data), tracer)

        def order():
            return rng.sample(ops, len(ops))

        t_warm = time.time()
        runner.check(expected, order())
        warm_passes = [time.time() - t_warm]
        for _ in range(WARM_PASSES[args.workload]):
            t = time.time()
            for name in order():
                runner.op(name)
            warm_passes.append(time.time() - t)
        warm_s = time.time() - t_warm
        # set-up cost in CPU seconds of the process tree, which host steal
        # stretches far less than wall time; the wall time goes to the
        # detail line
        setup_s = procstat.tree_cpu_s() - datagen_cpu - oracle_cpu
        setup_wall_s = time.time() - T_PROC - datagen_s - oracle_s

        passes, samples, cpus, jobs, traced_passes = [], [], [], [], []
        op_s: dict[str, list[float]] = {}
        untraced_walls, traced_walls = [], []
        peak_mb = 0.0
        t_end = time.time() + args.seconds
        while time.time() < t_end or len(passes) < MIN_PASSES:
            traced = bool(tracer) and len(passes) % 2 == 0
            if tracer:
                tracer.enabled = traced
            c0, w0, j0 = procstat.tree_cpu_s(), time.perf_counter(), next_job_id()
            pass_ops = []
            for name in order():
                wall, root = runner.op(name, traced)
                if wall is None:
                    continue
                samples.append(wall)
                op_s.setdefault(name, []).append(round(wall, 3))
                if traced:
                    group = (spark.sparkContext.statusTracker()
                             .getJobIdsForGroup(f"perfbench.{name}"))
                    caller = sum(root.job_start <= j < root.job_end for j in group)
                    pass_ops.append((root, caller))
            wall = time.perf_counter() - w0
            cpus.append(procstat.tree_cpu_s() - c0)
            jobs.append(next_job_id() - j0)
            peak_mb = max(peak_mb, procstat.tree_hwm_mb())
            passes.append(wall)
            (traced_walls if traced else untraced_walls).append(wall)
            if traced:
                traced_passes.append(pass_ops)
        if tracer:
            tracer.enabled = False
        host["steal_s"] = round(procstat.steal_s() - steal0, 2)
        host["loadavg_end"] = procstat.loadavg()

        attempted = runner.attempted
        failed = runner.failed
        detail = {
            "workload": args.workload, "seed": args.seed, "host": host,
            "datagen_s": round(datagen_s, 3), "oracle_s": round(oracle_s, 3),
            "setup_cpu_s": round(setup_s, 3), "setup_wall_s": round(setup_wall_s, 3),
            "warm_pass_s": [round(x, 3) for x in warm_passes],
            "pass_s": [round(x, 3) for x in passes],
            "pass_cpu_s": [round(x, 3) for x in cpus],
            "pass_jobs": jobs,
            "first_pass_ratio": round(passes[0] / statistics.median(passes), 3),
            "peak_rss_mb": round(peak_mb, 1),
            "op_samples": len(samples), "cold_op_s": runner.cold_s, "op_s": op_s,
            "failures": runner.failures,
        }
        if args.trace:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            layer, problems = _layer_metrics(spark, traced_passes, span_names,
                                             args.workload)
            detail["trace_problems"] = problems
            tables = {s.args for s in tracer.finished if s.name == "io.load"}
            scan_s, scan_rows = _scan(spark, tables)
            layer.update({
                "session.start_s": t_session - T_PROC - datagen_s - oracle_s,
                "session.warm_s": warm_s,
                "session.peak_rss_mb": peak_mb,
                "queries.pass_s": statistics.median(passes),
                "queries.cpu_s": statistics.median(cpus),
                "queries.op_p50_s": statistics.median(samples),
                "io.scan_s": scan_s, "io.scan_rows": scan_rows,
                "trace.pass_s": statistics.median(traced_walls),
                "trace.untraced_pass_s": statistics.median(untraced_walls),
            })
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "jobs": {"value": statistics.median(jobs), "unit": "count"},
                "ok_frac": {"value": (attempted - failed) / attempted, "unit": "ratio"},
            }
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(detail))
    if detail.get("trace_problems"):
        print("perfbench: traced run failed: " + "; ".join(detail["trace_problems"]),
              file=sys.stderr)
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
