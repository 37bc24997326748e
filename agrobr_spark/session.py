"""SparkSession factory tuned for the engine.

The reference is a single-process pandas library (no session concept);
this factory is the Spark-native foundation every stage builds on.
Scale posture (100 TB / 1000-executor design, tested on local[N]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic broadcast decisions replace the reference's hand-tuned
  chunking (ref: agrobr/cache/duckdb_store.py:79 fixed 5000-row chunks).
- Arrow on: every pandas/Spark boundary (Pandas UDFs, toPandas) is
  vectorized batch transfer, not row pickling.
- shuffle.partitions defaults sized for local test runs; on a real
  cluster AQE coalesces from a high initial number, so we only pin a
  small value when running local.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "agrobr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``) so tests and bench share one code path; on a cluster,
    leave ``master`` unset and let spark-submit inject it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # pt-BR parsing follows the reference's errors="coerce" semantics
        # (invalid input -> NULL, e.g. agrobr/ibge/api.py:148); sessions we
        # own therefore run non-ANSI. Catalog queries still use try_* forms
        # so they behave identically under a driver-owned ANSI session.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master is None and not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # local mode: driver JVM hosts all executor threads — the 1g
        # default heap causes GC stalls on wide shuffles. Applies only
        # when this factory creates the JVM (ignored on getOrCreate
        # reuse, harmless on a cluster where spark-submit sets it).
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    if shuffle_partitions is None:
        # local mode: match core count; cluster mode: start high, AQE coalesces
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_concurrently(spark, *thunks) -> list:
    """Run each thunk on its own worker thread and return their
    results in submission order (guide §2.6 overlap independent jobs:
    independent actions are only sequential because driver code calls
    them sequentially). Every site that overlaps Spark actions goes
    through here, so the policy cannot drift:

    - each thunk is wrapped by its own ``inheritable_thread_target(
      spark)`` (a copy of the caller's local properties), so its jobs
      carry the caller's job group and description;
    - non-pinned-thread mode (r13 ADVICE): under ``PYSPARK_PIN_THREAD=
      false`` pyspark's non-pinned branch returns the session argument
      UNCHANGED, so the curried call would raise ``TypeError:
      'SparkSession' object is not callable``; there the raw thunk
      runs. py4j does not pin Python threads to JVM threads in that
      mode, so no wrapper can carry the job group: a worker's jobs
      may land outside it;
    - every thunk is joined before anything is raised, then the first
      failure in submission order is re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def target(fn):
        wrapped = inheritable_thread_target(spark)
        return wrapped(fn) if callable(wrapped) else fn

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(target(t)) for t in thunks]
    return [f.result() for f in futs]
