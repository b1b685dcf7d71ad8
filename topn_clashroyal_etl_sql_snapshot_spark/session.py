"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the config
is chosen so the same code scales to a multi-executor cluster:

- AQE on (runtime coalesce, skew-join splitting) — the 100 TB safety net.
- ``spark.sql.shuffle.partitions`` sized for the local box; on a real
  cluster this is overridden (or left to AQE's coalescing).
- Arrow enabled so the few Pandas-UDF code paths (multimodal decode)
  batch-transfer instead of pickling rows.
- ICU case mapping off (``spark.sql.icu.caseMappings.enabled=false``), so
  every ``upper``/``lower`` takes Spark's ``UTF8_BINARY`` JVM path, as in
  Spark 3.x: an ASCII fast path, else ``String.toUpperCase()`` /
  ``toLowerCase()`` in the JVM's default locale. Under a Turkish or Azeri
  default locale that maps ``i``/``I`` to the dotted/dotless forms, so run
  the JVM in a neutral locale (``-Duser.language=en``) there. With ICU on
  (the 4.1 default), the first case mapping in a JVM runs
  ``CollationAwareUTF8String.<clinit>``, which calls ICU's
  ``toTitleCase`` on all 1,114,112 code points to build a table
  ``upper``/``lower`` never read. A cold refresh met it inside the
  scan → match-hash stage: 10.8% of executor samples in a JFR profile,
  and as a class initializer it holds every other task thread that
  reaches ``upper``. Measured on 4 vCPU with the perfbench input: that
  stage, run alone in a fresh JVM, went from 9.0–9.9 s to 6.3–7.5 s of
  task time (2.8–3.1 s → 2.2–2.5 s wall), and a cold
  ``snapshot_refresh`` op from 12.36 to 11.68 s median over ten
  alternating pairs. Warm sessions do not move.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "topn-clashroyal-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # wide-aggregate plans (64-column sketch/fingerprint sums) drop
        # out of whole-stage codegen at the default 100-field cap
        .config("spark.sql.codegen.maxFields", "300")
        # JVM case mapping for upper/lower: skips ICU's per-JVM title-case
        # table build, ~3 s of a cold refresh's task time (module notes)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def inherit_thread_target(spark: SparkSession):
    """Session-form ``inheritable_thread_target`` wrapper for worker
    pools that launch Spark jobs: pool threads do not inherit the
    calling thread's Spark local properties under pinned-thread mode,
    so without it a caller's job group / scheduler pool (and structured
    streaming's per-run cancellation group) would not reach jobs
    launched from these threads. The SESSION form also propagates
    session TAGS (``spark.addTag``, the newer cancellation surface) and
    does not warn per wrap. Under a non-pinned gateway the session form
    returns the session itself (there are no per-thread properties to
    clone there, JVM threads are shared), so fall back to identity.
    The properties are captured when this is called, not when the
    wrapped function runs."""
    from pyspark import inheritable_thread_target

    wrapper = inheritable_thread_target(spark)
    if not callable(wrapper) or wrapper is spark:
        return lambda fn: fn
    return wrapper


def run_concurrently(spark: SparkSession, thunks: Sequence[Callable]) -> list:
    """Run every thunk at once, one thread each, and return their results
    in order. Their Spark jobs then share the FIFO scheduler: one job's
    tasks fill the cores another's stage tail leaves idle, and their
    driver-side planning overlaps instead of adding up.

    Each thunk runs under the caller's Spark local properties and session
    tags (:func:`inherit_thread_target`, wrapped per thunk so each thread
    gets its own copy of the properties), so its jobs carry the caller's
    job group and are cancelled with it. Waits for EVERY thunk, also when
    one fails, then raises the first failure in submission order: no
    caller sees an error while a sibling job is still running."""
    if not thunks:
        return []
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit_thread_target(spark)(fn)) for fn in thunks]
    # leaving the block joined every thread, failed or not
    return [f.result() for f in futures]
