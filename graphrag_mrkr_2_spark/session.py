"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live for the sessions this package
creates: tests, bench.py, perfbench and the scripts under scripts/. Designed for
a multi-executor cluster; run as local[N] it takes the same code path (only
master/partition counts change).

spark-submit jobs do not get all of these settings. ``scripts/submit_job.py``
does not call ``get_spark`` (its master would override spark-submit's
``--master``) and sets only the case-mapping option below, so its other
settings are Spark's defaults: 200 shuffle partitions (not the CPU count),
10000 rows per Arrow batch (not 2048), the JVM's time zone (not UTC) and
Arrow off for ``toPandas``/``createDataFrame``. Pass ``--conf`` flags to
spark-submit to match these sessions, and ``--conf spark.checkpoint.dir=…``
(a directory every executor can reach) to make every stage pin (``pin``)
a reliable checkpoint.

Case mapping. Every canonical key of the KG build is a case mapping: the
entity id is ``md5(lower(name))[:16]`` and the merge key is
``upper(trim(name))``. Spark 4 maps case through ICU by default
(``spark.sql.icu.caseMappings.enabled=true``), and the first ``lower`` or
``upper`` in each JVM runs the static initializer of
``CollationAwareUTF8String``, which loads ICU's case-mapping and
break-iterator data. On a 4-core box that first call over 20k rows took
1.85-2.19 s in a fresh ``local[4]`` session against 0.45-0.48 s on the JVM
path, and ICU frames were 13% of the CPU samples of a cold
``mentions_graph`` build; warm, the two paths cost the same.
``get_spark`` sets ``spark.sql.icu.caseMappings.enabled=false``, so
``lower``/``upper`` take ``UTF8String``'s ASCII fast path or
``String.toLowerCase``/``toUpperCase``.

On an ``en`` JVM both paths and Python's ``str.lower``/``str.upper`` agree on
``İstanbul``, ``Iñigo``, ``ΟΔΟΣ``, ``Straße`` and ``ǅemal``. Two limits:

- Keys depend on the JVM's default locale, on either path: under a Turkish
  or Azerbaijani locale ``Iñigo`` lowers to ``ıñigo`` with ICU on and off,
  and Lithuanian tailors ``Ì`` the same way on both. Executors are assumed
  to run under one locale.
- The JVM path uses the JDK's Unicode tables (Unicode 13 on Java 17; ICU 77
  has Unicode 16). Letters given case pairs since then, such as ``Ⱟ``
  (U+2C2F) and ``Ꟁ`` (U+A7C0), are left as they are, so their ids differ
  from ``normalize.entity_id`` on Python 3.11 (Unicode 14). This is accepted
  for the cold-start saving and pinned by
  ``tests/test_canonicalize.py::test_unicode_keys_match_python_case_mapping``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "graphrag-mrkr-2-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting — core of the
        # skew story at web scale (SURVEY §4)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transport for every pandas UDF / mapInPandas stage
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # big HTML blobs: keep scan partitions bounded
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # JVM case mapping, not ICU: skips ICU's one-time init (module docstring)
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and cut its lineage: every stage pin of the
    package goes through here.

    A pinned table is one whose plan would otherwise run more than once,
    because two consumers read it (a self-join's two sides) or because a
    loop's convergence check is an action. The mode is the deployment's,
    read from the session's SparkContext, so there is no option to pass:

    - A checkpoint directory is set (``--conf spark.checkpoint.dir=…`` or
      ``SparkContext.setCheckpointDir``): ``checkpoint(eager=True)``. The
      rows are written to files under that directory, so a task that reads
      them after an executor is lost re-reads the files instead of failing
      the job. Spark keeps the files after the job; set
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` to delete
      each one once its DataFrame is garbage-collected, or clear the
      directory between jobs.
    - No directory (the default; ``get_spark`` sets none):
      ``localCheckpoint(eager=True)``, blocks in executor storage and no
      files, but lineage-free: if an executor that holds a block is lost,
      the block cannot be recomputed and the job fails. Fit for
      ``local[N]``, where losing an executor loses the job anyway.

    Both run ``df``'s plan once, one task per partition, and an
    ``Observation`` on ``df`` reports its metrics after the pin returns.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
