"""SparkSession factory with the configs this engine assumes.

Tuned for correctness-critical determinism plus the scale posture from
SURVEY.md §4: AQE on (skew joins, coalesced shuffle), Arrow on (every
row-level op here is a pandas UDF), and shuffle partitions sized for
the local harness (on a real cluster these come from spark-submit).

The session also keeps compiled code warm across jobs: a generated-class
cache large enough for a whole run's plans (so repeated plan shapes are
not recompiled and re-JITted), and, on local masters, Python workers
forked from ``worker_daemon``, which stops every task from re-reading
pyspark's zip archives.  ``SPARK_GRAFT_CPUS`` (an integer >= 1, or
``*`` for every core) and ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` are
validated when read (``config.env_int``).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

from .config import env_int

#: ``spark.sql.codegen.cache.maxEntries`` (Spark's default is 100).
#: Measured with CodegenMetrics on local[4], one process running a
#: perfbench workload's set-up and two timed iterations: the
#: checkpointed transform needs 137 distinct generated classes and the
#: curation chain 260; with the default cache Spark compiled 475 and
#: 742, so 71% and 65% were recompiles of evicted classes (~180 Janino
#: compiles per repeated iteration, each class then re-JITted from the
#: interpreter up).  1000 is ~4x the larger working set; Metaspace at
#: the end of a curation run was 168 MB with either cache size.
#: It pays only where plan shapes repeat in one session: a single cold
#: job compiled the same ~122 (fresh transform) and ~190 (curation)
#: classes with either size, while a restart in the fresh run's
#: session compiled 85-99 with the default and 2-13 with this one.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = 'markdown-articles-tool-spark',
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get('SPARK_GRAFT_MASTER')
    if not master:
        cpus = '*' if os.environ.get('SPARK_GRAFT_CPUS') == '*' else env_int('SPARK_GRAFT_CPUS', 32)
        master = f'local[{cpus}]'
    if shuffle_partitions is None:
        shuffle_partitions = env_int('SPARK_GRAFT_SHUFFLE_PARTITIONS', 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
        .config('spark.sql.adaptive.enabled', 'false' if os.environ.get('SPARK_GRAFT_AQE') == '0' else 'true')
        .config('spark.sql.adaptive.skewJoin.enabled', 'true')
        .config('spark.sql.adaptive.coalescePartitions.enabled', 'true')
        # AQE coalesces by shuffle-read BYTES; several of our stages are
        # compute-heavy on byte-narrow input (pandas-UDF extraction,
        # fetch fan-out, rewrite), so the 1MB default floor starves them
        # of parallelism on small-to-mid corpora
        .config('spark.sql.adaptive.coalescePartitions.minPartitionSize', '64k')
        # advisory stays at Spark's 64MB default: an 8MB A/B on the
        # 8-core corpus transform LOST 40% (21.0s vs 12.5s) — finer
        # post-shuffle partitions pay more in pandas-UDF batch setup
        # and scheduling than they win back in tail smoothing, same
        # verdict as the shuffle-mult and input-file-count A/Bs
        .config(
            'spark.sql.adaptive.advisoryPartitionSizeInBytes',
            os.environ.get('SPARK_GRAFT_AQE_ADVISORY', '64m'),
        )
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        # 20k-row Arrow batches: measured A/B on the 32-core corpus
        # transform — 10k: 7.80s, 20k: 7.20s (+8%), 40k: 7.44s,
        # 80k: 7.55s; bigger batches amortize per-batch UDF setup +
        # Arrow transfer until batch-tail skew wins
        .config(
            'spark.sql.execution.arrow.maxRecordsPerBatch',
            os.environ.get('SPARK_GRAFT_ARROW_BATCH', '20000'),
        )
        # keep the broadcast threshold at Spark's default 10MB: the
        # pipeline carries binary image content in several tables and an
        # over-eager broadcast of one of those kills the driver
        .config('spark.sql.autoBroadcastJoinThreshold', str(10 * 1024 * 1024))
        .config('spark.driver.memory', os.environ.get('SPARK_GRAFT_DRIVER_MEM', '16g'))
        # throughput collector: G1's concurrent phases compete with task
        # threads for cores on small executors (measured 25s → 14s on
        # the 8-core corpus transform); batch pipelines want ParallelGC
        .config(
            'spark.driver.extraJavaOptions',
            os.environ.get('SPARK_GRAFT_JAVA_OPTS', '-XX:+UseParallelGC'),
        )
        # same collector on real executors (driver==executor in local mode)
        .config(
            'spark.executor.extraJavaOptions',
            os.environ.get('SPARK_GRAFT_JAVA_OPTS', '-XX:+UseParallelGC'),
        )
        .config('spark.ui.enabled', 'false')
        # image bytes are high-entropy (already-compressed formats):
        # columnar-cache compression burns CPU for ~no size win
        .config(
            'spark.sql.inMemoryColumnarStorage.compressed',
            os.environ.get('SPARK_GRAFT_CACHE_COMPRESS', 'false'),
        )
        .config('spark.sql.session.timeZone', 'UTC')
        .config('spark.sql.codegen.cache.maxEntries', str(CODEGEN_CACHE_ENTRIES))
    )
    if master.startswith('local'):
        # Python workers run on this host: fork them from a daemon that
        # skips re-reading unchanged import archives before every task
        # (see worker_daemon), with this package on their path wherever
        # the driver was started.  A cluster's executors see the
        # package only once a task has unpacked its --py-files, after
        # the daemon starts, so they keep pyspark's own daemon.
        builder = builder.config('spark.python.daemon.module', f'{__package__}.worker_daemon').config(
            'spark.executorEnv.PYTHONPATH', str(Path(__file__).resolve().parent.parent))
    return builder.getOrCreate()
