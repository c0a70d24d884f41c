"""SparkSession factory with the scale-oriented defaults the pipeline
assumes everywhere: AQE (partition coalescing + skew-join splitting),
Arrow-batched pandas UDFs, and a shuffle-partition count sized to the
parallelism level.

In production this job is submitted with ``spark-submit --py-files`` to a
multi-executor cluster; in the sandbox we evidence N→4N scaling with
``local[8]`` vs ``local[32]`` (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _host_mem_gib() -> float:
    """Total host memory in GiB (0.0 if undetectable)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / (1024.0 * 1024.0)
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


def build_session(
    app_name: str = "gleaner-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = None
    if cores is not None:
        master = f"local[{cores}]" if str(cores).isdigit() or cores == "*" else str(cores)

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)

    if shuffle_partitions is None:
        shuffle_partitions = 32

    conf = {
        # AQE: runtime re-planning — partition coalescing keeps small-SF
        # runs snappy, skew-join splitting is the mega-domain guard at scale
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Decouple shuffle WIDTH from parallelism: every AQE shuffle
        # starts at 512 partitions and coalesces down by size, so a wide
        # shuffle (materialize's 51M-row dedup at 960k pages would be
        # ~2 GB per partition at cores*3 partitions) never outgrows task
        # memory, while small-SF shuffles still coalesce to a handful of
        # tasks.  Without this, initialPartitionNum defaults to
        # shuffle.partitions.  (The round-5 materialize cliff itself was
        # the sameAs rewrite join strategy, fixed in operators/link.py —
        # this knob is the orthogonal spill guard.)  On a real cluster
        # this is the same knob you'd raise — shuffle partition count
        # must track data volume, not executor count.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            max(int(shuffle_partitions), 512)
        ),
        # Rejected: a ``spark.python.daemon.module`` that imports pandas,
        # pyarrow and gleaner_spark.core before handing off to
        # pyspark.daemon, so forked workers start with them loaded — a
        # 200-page first harvest call went 26.0 → 29.4 s and 71 → 78
        # core-s (median of 3 same-host pairs, 4 cpus).
        # Arrow transfer for pandas UDFs (the extract/normalize/mill hot path)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # 16 MiB input splits: the pipeline's scans feed pandas-UDF stages
        # whose per-byte compute dwarfs scan cost — at the parquet default
        # (128 MiB) a 500 MB docs table becomes 4 tasks and the mill UDF
        # runs on 4 of N cores.  Small splits cost nothing here and keep
        # UDF stages saturated at any executor count.
        "spark.sql.files.maxPartitionBytes": "16777216",
        # broadcast threshold: the sources dim / sameAs maps at test scale
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
    }
    # local mode: the driver heap IS the executor heap for all N task
    # threads.  Fixed-size + pre-touched + capped GC threads — a
    # lazily-grown 48g G1 heap measured 2.2× core-seconds inflation at
    # high thread counts (heap resize/uncommit churn + GC threads
    # scaling with cpus): 120k-page pipeline 86s → 46s at local[16]
    # with these settings.  Gated on host memory: a fixed pre-touched
    # 20g heap would fail-to-start / OOM every consumer on a <32 GB
    # laptop, so smaller hosts get a lazy 8g heap instead.  Local-mode
    # tuning only; under spark-submit the submitted executor conf wins.
    if _host_mem_gib() >= 32.0:
        conf["spark.driver.memory"] = "20g"
        conf["spark.driver.extraJavaOptions"] = (
            "-Xms20g -XX:+AlwaysPreTouch"
            " -XX:ParallelGCThreads=8 -XX:ConcGCThreads=2"
        )
    else:
        conf["spark.driver.memory"] = "8g"
        conf["spark.driver.extraJavaOptions"] = (
            "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2"
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
