"""SparkSession factory tuned for the KG-construction workload.

Local mode is the sandbox stand-in for a multi-executor cluster; every knob
here is chosen to behave identically when lifted to ``spark-submit`` on a
real cluster (AQE on, Arrow on, explicit shuffle-partition count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap default: about half of physical RAM, capped at 64g.

    Local mode is driver-only, so this heap holds every executor thread's
    shuffle/sort buffers plus the cached stage tables; the other half stays
    free for the Python workers and the page cache."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(64, ram // 2 // 2**30))}g"


def get_spark(
    cores: int | None = None,
    app_name: str = "code_graph_rag_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to the
    core count: on a real cluster this would be ~2-3x total executor cores;
    locally matching cores avoids tiny-partition overhead at test scale.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # SIZE-first, not parallelism-first: with the default
        # parallelismFirst=true AQE refuses to coalesce below the core
        # count, so every tiny join-phase shuffle runs <cores> tasks and the
        # per-task fixed cost (~130-150 ms CPU: 4 MiB task-binary deser +
        # codegen dispatch, measured via event logs) scales WITH cores —
        # the r4 anti-scaling pathology (2,530 tasks / 685 s CPU / 98 s GC
        # at local[16] vs 862 / 167 s / 8 s at local[4] for the same 20k-doc
        # build). Size-first is also the 100 TB-correct rule: partition
        # count tracks bytes, never cluster width.
        # Advisory size tuned small (8m, not the 64m docs default): shuffle
        # sizes AQE sees are COMPRESSED bytes, so 64m collapsed the build's
        # real-work shuffles (~20 MB compressed for 932k edges) to ONE task
        # and serialized them (measured: the final dedup+phantom-drop action
        # went 6.9 s → 40 s at local[16]). 8m keeps genuine work at 3-10
        # tasks while still folding the dozens of trivial KB-sized
        # join-phase shuffles to a single cheap task.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_PFIRST", "false"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY", "8m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # sized from host RAM (16g OOM'd a 20k-doc build at 32 threads on a
        # 128 GiB box, where this default is the 64g cap)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # default page size derives from driver memory/cores and lands at
        # 64 MiB here — every BroadcastHashJoin build then allocates+zeroes
        # a 64 MiB page (measured: seconds per broadcast on this box, dozens
        # of broadcasts per pipeline). 4 MiB pages cost nothing at our row
        # widths and cut the per-join fixed cost ~10x.
        .config("spark.buffer.pageSize", "4m")
        # Long-lived sessions degrade: ContextCleaner frees shuffle files /
        # broadcast blocks / RDD registrations only when the JVM GCs their
        # weak references, and with a 64 GiB heap a full GC may not happen
        # for the default 30 MIN periodicGC interval — thousands of dead
        # shuffles accumulate and every job's bookkeeping slows down
        # (measured: the pytest session's later tests ran 3-5x slower than
        # isolated). BUT each forced System.gc() is a full STW collection
        # whose cost grows with live heap: at 32 threads on a 20k-doc build
        # they measured ~4 s EACH, and a 30 s interval turned a 56 s build
        # into 130 s — inverting the N-vs-4N scaling curve. 3 min keeps
        # cleanup continuous for long many-query sessions while a single
        # batch build sees at most one; the test suite additionally forces
        # a GC per module (conftest._drain_jvm_state).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "3min"),
        )
        # ParallelGC, not the JDK-17 default G1: event-log decomposition of
        # the SAME 20k-doc build on a quiet box measured G1 at local[16]
        # burning 7x the task CPU and 70x the GC time of local[4]
        # (719 s CPU / 186 s GC / 130 s wall vs 103 / 2.7 / 70) — G1's
        # concurrent refinement + region management collapses under 16
        # allocating threads on a 64 GiB heap here, and it INVERTED the
        # N-vs-4N scaling curve. Switching the collector alone: 130 s -> 51 s
        # wall at local[16] (GC 186 s -> 21 s), turning measured 4->16
        # speedup from 0.8x into ~1.7x. Throughput collectors are the right
        # default for a batch analytics driver; override via
        # SPARK_GRAFT_EXTRA_CONF if a latency collector is ever needed.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
    )
    # ops escape hatch: JSON dict of extra conf (e.g. GC flags via
    # spark.driver.extraJavaOptions) without touching call sites
    env_extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_extra:
        import json

        for k, v in json.loads(env_extra).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
