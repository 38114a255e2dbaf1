"""SparkSession construction with scale-oriented defaults.

One place to set every knob so tests, bench and the pipeline run the same
configuration.  Defaults target the sandbox (single JVM, local[k]); on a
real cluster the same settings apply per-executor and the master URL comes
from spark-submit.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _phys_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def _default_driver_mem() -> str:
    """Half of physical RAM, in MB.

    In local[k] mode the driver JVM is also the executor, so it gets the
    larger share; the other half stays for the Python UDF workers, shuffle
    and spill files (tmpfs under /dev/shm) and the OS.
    """
    return f"{_phys_mb() // 2}m"


def _local_cluster_mem(executors: int, executor_mem_mb: int | None) -> tuple[int, int]:
    """(worker budget, executor heap) in MB for local-cluster mode.

    The budget defaults to an equal share of physical RAM, capped at 20 GB;
    the heap leaves a quarter of it, at most 2 GB, as off-heap headroom.
    """
    budget = executor_mem_mb or min(20480, _phys_mb() // executors)
    return budget, budget - min(2048, budget // 4)


def get_spark(
    parallelism: int | None = None,
    app_name: str = "wikdict_gen_spark",
    shuffle_partitions: int | None = None,
    executors: int | None = None,
    executor_cores: int = 2,
    executor_mem_mb: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local core count; default $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to the core count — at sandbox data sizes
    more partitions only add scheduling overhead; at cluster scale this is
    overridden to O(total cores).
    executors: when set, use `local-cluster[N,C,M]` instead of `local[k]` —
    N separate executor JVMs with their own heaps and GCs, the faithful
    sandbox emulation of an N-executor cluster (used by the scaling bench;
    on a real cluster spark-submit provides the master instead).
    executor_mem_mb: each executor's worker budget in local-cluster mode;
    defaults to an equal share of physical RAM (at most 20480).
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = f"local[{cpus}]"
    if executors is not None:
        cpus = executors * executor_cores
        worker_mb, executor_heap_mb = _local_cluster_mem(executors, executor_mem_mb)
        master = f"local-cluster[{executors},{executor_cores},{worker_mb}]"
    shuffle = shuffle_partitions or cpus
    # shuffle spill to RAM-backed storage when available: the sandbox has
    # 125G RAM and small shuffles; on a cluster spark.local.dir comes from
    # the cluster manager and this default is irrelevant
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    # SPARK_GRAFT_GC_OPTS appends collector/heap flags to driver and
    # executor JVMs alike; the JIT/code-cache flags are unconditional (they
    # fix a measured late-run cliff, see below).  THP is opt-in here and
    # needs a pre-touched heap with it (-XX:+UseTransparentHugePages
    # -Xms<n> -XX:+AlwaysPreTouch, n below the heap): THP alone moves the
    # 2M-page faults into short queries (measured headline 14s -> 26s at
    # local[32]).
    gc_opts = os.environ.get("SPARK_GRAFT_GC_OPTS", "")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting
        .config("spark.sql.adaptive.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.enabled",
            os.environ.get("SPARK_GRAFT_AQE_COALESCE", "true"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # sandbox intermediates are hundreds of MB: the 64m default lets AQE
        # coalesce exchanges to a handful of partitions, and that coarse
        # layout freezes into the stage checkpoints, capping downstream
        # parallelism (observed: 4-task aggregation stages straggling).
        # At cluster scale override via env to 64m+.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "8m"),
        )
        # lz4 on serialized cached blocks (the localCheckpoint storage):
        # multi-consumer re-scans of checkpointed stages are memory-
        # bandwidth traffic on a single box, and compressed blocks trade
        # cheap lz4 CPU for 2-4x less of it (A/B-able via env)
        .config(
            "spark.rdd.compress",
            os.environ.get("SPARK_GRAFT_RDD_COMPRESS", "false"),
        )
        # shuffle/broadcast/checkpoint block codec: lz4 (default) vs zstd —
        # on a single box every shuffle byte is memory-subsystem traffic
        # (spark.local.dir is tmpfs), so a denser codec trades CPU for the
        # scarcer resource; A/B-able via env for the scaling bench
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        # Arrow is the transport for every pandas UDF in the engine
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # deterministic sessions: no timezone surprises in timestamp columns
        .config("spark.sql.session.timeZone", "UTC")
        # long pipelines: reclaim broadcast/shuffle state promptly
        .config("spark.cleaner.periodicGC.interval", "2min")
        # single-host sandbox: a "remote" block fetch between executor
        # processes is a loopback copy, so the 3s default process-local
        # wait mostly stalls (measured ~10s/stage on stages reading another
        # executor's checkpoint blocks), while 0 overshoots into pure
        # remote-fetch churn; 500ms measured best.  On a real cluster with
        # rack topology, override via env.
        .config("spark.locality.wait",
                os.environ.get("SPARK_GRAFT_LOCALITY_WAIT", "500ms"))
        # many-stage pipelines generate hundreds of codegen classes; the
        # default 240m code cache fills and the JIT stops compiling, which
        # silently triples stage times late in a run.  GC stays at the JVM
        # default (G1) but is a knob (SPARK_GRAFT_GC_OPTS): measured this
        # round, ParallelGC is ~30% faster on an isolated explode->
        # serialized-checkpoint trunk materialization (records, GC-bound:
        # 210s of 799s task time under G1) yet a wash on the full fused
        # pipeline and ~10% SLOWER on the sf1.0-scale headline suite
        # (q_token_index 7.1s vs 5.0s, q_topk_mean_norm 4.9 vs 4.2 —
        # old-gen churn from wide aggregations suits G1's regioned heap);
        # G1 is the right default, the knob records the trade.
        .config(
            "spark.driver.extraJavaOptions",
            ("-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
             + gc_opts).strip(),
        )
        # same JIT/GC regime in separate executor JVMs (local-cluster mode;
        # no-op under local[k] where driver == executor)
        .config(
            "spark.executor.extraJavaOptions",
            ("-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
             + gc_opts).strip(),
        )
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local corpora are few big files; small split size keeps scans wide
        # (on a real cluster the default 128m is right — override via env)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)),
        )
    )
    if executors is not None:
        # local-cluster's [N,C,M] memory number only sizes the WORKER's
        # allocation budget; the executor JVM heap itself comes from
        # spark.executor.memory (default 1g — far too small for serialized
        # checkpoint blocks).  Under local[k] the driver heap is the executor's.
        builder = builder.config("spark.executor.memory", f"{executor_heap_mb}m")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if executors is not None:
        # executor JVMs spawn their own python workers, which do not
        # inherit the driver's sys.path — ship the package the same way
        # spark-submit --py-files does (north_rule: run via --py-files)
        spark.sparkContext.addPyFile(_package_zip())
    return spark


def _package_zip() -> str:
    """Zip wikdict_gen_spark for addPyFile (the --py-files payload).

    Written to a unique temp name and os.replace()d into place: two
    concurrent local-cluster sessions on one host would otherwise race on
    a fixed path — one truncating the zip while the other's executors
    fetch it.  The rename is atomic, so every fetch sees a complete zip.
    """
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    out = Path(tempfile.gettempdir()) / "wikdict_gen_spark_pyfiles.zip"
    fd, tmp = tempfile.mkstemp(
        suffix=".zip", prefix="wikdict_gen_spark_pyfiles.", dir=out.parent
    )
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, f"wikdict_gen_spark/{p.relative_to(pkg_dir)}")
    os.replace(tmp, out)
    return str(out)


def stop_spark() -> None:
    """Stop the active session (needed to switch local[k] parallelism)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
