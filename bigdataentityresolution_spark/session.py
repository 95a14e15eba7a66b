"""SparkSession factory with scale-aware defaults.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same builder
config is what we'd ship to a 1000-executor cluster via
``spark-submit --py-files`` (only master/memory change).

Design choices for 100 TB scale (SURVEY.md §4.2):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- Arrow on: every pandas UDF exchange is columnar, zero per-row Python.
- shuffle partitions sized to cores locally; on a real cluster this is
  set to ~2-3x total executor cores (or left to AQE's coalescing with a
  high initial partition number).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Generated classes Spark keeps compiled per JVM (see get_spark).
CODEGEN_CACHE_ENTRIES = 1100


def _mem_total_gb() -> int:
    """Host MemTotal in GiB (0 if unreadable)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return 0


def _default_driver_mem() -> str:
    """Default heap: min(48g, ~40% of detected RAM) — the heap is pinned
    (-Xms=-Xmx + AlwaysPreTouch, see below), so an unconditional 48g
    commits 48 GB at JVM startup and OOMs any host under ~50 GB RAM
    (ADVICE.md r1). Floor of 2g keeps tiny hosts usable."""
    total = _mem_total_gb()
    if total <= 0:
        return "8g"
    return f"{max(2, min(48, int(total * 0.4)))}g"


def _default_local_dir(heap_gb: int) -> str:
    """Shuffle/spill scratch space. A single local disk is NOT the system
    under test (a real cluster shuffles over many disks + network with
    bandwidth proportional to executors), so prefer tmpfs when the host
    has the RAM for it — measured: shuffle I/O on /tmp serialized the
    32-thread ER bench (~1.5x slower end-to-end than tmpfs). tmpfs is
    only chosen when its free space comfortably exceeds the pinned heap
    + expected spill (2x heap); large spills on a tight tmpfs die with
    ENOSPC where /tmp would survive (ADVICE.md r1)."""
    shm = "/dev/shm/spark-local"
    try:
        free_gb = os.statvfs("/dev/shm").f_bavail * os.statvfs("/dev/shm").f_frsize // (1 << 30)
        if free_gb >= 2 * heap_gb:
            os.makedirs(shm, exist_ok=True)
            return shm
    except OSError:
        pass
    return "/tmp"


def _jvm_opts(driver_mem: str) -> str:
    """JVM flags derived from the heap size (see comment block below)."""
    opts = ["-XX:+UseParallelGC", f"-Xms{driver_mem}", "-XX:+AlwaysPreTouch"]
    m = re.fullmatch(r"(\d+)g", driver_mem.strip().lower())
    if m:
        gb = int(m.group(1))
        if gb >= 4:
            opts.append(f"-Xmn{gb // 2}g")
    # When the process tree is cpuset-confined (taskset / container), the
    # JVM still sizes ParallelGC worker threads from the MACHINE's core
    # count — 32 GC threads thrashing a 2-cpu cpuset is pathological. A
    # real N-core executor container gets this right via cgroup
    # awareness; scaling_bench.py sets it explicitly for pinned runs.
    gc_threads = os.environ.get("SPARK_GRAFT_GC_THREADS")
    if gc_threads:
        opts.append(f"-XX:ParallelGCThreads={gc_threads}")
    return " ".join(opts)


def _executor_jvm_opts() -> str:
    """Executor JVM flags (separate executor processes: local-cluster /
    standalone / YARN / K8s; ignored by local[N] where tasks run in the
    driver JVM). SPARK_GRAFT_EXEC_GC_THREADS caps GC workers to the
    executor's core budget for cpuset-confined scaling runs.

    The heap gets the SAME treatment the driver earned in r1 (see the
    comment block in get_spark): -Xms pinned to -Xmx, pre-touched pages,
    and a young gen of ~half the heap. Measured on the multi-executor
    scaling leg (8×8g executors, 384k-file corpus): default lazy-grow
    executor heaps spent 606 s in GC out of 2071 task-CPU-s (29%, one
    explode-heavy stage alone burned 264 s); pinned+pre-touched heaps
    with a large young gen removed it, exactly as on the driver. Spark
    owns -Xmx (spark.executor.memory) — we align -Xms/-Xmn to it via
    SPARK_GRAFT_EXECUTOR_MEM."""
    opts = ["-XX:+UseParallelGC"]
    mem = (os.environ.get("SPARK_GRAFT_EXECUTOR_MEM") or "").strip().lower()
    m = re.fullmatch(r"(\d+)([gm])", mem)
    if m:
        mb = int(m.group(1)) * (1024 if m.group(2) == "g" else 1)
        if mb >= 2048:
            opts += [f"-Xms{mb}m", "-XX:+AlwaysPreTouch", f"-Xmn{mb // 2}m"]
    gc_threads = os.environ.get("SPARK_GRAFT_EXEC_GC_THREADS")
    if gc_threads:
        opts.append(f"-XX:ParallelGCThreads={gc_threads}")
    return " ".join(opts)


def get_spark(
    app_name: str = "bigdataentityresolution_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession used across the engine and tests."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # On a real cluster shuffle.partitions is a JOB constant (sized to
        # the data), not a function of cluster size — scaling runs pin it
        # via SPARK_GRAFT_SHUFFLE so both parallelism levels execute the
        # identical physical plan and only concurrency differs.
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE")
        shuffle_partitions = int(env_sp) if env_sp else max(cpus, 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    m = re.fullmatch(r"(\d+)g", driver_mem.strip().lower())
    heap_gb = int(m.group(1)) if m else 8
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR") or _default_local_dir(heap_gb)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # FAIR task scheduling between job pools: the ER pipeline submits
        # independent stage groups as concurrent jobs from separate
        # threads (plans/pipeline.py), each tagged with its own pool.
        # Under default FIFO a short job (train featurization + fit)
        # queues behind every wave of a long one (candidate generation)
        # — measured in executors mode: the fit waited ~17 s for task
        # slots while its input was long since materialized. Between-pool
        # FAIR gives each group a share of slots immediately.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache sized to the pipeline's plan set (measured
        # on std_ckpt's 1,201-file corpus, local[4] on 4 vCPUs): one cold
        # pipeline run generates 267 distinct classes, and Spark's default
        # cache keeps 100, so the cold run compiled 309 and every resumed
        # rep in the same JVM recompiled 173-174 with Janino, which C2
        # then JIT-compiled again. At CODEGEN_CACHE_ENTRIES (4x a run's
        # class set, so other configs in the same JVM fit too) a resumed
        # rep compiles 0 and its cpu_s median falls 22.1 -> 18.1 s. Cost:
        # a generated class is 2.5-2.8 KB of bytecode; metaspace read
        # 170-176 MB after resumed reps before, 169-172 MB after. A static
        # conf: the JVM's first session fixes it.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Throughput GC + pinned, pre-touched heap + large young gen.
        # Three measured pathologies on the way to linear 8→32-thread
        # scaling (all verified with -Xlog:gc on the ER bench):
        # (1) G1's pause-time heuristics collapse under the allocation
        #     churn of wide explodes + interpreted higher-order functions
        #     at high task parallelism (the minhash scan ran 5-10x slower
        #     and ANTI-scaled 8→32 threads under G1; ParallelGC made it
        #     flat-fast).
        # (2) default -Xms is tiny: a fresh JVM grows the heap under load
        #     with multi-second "Allocation Failure" pauses and ergonomic
        #     Full GCs at every growth step → -Xms = -Xmx.
        # (3) lazily-faulted heap pages on a virtualized host turned one
        #     full GC into a 30 s page-fault storm (89 s GC in a 219 s
        #     run) → +AlwaysPreTouch pays that cost once at JVM startup;
        #     a young gen of ~half the heap keeps shuffle/explode churn
        #     from ever promoting (measured: total GC 89.3 s → 2.5 s).
        # Batch engines want throughput collection, not low pause times.
        .config("spark.driver.extraJavaOptions", _jvm_opts(driver_mem))
        .config("spark.executor.extraJavaOptions", _executor_jvm_opts())
        .config("spark.local.dir", local_dir)
        # local mode: the "driver" is the whole machine; the 1g default
        # result cap kills legitimate checkpoint/broadcast materializations
        .config("spark.driver.maxResultSize", "8g")
    )
    # Separate-executor deployments (local-cluster / standalone): size the
    # executor heap explicitly; local[N] ignores it.
    exec_mem = os.environ.get("SPARK_GRAFT_EXECUTOR_MEM")
    if exec_mem:
        builder = builder.config("spark.executor.memory", exec_mem)
    # Profiling hook: SPARK_GRAFT_EVENTLOG=<dir> turns on rolling event
    # logs (the input to scripts that decompose wall time into per-stage
    # CPU / concurrency timelines — how the scaling floor was measured).
    eventlog_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", eventlog_dir)
            .config("spark.eventLog.rolling.enabled", "true")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
