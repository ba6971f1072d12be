"""SparkSession construction.

One place for every config knob so tests, bench, and the entry point agree.
Defaults are sized for the sandbox (local[N], single JVM) but chosen to be
the same settings we would ship to a 1000-executor cluster: AQE on
(runtime re-planning + skew-join splitting) for queries, Arrow on (every
pandas UDF crosses the JVM/Python boundary in columnar batches), shuffle
partitions matched to parallelism instead of the legacy 200. The crawl
loop (plans/crawl.py ``CrawlEngine.run``) turns AQE off for its own
duration and sizes each wave's width itself, then restores both.

Timezone is Asia/Shanghai because the reference stores naive local
datetimes (/root/reference/xizang/spiders/bid_info.py:18 uses
datetime.now() in CST context); pinning the session TZ makes timestamp
semantics deterministic across machines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Generated-class cache (spark.sql.codegen.cache.maxEntries: a static
# conf, one LRU per JVM; Spark's default is 100). A working set larger
# than the cache thrashes it and every unit of work recompiles. Measured
# on a 4-CPU host, local[4], with perfbench's workloads (Janino compiles
# from CodegenMetrics; crawl: warm crawl_polite waves, corpus: warm
# passes of the 16 headline queries):
#   entries      100      200   400    1000   2000
#   crawl/wave   124-133  30    30     26-32  30
#   corpus/pass  372      296   10-12  6-14   6
# 400 is the smallest size on the plateau for both. (Crawl figures with
# AQE on in the wave; planned statically, a warm wave compiles 8 at 400.)
CODEGEN_CACHE_ENTRIES = 400


def _scratch_local_dir() -> str | None:
    """Spark scratch (shuffle files, spills) directory.

    Default /tmp sits on the box's one shared disk, so neighbor-tenant
    I/O bleeds into every shuffle — measured as a shuffle-stage speedup
    collapse (3.6x -> 1.5x at 2->8 cores) during loaded epochs while map
    stages held their ratio. A production executor shuffles to its OWN
    local disks; tmpfs is the closest sandbox analog and removes the
    shared-resource artifact from measurements. Sizing: the largest
    bench shuffle is ~0.8 GB vs 126 GB of /dev/shm. Override with
    SPARK_GRAFT_LOCAL_DIR; any failure falls back to Spark's default.
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        try:
            os.makedirs(override, exist_ok=True)
            if os.access(override, os.W_OK):
                return override
        except OSError:
            pass
        return None
    base = "/dev/shm"
    if not (os.path.isdir(base) and os.access(base, os.W_OK)):
        return None
    root = os.path.join(base, "spark_graft_local")
    # one subdir per driver PID: the sweep can then key reclamation on
    # process LIVENESS instead of mtime (a >6h-old but still-running
    # session's blockmgr dirs must never be swept out from under it —
    # dir mtimes go stale while the JVM is appending to shuffle files)
    d = os.path.join(root, f"pid{os.getpid()}")
    try:
        os.makedirs(d, exist_ok=True)
        _sweep_stale_scratch(root)
        return d
    except OSError:
        return None


def _proc_start_time(pid: str) -> tuple[float, str] | None:
    """(start_epoch_sec, state) for a live process, or None if the
    process is gone/unreadable. The TRUE start time comes from
    /proc/<pid>/stat field 22 (starttime, clock ticks since boot) plus
    the boot epoch (/proc/stat btime) — NOT from /proc/<pid> mtime,
    which on current kernels is the procfs dentry-INSTANTIATION time: it
    reads as "first time anyone stat'ed this entry" and resets on
    dentry-cache eviction, so it can postdate a dir created by the live
    owner (measured on this box: a fresh stat after drop_caches returns
    now). Using it as a start-time proxy inverted the sweep's safety
    property. comm (field 2) may contain spaces/parens — fields are
    counted after the LAST ')'."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read().decode("ascii", "replace")
        rest = data[data.rindex(")") + 2:].split()
        state = rest[0]  # field 3
        start_ticks = int(rest[19])  # field 22
        with open("/proc/stat") as f:
            btime = next(
                int(line.split()[1]) for line in f if line.startswith("btime ")
            )
        return btime + start_ticks / os.sysconf("SC_CLK_TCK"), state
    except (OSError, ValueError, IndexError, StopIteration):
        return None


def _sweep_stale_scratch(root: str, max_age_sec: int = 24 * 3600) -> None:
    """Best-effort reclamation of scratch left by killed JVMs (Spark
    deletes its blockmgr-*/spark-* dirs via shutdown hook, which SIGKILL
    skips — on tmpfs a leak is RAM). A `pid<N>` entry is removed iff
    process N is gone OR the dir predates process N's start (the PID was
    recycled by an unrelated process — without the start-time check a
    recycled PID would pin the dead session's tmpfs forever); anything
    else (legacy layouts) only after max_age_sec. Never touches a live
    owner's directory: there is deliberately NO age-based hard cap on
    pid dirs — the top-level mtime is set at creation and Spark only
    writes inside blockmgr-* subdirs, so any long-running session (a
    multi-day batch crawl, say) has a permanently stale top-level
    mtime, and an age cap would rmtree its live shuffle/spill dirs out
    from under it mid-job."""
    import shutil
    import time

    now = time.time()
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for name in entries:
        p = os.path.join(root, name)
        try:
            if name.startswith("pid") and name[3:].isdigit():
                if name == f"pid{os.getpid()}":
                    continue
                info = _proc_start_time(name[3:])
                if info is None and os.path.exists(f"/proc/{name[3:]}"):
                    # process visibly exists but its stat is unreadable
                    # (permissions/hidepid): ownership is UNKNOWN — keep.
                    # Deleting a live session's shuffle dirs is the
                    # catastrophe; leaking until the process exits is not.
                    continue
                # a zombie (state Z) has exited — its JVM can't be using
                # scratch; only reaping is pending. Treat as dead.
                alive = info is not None and info[1] != "Z"
                if alive:
                    # TRUE start time (jiffies+btime, see _proc_start_time):
                    # the owner created the dir AFTER it started, so a
                    # process younger than the dir cannot own it. 2 s
                    # slack absorbs tick/clock rounding at the boundary.
                    recycled = info[0] > os.path.getmtime(p) + 2.0
                    if not recycled:
                        continue
                shutil.rmtree(p, ignore_errors=True)
            elif now - os.path.getmtime(p) > max_age_sec:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def get_spark(
    app_name: str = "tbbid_scrapy_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` controls ``local[N]``; ``shuffle_partitions`` defaults to the
    same N so a local run has one shuffle partition per core — on a real
    cluster this would instead be ~2-3x total executor cores (set via
    ``extra_conf``), and AQE coalesces the excess at runtime.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "Asia/Shanghai")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # ANSI off: the reference's float()/None coercions (SURVEY.md §2.8
        # F3) rely on permissive casts; try_* functions are used where the
        # distinction matters.
        .config("spark.sql.ansi.enabled", "false")
    )
    local_dir = _scratch_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
