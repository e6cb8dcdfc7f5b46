"""The engine's SparkSession conf; the one place that knows it.

``TUNING_CONF`` (Arrow UDF transfer, AQE + skew join — LSH hot buckets are
the canonical skew source, SURVEY.md §4 — shuffled-hash joins, the codegen
class cache size, the warm worker daemon, worker malloc tuning) must hold
wherever the engine runs. Sizing (shuffle partitions, parallelism, driver
heap, off-heap) is the deployment's choice. ``engine_conf`` returns both;
``get_spark`` (tests, bench, ``__spark_entry__.py``) and ``submit_args``
(spark-submit) launch it, and the CLI joins its launch through ``attach``
and reports tuning that did not hold through ``conf_diff``. Only the keys
Spark lets a running session change can be applied after launch; the static
ones (JVM options, worker env, the daemon, static SQL confs such as the
codegen cache size) hold only when the launch carries them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# glibc malloc tuning for the Python UDF workers (forked from the JVM, so
# they inherit the driver process env in local mode; spark.executorEnv.*
# covers cluster executors). Without this, numpy/Arrow batch temporaries a
# few MB and up are mmap'd and munmap'd once per batch; under lazy host
# paging each round-trip re-faults every page (~4µs each) and the workers
# spend ~10× more time in the kernel than in user code (measured: 300 × 32 MB
# alloc+touch = 9.1 s churning vs 0.15 s with these settings). Keeping freed
# blocks on the arena (no trim, no mmap for ordinary sizes) makes worker
# memory steady-state after the first batches.
_MALLOC_ENV: dict[str, str] = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": "-1",
    # CPython's pymalloc maps/unmaps 256 KiB object arenas constantly under
    # string churn (tokenize/regex produce millions of short-lived strings);
    # routing object allocation through the tuned glibc malloc keeps those
    # pages resident too. Measured: signature stage 28.6→12.5 s cold and
    # 8.3→6.0 s warm at 8 cores on the 20k-page corpus.
    "PYTHONMALLOC": "malloc",
}


# Tuned on the sandbox (local[32], 128 GiB); nothing below hard-codes
# single-node assumptions, and a launch --conf still overrides any key.
TUNING_CONF: dict[str, str] = {
    # Arrow transfer for pandas UDFs / mapInPandas — the only Python that
    # ever touches row data runs vectorized over Arrow batches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # modest batches keep per-worker UDF temporaries cache-sized; large
    # batches measurably anti-scale at high worker counts on one socket
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # AQE: runtime coalescing of small shuffle partitions + skew-join
    # splitting. LSH band buckets on boilerplate pages are skewed by
    # construction; AQE is the backstop behind explicit salting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # default 128 MB splits bin-pack a ~0.5 GB pages table into <cores read
    # tasks → a single straggler-bound wave feeding the whole pipeline
    # (wall = max task, and this host steals CPUs). 32 MB keeps scans
    # multi-wave at bench scale; a real cluster would raise it back via
    # --conf along with shuffle partitions.
    "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
    # The engine relies on wrapping 64-bit arithmetic inside numpy (never
    # in SQL expressions), so ANSI mode stays ON — overflow in a SQL expr
    # is a bug we want surfaced, not wrapped.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Throughput GC. Profiled on the sandbox (virtualized, lazy host paging):
    # a first-touch page fault costs ~4µs, so every fresh page the JVM heap
    # or an mmap'd malloc block touches burns kernel time — the pipeline
    # measured 80-90% *system* CPU and got slower from 8→32 cores. ParallelGC
    # trades pause latency (irrelevant for batch) for allocation throughput
    # on the interpreted array expressions (transform / sequence /
    # array_distinct) these plans lean on, and -Xms pre-commits the young gen
    # so heap growth doesn't re-fault under concurrent task threads.
    # (THP was tested and made it *worse*: defrag=madvise means every
    # madvise'd fault may do synchronous compaction.)
    # NewRatio=1 gives the young gen half the heap: the edge phase's pair
    # join allocates short-lived UnsafeRow copies at 8 concurrent tasks and
    # the default 1/3 young gen promoted that churn straight into full GCs
    # (measured n=200k, 8 cores: 21.5 s GC inside the 70 s join stage; 0 s
    # with the bigger young gen). Expressed as a ratio so any executor heap
    # size gets the same behavior. (-Xms pre-commit was ALSO tried: it moves
    # ~25 s of lazy host page-faulting onto the critical path — worse.)
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:NewRatio=1",
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC -XX:NewRatio=1",
    # Tungsten sort/join/aggregate buffers OFF the GC heap. The n=800k
    # probe showed the fused pair join's 32×~70 MB sorters promoted into
    # the old gen at 8 concurrent tasks: 77-251 s of GC per edge phase
    # (window-dependent — ParallelGC pause threads amplify under host
    # steal) vs 2-6 s with off-heap, and total task-time stabilized at
    # ~465 s where on-heap swung 457-720 s. local[2] is unaffected (GC was
    # already ~5 s), so this is pure high-parallelism headroom — the
    # standard production posture for shuffle-heavy stages. Its size is
    # sizing (engine_conf).
    "spark.memory.offHeap.enabled": "true",
    # Shuffled-hash over sort-merge for equi-joins. The dominant stage of
    # the fused pair join is the bucket-table self-join; its SMJ sorts
    # (3-part key × 34M rows/side at n=800k) were the single biggest CPU
    # block (178 of 411 task-s). Hash join skips both sides' sorts:
    # measured (alternating A/B, n=800k) edge-phase wall 69-71 → 53-63 s
    # and task-time −12-20% at 8 cores, −4% at 2 cores — so it improves
    # the N→4N ratio too. Safe here: every engine join is either
    # broadcast, salted-bounded (bucket cells ≤ ~cap²), or AQE-skew-split,
    # and Spark ≥3.2 SHJ spills + gets skew handling like SMJ.
    "spark.sql.join.preferSortMergeJoin": "false",
    # 16 MB AQE target (default 64 MB) quadruples the post-shuffle task
    # count of the CPU-dense pair-join stage: its cost per input byte is
    # ~10× a scan's (pair explosion + bit_count screens), so byte-balanced
    # coalescing left it 11 tasks ≈ 1.4 waves on 8 cores with straggler
    # tails. More, smaller sorts also stay young-gen-sized.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16MB",
    # Generated-class cache (Janino compiles, keyed by the generated source;
    # default 100, LRU). A checkpointed benchmark op (1000 docs, --substring)
    # generates 138 distinct classes, so at 100 the LRU cycle missed on
    # almost every lookup: every op after the first recompiled 116-133
    # classes (append: 52-84), and HotSpot ran each fresh class interpreted
    # and JIT-compiled it again. At 1000 a later op compiles 0 (a few AQE
    # plan variants, 6-10 classes, now and then), measured at
    # get_spark(cores=4) by the JVM's CodegenMetrics compile count; the
    # checkpointed op's cpu_s fell 15 % (10/10 alternating pairs, 4-core
    # host). One session running both benchmark workloads and their
    # in-memory reference runs compiles 303 classes, so 1000 is ~3x
    # headroom. A static SQL conf: it must be on the launch.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # fork workers from a daemon that has already imported numpy/pandas/
    # pyarrow + the engine kernels (copy-on-write warm image) — removes the
    # per-worker import storm from the first job's critical path
    "spark.python.daemon.module": "jira_duplicate_detection_turkcell__spark.warm_daemon",
    **{f"spark.executorEnv.{k}": v for k, v in _MALLOC_ENV.items()},
}


def _master_and_parallelism(cores: int | None) -> tuple[str, int]:
    if cores is not None:
        return f"local[{cores}]", cores
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if env_cpus:
        return f"local[{env_cpus}]", int(env_cpus)
    return "local[*]", os.cpu_count() or 8


def engine_conf(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """``TUNING_CONF`` plus the sizing for ``cores`` task slots, with
    ``extra_conf`` applied last."""
    default_parallelism = _master_and_parallelism(cores)[1]
    if shuffle_partitions is None:
        # ~4 waves per core: a single wave (partitions == cores) makes every
        # stage straggler-bound — wall time is the *max* task, so one slow
        # task wastes cores — while 4× gives even packing; AQE coalesces
        # the excess away when the data is small. A cluster run raises this
        # to O(total cores × 3-4) via --conf the same way.
        shuffle_partitions = max(default_parallelism * 4, 16)
    return {
        **TUNING_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(default_parallelism),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        # the sandbox ceiling share (24 g heap + 16 g off-heap ≪ 128 GiB);
        # a real cluster sizes it per executor
        "spark.memory.offHeap.size": "16g",
        **(extra_conf or {}),
    }


def get_spark(
    app_name: str = "spark-webtext-dedup",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession in this process.

    `cores=None` uses ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``);
    an explicit `cores` pins ``local[cores]`` — the bench harness uses this
    to evidence N→4N scaling (local[8] vs local[32]) per BASELINE.md.
    """
    # must land in os.environ *before* the JVM launches: local-mode Python
    # workers are forked by the JVM and inherit this process's environment.
    # Side effect (documented): these keys persist in the calling process for
    # the JVM's lifetime; keys the caller already set are left untouched.
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)

    # make the repo importable inside the worker daemon so the pre-warmed
    # daemon module (warm_daemon.py) resolves; harmless if already present
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pythonpath}" if pythonpath else repo_root
        )

    return (
        SparkSession.builder.appName(app_name)
        .master(_master_and_parallelism(cores)[0])
        .config(map=engine_conf(cores, shuffle_partitions, extra_conf))
        .getOrCreate()
    )


def submit_args(
    cores: int, py_files: str, extra_conf: dict[str, str] | None = None
) -> list[str]:
    """spark-submit arguments that run the engine conf on ``local[cores]``
    with the package zip ``py_files`` (scripts/make_pyfiles.sh). The
    executors' PYTHONPATH names the zip because the warm daemon imports the
    package before a worker puts ``--py-files`` on its ``sys.path``."""
    conf = engine_conf(
        cores, None, {"spark.executorEnv.PYTHONPATH": py_files, **(extra_conf or {})}
    )
    args = ["--master", f"local[{cores}]"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    return args + ["--py-files", py_files]


def attach() -> SparkSession:
    """The session this process was launched with (spark-submit's, or
    ``get_spark``'s when run in-process), with every tuning key that the
    launch did not set and that a running session can change
    (``spark.conf.isModifiable``) applied at runtime. A key the launch set
    is left as launched. The other tuning keys are static (setting one at
    runtime raises): a launch without them runs without them, and
    ``conf_diff`` reports it."""
    spark = SparkSession.builder.getOrCreate()
    launched = spark.sparkContext.getConf()
    for k, v in TUNING_CONF.items():
        if spark.conf.isModifiable(k) and not launched.contains(k):
            spark.conf.set(k, v)
    return spark


def conf_diff(spark: SparkSession) -> dict[str, str | None]:
    """Each tuning key whose effective value differs from ``TUNING_CONF``,
    with the value that ran (None when unset). Spark prepends its own JVM
    module flags to both ``extraJavaOptions`` keys, so those hold when the
    effective value ends with the engine's flags."""
    diff: dict[str, str | None] = {}
    for k, want in TUNING_CONF.items():
        got = spark.conf.get(k, None)
        java_opts_hold = k.endswith(".extraJavaOptions") and (got or "").endswith(f" {want}")
        if got != want and not java_opts_hold:
            diff[k] = got
    return diff
