"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  (mega-domain skew is expected in Common-Crawl-style inputs; the
  reference has no analogue — SURVEY.md §4).
- Arrow on, bounded batch size: every Python kernel in this engine is a
  vectorized mapInArrow / Arrow UDF / pandas UDF / mapInPandas /
  applyInPandas stage; per-row Python UDFs are banned (BASELINE.json
  input_hint).
- ``local[N]`` defaults to the cores this process may run on
  (``SPARK_GRAFT_CPUS`` overrides); shuffle partitions default to the
  same N locally; on a real cluster set
  ``spark.sql.shuffle.partitions`` ~ 2-3x total cores and rely on AQE
  coalescing.
- Generated-class cache of ``CODEGEN_CACHE_ENTRIES``. Spark's default
  holds 100 classes in 4 LRU segments of 25, fewer than one pass of the
  registry queries compiles, so every pass missed, recompiled with
  Janino and ran the fresh classes in the bytecode interpreter until
  the JIT warmed them again: the 7 ``query_mix`` queries compiled
  88-111 classes per pass at sf0.001. With 1,000 entries a warm pass
  compiles 0. Interleaved A/B of ``perfbench/run.py --workload
  query_mix`` (4 cores, 10 pairs, together with the ``_t`` spread
  made a per-query opt-in): ``op_cpu_ref_s`` 8.48 -> 6.16 s, traced
  ``op.cpu_jvm_s`` 9.74 -> 6.67 s.
- No python call-site capture
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  pyspark wraps every ``F.*`` and Column call: it walks the Python
  stack and makes about 5 py4j round trips (``getActiveSession``,
  whose lookup of the short class name scans the class path, then
  ``isDefined``, ``get`` and the origin ``set``/``clear``). Building
  one ``query_mix`` pass issued 5,823 py4j commands with it on and
  2,438 with it off. Errors still raise with their SQL context; they
  lose only the Python file:line fragment. Interleaved A/B of
  ``perfbench/run.py --workload query_mix`` (4 cores, 10 pairs,
  together with ``_t`` inferring each table's schema once):
  ``op_cpu_ref_s`` 6.28 -> 5.17 s, lower in every pair. For a
  debugging session pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``;
  pyspark caches the flag for the whole process on the first Column
  op, so it must be set when the first session is built.
- Shuffle scratch defaults to the OS temp dir, as does the query
  registry's checkpoint scratch; RAM-backed storage is an opt-in
  through ``SPARK_GRAFT_LOCAL_DIR`` (and ``SPARK_GRAFT_SCRATCH``).
- One python worker pool per session, started by the first python
  stage. Spark keeps one worker factory (one daemon and its forked
  workers) per distinct worker env. The SQL runners (``mapInArrow``,
  Arrow UDFs, ``mapInPandas``) add ``SPARK_SIMPLIFIED_TRACEBACK=1`` to
  that env while ``spark.sql.execution.pyspark.udf.simplifiedTraceback
  .enabled`` is on (the default); the core RDD runner, which a
  ``collect()`` of a ``createDataFrame(list)`` frame runs, does not.
  Each flagship iteration ran both (``link_options`` collects its
  options frame), so the session held two daemons and 12 workers.
  ``get_spark()`` therefore puts the same variable in
  ``spark.executorEnv``, which pyspark copies into every python
  function's env, so both kinds of stage share one factory; with
  simplified tracebacks off it sets nothing and both envs lack it.
  Choose them at session build (``extra_conf``): ``spark.executorEnv``
  is fixed then, so a later ``spark.conf.set`` of the conf to false
  leaves the variable in every worker env and errors stay simplified.
  Turning the tracebacks off would unify the envs too, but an Arrow
  UDF's error would then carry every pyspark worker frame. Nothing is
  forked at session build: Spark starts the daemon when the first
  python task arrives, so a session that runs no python stage pays
  nothing. Interleaved A/B of ``perfbench/run.py`` (4 cores, one
  shared pool and no warm-up against two pools and the eager warm-up):
  ``kg_flagship`` ``python_rss_mb`` 1,488 -> 1,053 MB, lower in 10 of
  10 pairs, with ``op_cpu_ref_s`` unchanged (1.55 s both); ``query_mix``
  ``python_rss_mb`` 624 -> 151 MB and ``setup_s`` 2.15 -> 0.37 s
  (8 pairs). The first python stage now pays the daemon start.
- Partition directories are listed on the driver under an in-process
  ``local`` master (``LOCAL_LISTING_THRESHOLD``). Spark lists more than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths (32)
  through a Spark job, so every read of the 64-bucket ``url_bucket``
  pages table started a 64-task "Listing leaf files" job. Under
  ``local[N]`` that job's tasks run in this JVM against the same disk
  the driver sees, so the job adds scheduling and nothing else. Probe,
  4 cores, min of 3 warm reads with the schema given (listing only):

  ====================  =========  ======  ========
  partition dirs        Spark job  driver  speed-up
  ====================  =========  ======  ========
  64                    750 ms     38 ms   20x
  1,024                 5,100 ms   178 ms  29x
  4,096                 17,077 ms  432 ms  40x
  ====================  =========  ======  ========

  Interleaved A/B of ``perfbench/run.py --workload kg_flagship`` (4
  cores, 10 pairs): ``setup_s`` 1.13 -> 0.65 s, lower in 10 of 10.

  Cluster masters keep Spark's 32, ``local-cluster`` included (its
  executors are other JVMs): there the job spreads a large listing of
  a distributed store over the executors. A local session that lists
  a remote object store can bring the job back through ``extra_conf``,
  which is applied last.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

ARROW_BATCH = 10_000
# generated classes kept compiled (``spark.sql.codegen.cache.maxEntries``)
CODEGEN_CACHE_ENTRIES = 1000
# the SQL conf under which Spark's SQL python runners add
# SPARK_SIMPLIFIED_TRACEBACK=1 to the worker env
SIMPLIFIED_TRACEBACK = "spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled"
# above this many paths Spark lists them through a Spark job
LISTING_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# an in-process master lists every partition dir on the driver (Int.MaxValue)
LOCAL_LISTING_THRESHOLD = 2**31 - 1


def python_daemon_module(master: str) -> str | None:
    """The python worker daemon to run under ``master``, or None for
    pyspark's own. daemon_preload forks workers that already hold
    pandas/pyarrow/numpy and skip the per-task zip-directory re-reads.
    It is the default only on a local master, where the workers share
    this process's PYTHONPATH; a cluster that ships the package opts in
    through SPARK_GRAFT_PY_DAEMON (empty = pyspark's own daemon)."""
    daemon = os.environ.get("SPARK_GRAFT_PY_DAEMON")
    if daemon is None and master.startswith("local"):
        daemon = "pdf_metadata_extraction_spark.daemon_preload"
    return daemon or None


def listing_threshold(master: str) -> int | None:
    """``LISTING_THRESHOLD_CONF`` for ``master``, or None for Spark's
    own (32): only an in-process ``local`` master, whose listing tasks
    would run in this JVM, lists every partition dir on the driver."""
    if master == "local" or master.startswith("local["):
        return LOCAL_LISTING_THRESHOLD
    return None


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the usable core count (the process's
    CPU affinity, which respects container and taskset limits)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "pdf_metadata_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # make the package importable in python WORKER processes no matter
    # the launch cwd: the preloading daemon module below is resolved by
    # a fresh `python -m` in each executor's daemon (children of the
    # JVM, which inherits this env)
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _pkg_root + (os.pathsep + _pp if _pp else "")
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # round 7 (guide §2.2/§9): with parallelismFirst at its true
        # default, AQE refuses to coalesce below defaultParallelism, so
        # a few-MB shuffle still fans out over every core and each
        # downstream stage pays per-task latency for ~empty tasks.
        # false = honor the advisory target instead: partition count is
        # derived from the actual shuffle BYTES at any scale (tiny
        # stage → 1 partition; 10 TB stage → tens of thousands).
        # Measured min-of-4 at sf0.1: uniform win or tie across 12
        # mixed queries (e.g. ce_quality_tiers 1.67→1.35, lang_id
        # 1.12→0.90, graph_hits 1.73→1.52), no regression.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        # shuffle blocks live under spark.local.dir: the OS temp dir
        # unless SPARK_GRAFT_LOCAL_DIR names another (a tmpfs path on a
        # box whose /tmp disk stalls, the NVMe/SSD scratch array on a
        # cluster). Never RAM by default: shuffle data at scale exceeds
        # tmpfs and competes with executor memory.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR") or tempfile.gettempdir(),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # round 7 (guide §3.1/§9): let the planner pick shuffled-hash
        # over sort-merge when its size conditions hold — skips both
        # sides' sorts. Min-of-3 at sf0.1: asof_event_state 1.68→0.33,
        # minhash_dup_pairs 1.70→0.53, no query slower.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # static conf: it only takes effect at session build (see the
        # module docstring for why and what it saved)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # no python call-site capture per Column op (see the module
        # docstring); pyspark reads this flag once per process, on the
        # first Column op, so it too only takes effect at session build
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    daemon = python_daemon_module(master)
    if daemon:
        b = b.config("spark.python.daemon.module", daemon)
    threshold = listing_threshold(master)
    if threshold is not None:
        b = b.config(LISTING_THRESHOLD_CONF, str(threshold))
    # one worker env for RDD and SQL python stages, so they share one
    # daemon (see the module docstring)
    if str((extra_conf or {}).get(SIMPLIFIED_TRACEBACK, "true")).lower() == "true":
        b = b.config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
