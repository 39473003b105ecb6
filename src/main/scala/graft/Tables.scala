package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * All tables are plain parquet scans so Catalyst pushes filters and prunes
  * columns straight into the file scan; at cluster scale these would be the
  * same `spark.read.parquet` over a partitioned data lake path.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // [[session]] registers the graft_* functions on every session graft
    // builds; this covers a session graft did not build, such as the one
    // the driver hands SparkEntry. Every query scans through here before
    // its first graft_* call, and registering again is an idempotent map put
    graft.plans.GraftExtensions.register(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Session options every graft entry point needs:
    *  - UTC so naive parquet timestamps agree with the DuckDB oracle;
    *  - nanosAsLong so a TIMESTAMP(NANOS) fixture — which Spark cannot
    *    represent (SPARK-40819) — arrives as BIGINT nanoseconds instead of
    *    failing the scan (earlier driver testdata generations used NANOS);
    *  - graft's [[graft.streaming.LocalCheckpointFiles]] as the streaming
    *    checkpoint file manager. Spark's default writes each offset WAL
    *    and commit log entry through Hadoop's local filesystem, which
    *    without its native library shells out for file status and
    *    permissions, twice over for the `.crc` sidecar: about 20 helper
    *    processes and 30-45 ms per 100-byte write, so the two log writes
    *    of each micro-batch took about a fifth of a `stream-kpl` trigger.
    *    The graft manager writes local checkpoints with java.nio in well
    *    under a millisecond and keeps the same atomic-publish protocol.
    *    Spark copies session confs into the Hadoop conf that it builds
    *    the manager from, so state stores on executors get it too.
    */
  val sessionConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalCheckpointFiles].getName)

  /** STATIC confs — builder-only (setting them on a live session throws
    * CANNOT_MODIFY_STATIC_CONFIG, so [[SparkEntry.entry]]'s runtime
    * conf-apply must not see them). The codegen class cache is the
    * load-bearing one: the default 100 entries thrash across a 120-query
    * suite (each query compiles several stages), so multi-small-job
    * kernels (rankSelect's refinement passes) paid Janino recompilation
    * on EVERY pass mid-suite — measured as the r13/r14
    * committed-vs-targeted 2-3× gap on q58/q86, and ~2× across the whole
    * heavy family (the 22-query sf5 probe dropped 150 s → 70 s). The
    * cache key is the generated source; 5000 entries is megabytes of
    * metaspace, not heap.
    *
    * Artifact isolation is off so that streaming queries share that cache.
    * Spark 4.1 keys a cached class on the task thread's context classloader
    * as well as on its source. With isolation on, every streaming query
    * runs in a cloned session whose tasks get a classloader of their own,
    * so each new query compiled the whole consume plan again, source for
    * source identical to the last one, and ran its first micro-batch cold:
    * 7-8 compiles per drain, first-trigger tasks about twice as slow as
    * the second trigger's. graft adds no per-session jars or files, so
    * isolation protects nothing here. Batch queries in one session share
    * one loader and hit the cache either way.
    */
  val staticConf: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** SQL yielding `events.ts` as epoch-MICROSECOND BIGINT, robust to the
    * fixture's on-disk encoding. The driver's testdata has shipped `ts`
    * both as TIMESTAMP(NANOS) — read as BIGINT nanos via nanosAsLong — and
    * (since round 12) as TIMESTAMP(MICROS), read as TIMESTAMP_NTZ. Every
    * query that does integer time arithmetic goes through this dispatch so
    * a future regeneration flips one function, not ten call sites.
    *
    * Integer `div`, never `/`: an epoch-ns BIGINT (~1.7e18) would lose its
    * low bits in a double promotion (2^53 < 1.7e18), off by ±1 µs. The
    * NTZ→TIMESTAMP cast is identity under the UTC session timezone.
    */
  def tsUsSql(events: org.apache.spark.sql.DataFrame): String =
    events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "ts div 1000"
      case _ => "unix_micros(CAST(ts AS TIMESTAMP))"
    }

  /** Scratch-dir tuning for the local test box, which runs
    * `local[SPARK_GRAFT_CPUS or core count]` (see [[cpus]]).
    *
    * Shuffle/spill/localCheckpoint blocks go to `spark.local.dir`. The CI
    * sandbox runs under a user-space-kernel hypervisor where file syscalls
    * carry a much higher per-call cost than on bare metal, which made the
    * shuffle write/read path both slow and high-variance (a trivial 1 M-row
    * shuffle: p50 543 ms / max 4.0 s on the default disk dir vs p50 309 ms
    * on tmpfs, measured on this box). Pointing the scratch dir at tmpfs
    * removes the syscall-amplified disk path; on a real cluster the
    * equivalent setting is NVMe-backed local dirs per executor, so this is
    * an accurate stand-in for production I/O, not a benchmark cheat.
    *
    * Every entry point except `Cli` takes it through [[session]]'s default
    * `conf`; `Cli` passes `Map.empty` and keeps Spark's default so a
    * deployment's own local-dir policy wins. Override with
    * SPARK_GRAFT_LOCAL_DIR; falls back to the JVM default when /dev/shm is
    * unavailable (e.g. a container without a tmpfs mount).
    */
  def scratchDirConf: Map[String, String] = {
    val dir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-spark") else None
    }
    dir.map("spark.local.dir" -> _).toMap
  }

  /** The one session builder: every graft entry point and the specs start
    * their SparkSession here, so [[sessionConf]], [[staticConf]] and the
    * graft_* SQL functions reach every session by construction.
    * `local[cpus]`, one shuffle partition per core, UI off; `conf` is
    * applied last.
    */
  def session(cpus: Int, conf: Map[String, String] = scratchDirConf): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    (sessionConf ++ staticConf ++ conf).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    graft.plans.GraftExtensions.register(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cores for a measurement or verify session: SPARK_GRAFT_CPUS, else the
    * machine's core count.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
