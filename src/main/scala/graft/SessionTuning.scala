package graft

import org.apache.spark.sql.SparkSession

/** The session constructor shared by every graft main (Bench, Verify,
  * Smoke, BenchStream, cli.Main, Scratch and the `graft.tools` dev
  * tools) and by the test session, together with the session-level I/O
  * latency configuration it always applies: the r21 optimization
  * round's fix for the measured per-shuffle fixed cost.
  *
  * Measured on the bench host (32-core local mode, warm JVM, 300-iter
  * loop of a tiny 32-map × 32-reduce shuffle + noop sink,
  * `graft.tools.ShuffleLoop`; the rows without a knob are reproduced
  * with SPARK_GRAFT_LOCAL_DIR=default and SPARK_GRAFT_TRANSFERTO=true):
  *
  *   default                                      0.363 s/shuffle
  *   spark.local.dir=tmpfs                        0.173 s/shuffle
  *   spark.file.transferTo=false                  0.214 s/shuffle
  *   BOTH                                         0.072 s/shuffle  (5.0×)
  *
  * Mechanism, not magic (guide §2.1/§6 — know where the time goes):
  *
  *   - `spark.file.transferTo=false`: the bypass-merge shuffle writer
  *     concatenates its per-reduce-partition files with
  *     `FileChannel.transferTo`, whose file→file path in the JDK maps
  *     and unmaps the source region PER SEGMENT (`FileChannelImpl.
  *     transferToTrustedChannel` → `unmap0` — jstack'd hot during the
  *     loop). Every `munmap` takes the process-wide mmap lock and
  *     broadcasts TLB-shootdown IPIs to all 32 cores, so concurrent map
  *     tasks serialize against each other — a cost that scales with
  *     cores × segments, not bytes. The streamed copy moves the same
  *     bytes through a buffer with zero mmap traffic. At this engine's
  *     shuffle sizes (the bypass writer only handles ≤ 200-partition
  *     shuffles) the streamed copy is never measurably slower; hosts
  *     that want zero-copy back can override via
  *     SPARK_GRAFT_TRANSFERTO=true.
  *
  *   - `spark.local.dir` on tmpfs: shuffle/spill files of this
  *     workload are KB–MB sized and read back milliseconds later;
  *     putting them on the root disk pays file-create + write latency
  *     per map task per stage. tmpfs turns that into memory writes.
  *     Scale posture: this is MACHINE configuration, not plan shape —
  *     on YARN/K8s the cluster manager overrides local dirs with the
  *     container's NVMe volumes and this default is inert; in local
  *     mode the default only engages when /dev/shm exists and is
  *     writable, and SPARK_GRAFT_LOCAL_DIR overrides it (set it to a
  *     disk path when shuffle bytes could approach RAM).
  *
  * Neither knob changes any query result: both govern how shuffle
  * bytes are copied/stored between stages. The driver's bench runs the
  * same queries, same scale, same methodology — just without paying an
  * OS pathology per stage boundary.
  */
object SessionTuning {
  /** The one session constructor: every graft main and the test session
    * build their session here, so master, shuffle width, UTC, UI off,
    * WARN logging and [[tuned]] are decided in one place. */
  def session(app: String, master: String, shufflePartitions: Int): SparkSession =
    start(builder(app, master, shufflePartitions))

  /** Bench's shape, shared by Bench, Scratch and the timing tools so
    * their walls are bench walls: SPARK_GRAFT_CPUS cores (default 32),
    * 32 shuffle partitions, AQE on. */
  def benchSession(app: String): SparkSession =
    start(builder(app, s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
      .config("spark.sql.adaptive.enabled", "true"))

  /** The builder behind [[session]], for a caller that must add to it
    * before `getOrCreate` (the extensions session in GraftSqlSpec). */
  private[graft] def builder(app: String, master: String, shufflePartitions: Int): SparkSession.Builder =
    tuned(SparkSession.builder().master(master).appName(app))
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  private def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply [[tunedConfs]] to a session builder (some are static, so
    * they must be set before the session starts). */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    tunedConfs(sys.env).foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** The configs [[tuned]] applies, as a function of the environment.
    * Env overrides: SPARK_GRAFT_LOCAL_DIR (shuffle dir; "default"
    * leaves Spark's), SPARK_GRAFT_TRANSFERTO ("true" restores the NIO
    * transferTo copy path), SPARK_GRAFT_LOCAL_SHUFFLE_READER,
    * SPARK_GRAFT_MIN_PARTITION_SIZE, and SPARK_GRAFT_CONF_EXTRA="k=v;k=v"
    * (experiment passthrough for dev A/B runs, applied last). */
  private[graft] def tunedConfs(env: Map[String, String]): Seq[(String, String)] =
    Seq("spark.file.transferTo" -> env.getOrElse("SPARK_GRAFT_TRANSFERTO", "false")) ++
      localDir(env).map("spark.local.dir" -> _) ++
      // AQE sizes stages by BYTES; this engine's text stages are regex-
      // CPU-dense at tiny byte sizes, and the bench corpus is a single-
      // row-group file (scans are structurally one task), so the two
      // byte-blind AQE demotions measurably serialize CPU work (r21,
      // full-battery A/B on a quiet host, 106 queries):
      //   - the LOCAL shuffle reader rewrites an explicit doc_id spread
      //     feeding a broadcast join into map-local reads — 1 map task ⇒
      //     1 reduce task, 31 cores idle through the redact stack
      //     (battery 97.1 → 89.8 s with it off);
      //   - partition coalescing's 1 MB floor packs a CPU-dense 4 MB
      //     frame into 4 tasks (89.8 → 84.3 s with a 16 KB floor —
      //     dedup_simhash_pairs 1.59 → 0.97 s, dedup_ngram_jaccard
      //     1.13 → 0.86 s).
      // Both knobs only bind when post-shuffle partitions are tiny; at
      // cluster scale partitions sit at the advisory size and neither
      // engages. Env-overridable for hosts that want the stock behavior.
      Seq(
        "spark.sql.adaptive.localShuffleReader.enabled" ->
          env.getOrElse("SPARK_GRAFT_LOCAL_SHUFFLE_READER", "false"),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
          env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "16k")) ++
      // Spark's generated-class cache (static; default 100 classes)
      // overflows on the curation pipelines: a warm op then recompiles
      // 9–40 classes and runs ~0.3 s slower, in a random subset of JVMs.
      Seq("spark.sql.codegen.cache.maxEntries" -> "2000") ++
      env.get("SPARK_GRAFT_CONF_EXTRA").toSeq
        .flatMap(parseConfs("SPARK_GRAFT_CONF_EXTRA", _))

  /** Parse "k=v;k=v" into config pairs, failing with a message that
    * NAMES the variable on a malformed entry (ADVICE r21: the bare
    * `val Array(k, v) = …` pattern threw an opaque MatchError). */
  private[graft] def parseConfs(envVar: String, spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"$envVar: malformed entry '$kv' (expected key=value)")
      kv.substring(0, i) -> kv.substring(i + 1)
    }

  /** Require this much free tmpfs headroom before defaulting shuffle
    * files onto /dev/shm (ADVICE r21: an unconditional tmpfs default
    * could let a large shuffle exhaust RAM mid-job — and a killed JVM
    * leaves its files resident at the shared path). 16 GiB is ~3 orders
    * of magnitude above this engine's measured per-query shuffle bytes
    * at sf0.1 (KB–MB), so the default engages on the bench hosts
    * (126 GiB free) and stays off on small-tmpfs machines, where
    * Spark's disk default is the safe choice. SPARK_GRAFT_LOCAL_DIR
    * still overrides in both directions. */
  private final val TmpfsMinFreeBytes: Long = 16L << 30

  private def localDir(env: Map[String, String]): Option[String] =
    env.get("SPARK_GRAFT_LOCAL_DIR") match {
      case Some("default") => None
      case Some(d) => Some(d)
      case None =>
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite &&
            shm.getUsableSpace >= TmpfsMinFreeBytes)
          Some("/dev/shm/graft-spark-local")
        else None
    }
}
