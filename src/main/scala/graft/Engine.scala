package graft

import org.apache.spark.sql.SparkSession

/** Library front door: a SparkSession.Builder pre-configured the way
  * the engine wants to run on a real cluster, with the engine's
  * Catalyst extension (selector pushdown + native function family)
  * injected.
  *
  * Sizing rationale (100 TB targets; override any of it):
  *  - AQE on, with skew-join splitting and partition coalescing —
  *    runtime stats beat static guesses at every scale.
  *  - `maxPartitionBytes` 256m: scan tasks sized so a 100 TB table is
  *    ~400k tasks, not 800k 128m slivers (driver scheduling pressure),
  *    while staying well inside executor memory with room for two
  *    live buffers per core.
  *  - `shuffle.partitions` left to AQE's coalescing from an
  *    intentionally high initial number (Spark default 200 is too low
  *    for big shuffles; `initialPartitionNum` 2000 lets AQE shrink
  *    rather than split).
  *  - session timezone UTC and ns-as-long parquet reads: the engine's
  *    oracle-checked timestamp conventions.
  */
object Engine {

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "2000")
      .config("spark.sql.files.maxPartitionBytes", "268435456")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(ext => new graft.plans.SelectorExtension()(ext))

  /** A local session for tests/tools: `local[cores]`, shuffle
    * parallelism pinned to the core count (AQE coalescing from 2000
    * is counter-productive single-node).
    *
    * `GRAFT_MASTER=local-cluster[2,4,4096]` overrides the master for
    * certification runs across REAL executor JVMs (Spark's in-process
    * standalone cluster forks one executor process per worker): same
    * tools, same queries, but closures, broadcasts, and executor-side
    * lazy state must genuinely cross process boundaries — the class of
    * bug `local[N]` can never surface.
    */
  def local(cores: Int): SparkSession = {
    val master = sys.env.getOrElse("GRAFT_MASTER", s"local[$cores]")
    var b = builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Single-node: let AQE coalesce from the core count itself — a
      // high initialPartitionNum only adds per-shuffle overhead here.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cores.toString)
      .config("spark.ui.enabled", "false")
      // Buffers sized to a local heap. Spark's defaults suit cluster
      // executors: a 4m block for every stage's task-binary broadcast,
      // and aggregate/sort pages of execution memory / cores / 16 (32m
      // on a 2g heap at local[2]). On a small G1 heap each is a
      // humongous allocation, whole regions outside eden that only a GC
      // returns, and between GCs they pile up to hundreds of MB of
      // resident heap. 256k blocks stay under G1's humongous threshold
      // (half a region); 2m pages cut the per-task waste 16×.
      .config("spark.broadcast.blockSize", "256k")
      .config("spark.buffer.pageSize", "2m")
      // Generated-class cache sized above a session's working set. The
      // default 100 entries are split over 4 LRU segments of 25; a
      // segment that overflows evicts classes the next query needs, so
      // every repeat of that query compiles them again with Janino.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
    if (master.startsWith("local-cluster")) b = forkedExecutors(b, master)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JDK-17 module opens Spark needs when a JVM is NOT launched by
    * spark-submit (which injects them). One list for driver (build.sbt
    * mirrors it) and forked executors.
    */
  val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  /** `local-cluster` executor plumbing. Executor JVMs are forked by the
    * in-process Worker with a classpath built from SPARK_HOME/jars —
    * they do NOT inherit this JVM's classpath, so the engine's own
    * classes (and test classes, when a spec runs under local-cluster)
    * ride `spark.executor.extraClassPath` from `java.class.path`
    * (accurate because sbt forks test/run JVMs). Module opens must be
    * repeated for the executor JVM. Executor memory defaults to the
    * worker grant parsed from the master string itself (one executor
    * per worker, consuming the full grant) — a fixed default larger
    * than the grant would mean NO executor is ever allocated and every
    * job hangs on "Initial job has not accepted any resources".
    * `GRAFT_EXECUTOR_MEM` overrides.
    */
  private[graft] def forkedExecutors(b: SparkSession.Builder,
      master: String): SparkSession.Builder = {
    val workerMemMb =
      "local-cluster\\[\\s*\\d+\\s*,\\s*\\d+\\s*,\\s*(\\d+)\\s*\\]".r
        .findFirstMatchIn(master).map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot parse worker memory from master `$master`"))
    b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
      // NB: -Dspark.* flags are rejected here by config validation —
      // Spark options travel via the SparkConf itself.
      .config("spark.executor.extraJavaOptions", jdk17AddOpens.mkString(" "))
      .config("spark.executor.memory",
        sys.env.getOrElse("GRAFT_EXECUTOR_MEM", s"${workerMemMb}m"))
  }
}
