package graft

import org.apache.spark.sql.SparkSession

/** The one owner of session configuration: every engine entry point gets
  * its session from [[apply]], and every scoped conf override goes
  * through [[withConf]]. */
object GraftSession {

  /** Local cores of the driver entry points: `SPARK_GRAFT_CPUS`, else 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The engine session on `cores` local cores, with as many shuffle
    * partitions, prepared by [[sources.Tables.warmup]].
    *
    * The time zone is pinned to UTC here, not only by run.sh's `-D`:
    * `Tables.normalizeTs`'s NTZ→timestamp cast depends on the session
    * time zone, and prewarm publishes shared fingerprint-keyed layouts
    * that other processes read. The warehouse is per JVM (under
    * `IngestOps.scratchRoot`): the catalog keys drop and recreate
    * managed tables, which must never race a concurrent engine process. */
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", sources.IngestOps.tmp("warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sources.Tables.warmup(spark)
    spark
  }

  /** Serializes the [[withConf]] scopes: two interleaved save/set/restore
    * scopes would strand the session at an overridden value for every
    * later query. A JVM monitor, so nested scopes on one thread reenter. */
  private val lock = new Object

  /** Runs `body` with `settings` set on the session, holding the conf lock
    * throughout. On exit, also when `body` throws, every key gets back its
    * previous value, or is unset if it had none. The lock does not stop
    * planning on other threads from seeing the overrides meanwhile. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(
      body: => T): T =
    lock.synchronized {
      val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        settings.foreach { case (k, v) => spark.conf.set(k, v) }
        body
      } finally saved.reverseIterator.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}
