package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What session and which slots a suite tool runs.  Bench, Verify,
  * ABProbe, PlanDump and StreamProbe share it, so the session a plan
  * dump or an A/B probe sees is the one the bench times.  Probes that
  * deliberately measure another configuration (ConePruneProbe,
  * ScaleRehearsal, SkewJoinProbe, RasterLoop, NumpyParity) build their
  * own. */
object GraftSession {
  /** Corpus directory the slots read (`SPARK_GRAFT_SF_DIR`). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The bench session without its warm-up: `local[SPARK_GRAFT_CPUS]`
    * (default 32), graft extensions, shuffle.partitions = cores, AQE
    * with coalescing, UTC, no UI. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[session]] warmed with one trivial action, so the first slot
    * does not absorb JVM and session start-up. */
  def local(): SparkSession = {
    val spark = session()
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** The driver slots sorted by name; a non-empty `parts` keeps the
    * names containing any of its substrings. */
  def slots(parts: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => parts.isEmpty || parts.exists(name.contains) }

  /** Drop everything the previous slot left in the block manager:
    * Dataset caches AND directly-persisted RDDs (operators checkpoint
    * or persist internally; anything still registered is leaked state
    * that would pressure the next slot's execution memory). */
  def cleanBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
