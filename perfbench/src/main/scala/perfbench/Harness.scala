package perfbench

import graft.SparkEntry
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in one JVM, driven by
  * perfbench/run.py, which checks the dumped outputs against the DuckDB
  * oracle and turns `result.json` into metrics.
  *
  *  1. set-up, timed from JVM launch: the engine's static initialisation,
  *     a session with its extensions and one warm-up action;
  *  2. host calibration (also after step 4 and at the end);
  *  3. traced runs only: open each table the workload reads, cold, then
  *     again from the engine's schema memo;
  *  4. check pass, untimed: every slot once, its output written to
  *     parquet for the oracle check; this also warms the JIT and caches;
  *  5. timed passes, a closed loop with one client, at least
  *     `MinPasses` and until `--seconds` have passed: each slot is built
  *     (`SparkEntry.queries(slot)`), planned
  *     (`queryExecution.executedPlan`) and executed into the
  *     noop sink, the next slot starting after the write returns.  Slot
  *     order in each pass is a permutation drawn from `--seed`.  With
  *     `--trace 1` odd passes record spans and listener events and even
  *     passes do not, so tracing overhead is measured in the same run.
  */
object Harness {
  val MinPasses = 3

  final case class Sample(slot: String, pass: Int, build: Double, plan: Double, exec: Double,
                          error: Option[String])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val dataDir = args("data")
    val out = Paths.get(args("out"))
    val cores = args("cores").toInt
    val launchedNs = args("launched-ms").toLong * 1000000L
    val prefixes = (if (args("full") == "1") Workloads.full else Workloads.timed)(workload)
    val slots = Workloads.resolve(prefixes, SparkEntry.queries.keys)
    Files.createDirectories(out)

    // 1. set-up
    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", out.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
        // room for every task event of a traced pass
        .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }
    val spark = session()
    val setup = (Clock.now - launchedNs) / 1e9
    val sc = spark.sparkContext
    // seconds since launch at the end of each step, to budget run time
    val timeline = mutable.ArrayBuffer("setup" -> setup)

    // 2. host calibration
    Calibration.time() // compile the kernel before the first timing
    val calib = mutable.ArrayBuffer(Calibration.time())

    // 3. table opens
    val opens = if (!trace) Seq.empty else {
      def openAll(): Double = Workloads.tables(workload).map { t =>
        val t0 = Clock.now
        graft.core.EzFrame.readParquet(spark, s"$dataDir/$t.parquet")
        (Clock.now - t0) / 1e9
      }.sum
      Seq("cold" -> openAll(), "hit" -> openAll())
    }

    def order(pass: Int): Seq[String] = new scala.util.Random(seed * 7919 + pass).shuffle(slots)
    def clean(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    def message(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("").take(300)

    // 4. check pass
    val check = order(0).map { slot =>
      clean()
      slot -> (try {
        SparkEntry.queries(slot)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve("dump").resolve(slot).toString)
        "ok"
      } catch { case e: Throwable => message(e) })
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => slots.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*))
    calib += Calibration.time()
    timeline += "check" -> (Clock.now - launchedNs) / 1e9

    // 5. timed passes
    val recorder = new SparkRecorder
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextId = 0L
    def newId(): Long = { nextId += 1; nextId }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double, Double)]
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val t0 = Clock.now
    var pass = 0
    while (pass < MinPasses || (Clock.now - t0) / 1e9 < seconds) {
      pass += 1
      val traced = trace && pass % 2 == 1
      if (traced) sc.addSparkListener(recorder)
      val p0 = Clock.now
      val (jit0, gc0) = (jit.getTotalCompilationTime, gcMs)
      order(pass).foreach { slot =>
        clean()
        val slotId = newId()
        val marks = mutable.ArrayBuffer(Clock.now)
        def phase[T](name: String)(body: => T): T = {
          val id = newId()
          sc.setLocalProperty(SparkRecorder.SpanKey, id.toString)
          val start = marks.last
          try body finally {
            marks += Clock.now
            if (traced) spans += Span(id, slotId, name, start, marks.last, None)
          }
        }
        val error = try {
          val df: DataFrame = phase("build")(SparkEntry.queries(slot)(spark, dataDir))
          phase("plans")(df.queryExecution.executedPlan)
          phase("exec")(df.write.format("noop").mode("overwrite").save())
          None
        } catch { case e: Throwable => Some(message(e)) }
        sc.setLocalProperty(SparkRecorder.SpanKey, null)
        val d = marks.toSeq.sliding(2).map(w => (w(1) - w(0)) / 1e9).toSeq.padTo(3, 0.0)
        samples += Sample(slot, pass, d(0), d(1), d(2), error)
      }
      passes += ((pass, traced, (Clock.now - p0) / 1e9, (jit.getTotalCompilationTime - jit0) / 1e3,
        (gcMs - gc0) / 1e3))
      if (traced) {
        PerfbenchBridge.drainListeners(sc)
        sc.removeSparkListener(recorder)
      }
    }
    calib += Calibration.time()
    timeline += "timed" -> (Clock.now - launchedNs) / 1e9
    val rssMb = peakRssMb()

    val layers = if (!trace) Seq.empty else {
      val all = spans.toSeq ++ Trace.sparkSpans(spans.toSeq, recorder, nextId)
      Files.write(out.resolve("spans.jsonl"), all.map(_.toJson).mkString("", "\n", "\n").getBytes)
      Layers.metrics(all, recorder, passes.count(_._2), cores) ++
        (("sources.open_s", opens.map(_._2).sum, "s") +:
          opens.map { case (k, v) => (s"sources.open_${k}_s", v, "s") })
    }
    spark.stop()
    timeline += "stop" -> (Clock.now - launchedNs) / 1e9

    val result = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "min_passes" -> MinPasses.toString,
      "slots" -> Json.arr(slots.map(Json.str)),
      "setup_s" -> Json.num(setup),
      "calib_s" -> Json.arr(calib.map(Json.num)),
      "peak_rss_mb" -> Json.num(rssMb),
      "timeline" -> Json.obj(timeline.map { case (k, v) => k -> Json.num(v) }.toSeq: _*),
      "check" -> Json.obj(check.map { case (k, v) => k -> Json.str(v) }: _*),
      "passes" -> Json.arr(passes.map { case (p, tr, w, j, g) =>
        Json.obj("pass" -> p.toString, "traced" -> tr.toString, "wall_s" -> Json.num(w),
          "jit_s" -> Json.num(j), "gc_s" -> Json.num(g)) }),
      "samples" -> Json.arr(samples.map(s => Json.obj(
        "slot" -> Json.str(s.slot), "pass" -> s.pass.toString, "build_s" -> Json.num(s.build),
        "plan_s" -> Json.num(s.plan), "exec_s" -> Json.num(s.exec),
        "error" -> s.error.map(Json.str).getOrElse("null")))),
      "layers" -> Json.obj(layers.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
    )
    Files.writeString(out.resolve("result.json"), result)
  }

  /** The JVM's peak resident set (VmHWM); in local mode that includes the
    * executors. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

/** A fixed pure-JVM CPU kernel, timed to tell host load from program
  * speed: a drift between a run's start, middle and end timings means the
  * host, not the program, changed.  The working set fits in L2, each
  * timing is the best of seven, and it waits (briefly) for this JVM's own
  * JIT compiler threads to go quiet first. */
object Calibration {
  private val data = new Array[Long](1 << 16)
  @volatile private var sink = 0L

  private def kernel(): Long = {
    var x = 88172645463325252L
    var rep = 0
    while (rep < 8) {
      var i = 0
      while (i < data.length) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        data(i) = x
        i += 1
      }
      java.util.Arrays.sort(data)
      rep += 1
    }
    data(data.length / 2)
  }

  private def quiesce(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    System.gc()
    var last = -1L
    var waits = 0
    while (waits < 10 && jit.getTotalCompilationTime != last) {
      last = jit.getTotalCompilationTime
      Thread.sleep(50)
      waits += 1
    }
  }

  def time(): Double = {
    quiesce()
    (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      sink += kernel()
      (System.nanoTime() - t0) / 1e9
    }.min
  }
}
