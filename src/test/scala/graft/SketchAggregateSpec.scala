package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._
import graft.functions.SketchAggregate
import graft.operators.{DistinctSketch, HeavyHitters, QuantileSketch}

/** The native sketch aggregate ([[SketchAggregate]]) against plain SQL in
  * the exact regime, on the paths where its buffer crosses the wire:
  * more than 128 groups per task force ObjectHashAggregate's sort-based
  * fallback (buffers serialized and merged back), the round-robin
  * repartition spreads every group over all four partials, and the
  * exchange carries the partial buffers to the final merge. */
class SketchAggregateSpec extends SparkSpec {

  /** The sf0.001 corpus (TESTDATA.md), under the home directory. */
  private val sf0001 = s"${sys.props("user.home")}/testdata/sf0.001"

  /** 300 groups x 24 rows; nulls in both columns, NaNs in `v`. */
  private lazy val df: DataFrame = spark.range(0, 300 * 24, 1, 1).selectExpr(
    "id % 300 AS g",
    "CASE WHEN id % 17 = 0 THEN NULL " +
      "ELSE concat('k', CAST((floor(id / 300) * 5 + id % 300) % (id % 300 % 11 + 2) AS STRING)) END AS k",
    "CASE WHEN id % 19 = 0 THEN NULL WHEN id % 23 = 0 THEN double('NaN') " +
      "ELSE CAST((floor(id / 300) * 3 + id % 300) % (id % 300 % 7 + 3) AS DOUBLE) - 1.5 END AS v")
    .repartition(4)

  /** Collect with AQE off (the executed plan is the one that ran, so its
    * metrics are readable) and check the sort-based fallback engaged. */
  private def collectWithFallback(out: DataFrame): Array[Row] =
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val rows = out.collect()
      val fellBack = out.queryExecution.executedPlan.collect {
        case o: ObjectHashAggregateExec => o.metrics("numTasksFallBacked").value
      }.sum
      assert(fellBack > 0, "no task took the sort-based fallback: buffers never serialized")
      rows
    }

  /** Discrete lower quantile per group, in SQL: min v with cum >= ceil(p n). */
  private def sqlQuantile(p: Double, grouped: Boolean): Map[Long, (Double, Long)] = {
    df.createOrReplaceTempView("sketch_agg_t")
    val g = if (grouped) "g" else "0L"
    sql(s"""
      WITH c AS (SELECT $g AS g, v, count(*) AS c FROM sketch_agg_t
                 WHERE v IS NOT NULL AND NOT isnan(v) GROUP BY 1, v),
      cum AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
                     sum(c) OVER (PARTITION BY g) AS n FROM c)
      SELECT g, min(v), min(cum) FROM cum
      WHERE cum >= greatest(1, ceil($p * n)) GROUP BY g""")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
  }

  test("HLL: per-group estimates and stored-sketch merge equal count(DISTINCT)") {
    val got = collectWithFallback(df.groupBy(col("g"))
      .agg(DistinctSketch.countDistinctSketch(col("k")).as("d")))
      .map(r => r.getLong(0) -> ((r.getStruct(1).getLong(0), r.getStruct(1).getBoolean(1)))).toMap
    val want = df.groupBy(col("g")).agg(countDistinct(col("k"))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), true))).toMap
    assert(got.size == 300 && got == want)

    val key = concat(col("g"), lit(":"), col("k"))
    val stored = df.groupBy(col("g")).agg(DistinctSketch.hllSketch(key).as("s")).repartition(3)
    val merged = stored.agg(DistinctSketch.hllMerge(col("s")).as("t"))
      .select(DistinctSketch.hllEstimate(col("t")).as("e")).select("e.*").head()
    val exact = df.select(countDistinct(key)).head().getLong(0)
    assert(exact > 128 && merged == Row(exact, true))
  }

  test("GK: per-group quantiles and stored-summary merge equal the discrete SQL quantile") {
    val got = collectWithFallback(df.groupBy(col("g")).agg(
        QuantileSketch.groupQuantile(col("v"), p = 0.5).as("q5"),
        QuantileSketch.groupQuantile(col("v"), p = 0.9).as("q9")))
      .map(r => r.getLong(0) -> Seq(r.getStruct(1), r.getStruct(2))).toMap
    Seq(0.5 -> 0, 0.9 -> 1).foreach { case (p, i) =>
      val want = sqlQuantile(p, grouped = true)
      assert(got.size == 300 && want.size == 300)
      want.foreach { case (g, (value, rank)) =>
        assert(got(g)(i) == Row(value, rank, rank, true), s"g=$g p=$p")
      }
    }

    val stored = df.groupBy(col("g")).agg(QuantileSketch.gkSketch(col("v")).as("s")).repartition(3)
    val merged = stored.agg(QuantileSketch.gkMerge(col("s")).as("t"))
      .select(QuantileSketch.gkQuantile(col("t"), 0.5).as("q")).select("q.*").head()
    val (value, rank) = sqlQuantile(0.5, grouped = false)(0L)
    assert(merged == Row(value, rank, rank, true))
  }

  test("SpaceSaving: per-group top-k and stored-summary merge equal grouped counts") {
    val got = collectWithFallback(
        HeavyHitters.groupTopK(df, Seq(col("g")), col("k"), k = 3, capacity = 64))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    df.createOrReplaceTempView("sketch_agg_t")
    val want = sql("""
      SELECT g, k, c, c FROM (
        SELECT g, k, c, row_number() OVER (PARTITION BY g ORDER BY c DESC, k) AS rn
        FROM (SELECT g, k, count(*) AS c FROM sketch_agg_t WHERE k IS NOT NULL GROUP BY g, k))
      WHERE rn <= 3""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.size > 600 && got == want)

    val stored = df.groupBy(col("g")).agg(HeavyHitters.ssSketch(col("k"), capacity = 64).as("s"))
      .repartition(3)
    val merged = stored.agg(HeavyHitters.ssMerge(col("s"), capacity = 64).as("t"))
      .select(explode(HeavyHitters.ssTopK(col("t"), 5)).as("h")).select("h.*").collect().toSeq
    val counts = df.where(col("k").isNotNull).groupBy(col("k")).count()
      .orderBy(col("count").desc, col("k")).limit(5).collect()
      .map(r => Row(r.getString(0), r.getLong(1), r.getLong(1))).toSeq
    assert(merged == counts)
  }

  test("the column functions keep their output schemas, nullability included") {
    val sk = df.groupBy(col("g")).agg(DistinctSketch.hllSketch(col("k")).as("s"))
    val schemas = Seq(
      df.groupBy(col("g")).agg(DistinctSketch.countDistinctSketch(col("k")).as("x")),
      df.groupBy(col("g")).agg(QuantileSketch.groupQuantile(col("v"), 0.5).as("x")),
      df.groupBy(col("g")).agg(QuantileSketch.gkSketch(col("v")).as("x")),
      sk.agg(DistinctSketch.hllMerge(col("s")).as("x")),
      HeavyHitters.groupTopK(df, Seq(col("g")), col("k"), 2, 8)
    ).map(_.schema)
    assert(schemas == Seq(
      "g BIGINT, x STRUCT<n_distinct: BIGINT NOT NULL, exact: BOOLEAN NOT NULL>",
      "g BIGINT, x STRUCT<value: DOUBLE NOT NULL, rank_lo: BIGINT NOT NULL, " +
        "rank_hi: BIGINT NOT NULL, exact: BOOLEAN NOT NULL>",
      "g BIGINT, x BINARY",
      "x BINARY",
      "g BIGINT, item STRING, n_lower BIGINT, n_upper BIGINT"
    ).map(org.apache.spark.sql.types.StructType.fromDDL))
  }

  /** Every aggregate function in every SQL execution `body` runs: batch
    * actions, writes and streaming micro-batches. */
  private def aggregatesRun(body: => Unit): Seq[AggregateFunction] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => (other.children ++ other.subqueries).flatMap(nodes)
    })
    val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[SparkPlan]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd => GraftBridge.executedPlanOf(end).foreach(plans.add)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftBridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    (0 until plans.size).flatMap(i => nodes(plans.get(i))).flatMap(_.expressions)
      .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction })
  }

  test("sketch slots execute the native aggregate, never a ScalaAggregator") {
    val slots = Seq("q104_distinct_sketch", "q106_group_quantile", "q117_group_heavy_hitters",
      "q118_sketch_accounting", "q119_gk_accounting", "q120_ss_accounting", "q121_stream_sketch")
    slots.foreach { name =>
      val fns = aggregatesRun(SparkEntry.queries(name)(spark, sf0001).collect())
      assert(!fns.exists(_.getClass.getSimpleName == "ScalaAggregator"), s"$name: $fns")
      assert(fns.exists(_.isInstanceOf[SketchAggregate[_]]), s"$name ran no sketch aggregate: $fns")
    }
  }

  test("streaming: the HLL buffer round-trips the state store across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"))
      .agg(DistinctSketch.countDistinctSketch(col("user_id")).as("d"))
      .select(col("window.start").as("ws"), col("d.n_distinct"), col("d.exact"))
    val q = agg.writeStream.format("memory").queryName("sketch_state_test")
      .outputMode("complete").start()
    try {
      val fns = aggregatesRun {
        input.addData((ts(1), 1L), (ts(3), 2L), (ts(16), 5L))
        q.processAllAvailable()
        // the 10:00 window's second batch merges into the stored buffer
        input.addData((ts(5), 2L), (ts(7), 3L), (ts(8), 4L))
        q.processAllAvailable()
      }
      assert(!fns.exists(_.getClass.getSimpleName == "ScalaAggregator"), s"$fns")
      assert(fns.exists(_.isInstanceOf[SketchAggregate[_]]), s"$fns")
      val rows = spark.table("sketch_state_test").collect()
        .map(r => r.getTimestamp(0).toString -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(rows == Map("2024-01-01 10:00:00.0" -> ((4L, true)),
        "2024-01-01 10:15:00.0" -> ((1L, true))), s"$rows")
    } finally q.stop()
  }
}
