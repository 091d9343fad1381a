package graft

import org.apache.spark.sql.functions._
import graft.core.{EzFrame, EzMeta}

class EzFrameSpec extends SparkSpec {
  import spark.implicits._

  private lazy val phot = Seq(
    (1.0, 3.8, 2.1, 2.5),
    (2.0, 3.9, 2.9, 1.5),
    (3.0, 3.7, 1.2, 3.5))
    .toDF("M_ini", "logTe", "logL", "J")

  test("regex keys: patterns, aliases, star") {
    val ez = EzFrame(phot).setAlias("logT", "logTe")
    assert(ez.keys("log*") == Seq("logTe", "logL"))
    assert(ez.keys("logT J") == Seq("logTe", "J"))
    assert(ez.keys("*") == Seq("M_ini", "logTe", "logL", "J"))
  }

  test("caseless resolution") {
    val ez = EzFrame(phot, EzMeta(caseless = true))
    assert(ez.resolveAlias("LOGTE") == "logTe")
  }

  test("selectWhere with alias (README canonical query)") {
    val ez = EzFrame(phot).setAlias("logT", "logTe")
    val q = ez.selectWhere("logT logL", "(J > 2) & (10 ** logT > 5000)")
    assert(q.columns == Seq("logTe", "logL"))
    assert(q.count() == 2) // logTe 3.8 (6310 K, J=2.5) and 3.7 (5012 K, J=3.5)
  }

  test("orphan aliases pruned after select") {
    val ez = EzFrame(phot).setAlias("logT", "logTe").setAlias("mass", "M_ini")
    val sel = ez.select("logTe J")
    assert(sel.meta.aliases == Map("logT" -> "logTe"))
  }

  test("join with expression keys and suffixes") {
    val l = EzFrame(Seq((0L, 0L), (1L, 1L), (2L, 4L), (3L, 9L)).toDF("x", "y"))
    val r = EzFrame(Seq((0L, 0L), (1L, 1L), (2L, 8L)).toDF("x", "z"))
    val j = l.join(r, on = "x", how = "left_outer")
    assert(j.columns.toSet == Set("x_l", "y", "x_r", "z"))
    assert(j.count() == 4)
    assert(j.df.filter(col("z").isNull).count() == 1) // x=3 has no match
  }

  test("stack fills missing columns with defaults") {
    val a = EzFrame(Seq((1L, "a")).toDF("id", "tag"))
    val b = EzFrame(Seq((2L, 5.0)).toDF("id", "w"))
    val s = a.stack(b, defaults = Map("tag" -> "NONE", "w" -> 0.0))
    val rows = s.df.orderBy("id").collect()
    assert(rows(0).getAs[String]("tag") == "a" && rows(0).getAs[Double]("w") == 0.0)
    assert(rows(1).getAs[String]("tag") == "NONE" && rows(1).getAs[Double]("w") == 5.0)
  }

  test("stats is nan-aware and unpivoted") {
    val df = Seq(1.0, 2.0, 3.0, Double.NaN).toDF("v")
    val st = EzFrame(df).stats("v").collect().head
    assert(st.getAs[String]("column") == "v")
    assert(math.abs(st.getAs[Double]("mean") - 2.0) < 1e-12)
    assert(st.getAs[Double]("min") == 1.0 && st.getAs[Double]("max") == 3.0)
    assert(st.getAs[Boolean]("has_nan"))
  }

  test("findDuplicate via hash groupBy") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    val dups = EzFrame(df).findDuplicate()
    assert(dups.count() == 1)
    assert(dups.collect().head.getAs[Long]("count") == 2)
  }

  test("sort + rename keep metadata consistent") {
    val ez = EzFrame(phot).setAlias("logT", "logTe").setUnit("logTe", "dex(K)")
    val r = ez.rename("logTe" -> "logT_eff")
    assert(r.columns.contains("logT_eff"))
    assert(r.meta.aliases("logT") == "logT_eff")
    val sorted = r.sort("J", desc = true).df.select("J").collect().map(_.getDouble(0))
    assert(sorted.toSeq == Seq(3.5, 2.5, 1.5))
  }

  test("nanToNull normalizes at the boundary") {
    val df = Seq(1.0, Double.NaN).toDF("v")
    assert(EzFrame(df).nanToNull().df.filter(col("v").isNull).count() == 1)
  }

  test("groupbyIter yields lazy per-group frames; statsWith pluggable aggs") {
    val ez = EzFrame(Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "v"))
    val groups = ez.groupbyIter("k")
    assert(groups.map(_._1) == Seq("a", "b"))
    assert(groups.head._2.count() == 2)
    val st = ez.statsWith("v", Seq(
      "total" -> (c => sum(c)),
      "geo" -> (c => graft.functions.Aggregators.geometricMean(c))))
    val row = st.collect().head
    assert(row.getAs[String]("column") == "v")
    assert(row.getAs[Double]("total") == 14.0)
    assert(math.abs(row.getAs[Double]("geo") - math.cbrt(30.0)) < 1e-9)
  }

  test("appendRow and toRecords parity surfaces") {
    val ez = EzFrame(Seq((1L, "a")).toDF("id", "tag")).appendRow(2L, "b")
    assert(ez.count() == 2)
    val recs = ez.sort("id").toRecords()
    assert(recs == Seq(Map("id" -> 1L, "tag" -> "a"), Map("id" -> 2L, "tag" -> "b")))
  }

  test("streaming and columnar exports") {
    val ez = EzFrame(spark.range(1000).selectExpr("id", "cast(id * 2 as double) as v"))
    // recordIterator drains lazily, partition by partition
    val it = ez.recordIterator()
    assert(it.take(3).map(_("id")).toSeq == Seq(0L, 1L, 2L))
    assert(ez.recordIterator().size == 1000)
    // column-major export: pandas/dict shape
    val colsMap = ez.toColumns(limit = 10)
    assert(colsMap.keySet == Set("id", "v"))
    assert(colsMap("v").length == 10)
    assert(colsMap("v").head.isInstanceOf[Double])
  }

  test("nbytes estimate and pretty size formatting") {
    val ez = EzFrame(spark.range(100).selectExpr("id"))
    assert(ez.nbytes > 0)
    assert(ez.prettySize.nonEmpty)
    assert(EzFrame.prettySizePrint(BigInt(512)) == "512 Bytes")
    assert(EzFrame.prettySizePrint(BigInt(2048)).endsWith(" KB"))
    assert(EzFrame.prettySizePrint(BigInt(3L * 1024 * 1024)).endsWith(" MB"))
    assert(EzFrame.prettySizePrint(BigInt(1024L * 1024 * 1024 * 1024 * 5)).endsWith(" TB"))
  }

  test("chained rename carries metadata end-to-end; join remaps suffixed metadata loudly") {
    // a->b then b->c moves column a to c — the unit must follow the
    // CHAIN, not stop at the intermediate name (which pruneFor drops)
    val t = EzFrame(Seq((1.0, 2.0)).toDF("a", "q")).setUnit("a", "mag")
    val r = t.rename("a" -> "b", "b" -> "c")
    assert(r.columns == Seq("c", "q") && r.meta.units.get("c").contains("mag"))
    // join: an overlapping column's unit follows its suffix
    val l = EzFrame(Seq((1L, 2.0)).toDF("k", "x")).setUnit("x", "mag")
    val rr = EzFrame(Seq((1L, 3.0)).toDF("k", "x"))
    val j = l.join(rr, on = "k")
    assert(j.meta.units.get("x_l").contains("mag"))
    // suffixing onto an existing name would make an ambiguous frame —
    // loud at the join, not at some later reference
    val bad = EzFrame(Seq((1L, 2.0, 3.0)).toDF("k", "x", "x_l"))
    val e = intercept[IllegalArgumentException](bad.join(rr, on = "k"))
    assert(e.getMessage.contains("suffix"))
  }

  test("parquet schema memo is keyed on the reading session's inference confs") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val ts = org.apache.spark.sql.types.TimestampNTZType
    assert(EzFrame.readParquet(spark, path).df.schema("ts").dataType == ts,
      "precondition: the default session infers events.ts as TIMESTAMP_NTZ")
    // a child session that turns NTZ inference off must get its own
    // inference, not the schema the parent's read memoized
    val child = spark.newSession()
    child.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val got = EzFrame.readParquet(child, path).df.schema("ts").dataType
    assert(got == org.apache.spark.sql.types.TimestampType, s"child read ts as $got")
  }
}
