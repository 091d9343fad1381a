package graft.operators

import graft.functions.{SketchAggregate, SketchCodec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Memory-bounded quantiles — a mergeable rank summary in the style of
  * Greenwald–Khanna as made mergeable by Agarwal, Cormode, Huang,
  * Phillips, Wei, Yi ("Mergeable summaries", PODS 2012): each retained
  * value carries an EXACT rank interval [rmin, rmax] (= bounds on the
  * number of items ≤ it) plus a lower bound `g` on its own
  * multiplicity.  Intervals stay valid under pairwise merge, and
  * compression simply DROPS tuples — it loses resolution between
  * retained values, never correctness of the retained bounds.
  *
  * Why it exists at 100 TB: [[Quantiles.exact]] is the right answer
  * when you can afford one range-shuffle of the raw column.  When you
  * cannot — the quantile is a side statistic inside a bigger job, or
  * the column rides in a stream — this summary keeps ≤ `capacity`
  * tuples per task, merges in a log-depth tree, and lands on the
  * driver as one bounded array, with the honest error bar attached.
  * The raw column is never shuffled and never collected.
  *
  * Exact regime (how the oracle gates the machinery): while the number
  * of DISTINCT values stays ≤ capacity, no compression triggers and
  * every merge is exact — equal values add counts; a value absent from
  * the other side gets [cum(pred), cum(succ) − count(succ)] from it,
  * which collapses when nothing was ever dropped between pred and
  * succ.  Then rmin == rmax == the true cumulative count, independent
  * of partitioning and merge order, and the reported quantile is
  * bit-identical to `min(v) WHERE cum >= ceil(p*n)` in SQL.  The
  * approximate regime is spec-bounded: the true rank of the reported
  * value always lies inside [rank_lo, rank_hi].
  */
object QuantileSketch {

  /** One retained value: g ≤ multiplicity(v), and
    * rmin ≤ #{items ≤ v} ≤ rmax. */
  final case class Tuple(v: Double, g: Long, rmin: Long, rmax: Long)

  /** Mergeable summary: a sorted tuple array plus a pending exact
    * (value → count) batch.  Bounded state: the pending map flushes at
    * 2·capacity distinct; the tuple array compresses to capacity. */
  final class Summary(val capacity: Int) extends Serializable {
    require(capacity >= 8, s"capacity >= 8, got $capacity")
    var tuples: Array[Tuple] = Array.empty
    var n: Long = 0L
    /** False once any compression has dropped a tuple anywhere in this
      * summary's history (thinning keeps intervals collapsed, so the
      * flag — not the intervals — is the exactness witness). */
    var lossless: Boolean = true
    private val pending = mutable.HashMap.empty[Double, Long]

    def insert(v: Double): this.type = {
      // normalize the zero: -0.0 and 0.0 are DISTINCT boxed map keys
      // but numerically equal under <, which would hand -0.0 a
      // cumulative rank that excludes the 0.0 items and break the
      // rank-interval invariant (Spark SQL grouping normalizes too)
      val vn = if (v == 0.0) 0.0 else v
      pending.update(vn, pending.getOrElse(vn, 0L) + 1L)
      n += 1
      if (pending.size > 2 * capacity) flush()
      this
    }

    /** Fold the pending exact batch into the tuple array. */
    def flush(): this.type = {
      if (pending.nonEmpty) {
        val batch = exactTuples(pending)
        pending.clear()
        tuples = mergeSorted(tuples, batch)
        if (tuples.length > capacity) { tuples = thin(tuples, capacity); lossless = false }
      }
      this
    }

    /** Merge another summary in (both flushed first).  Intervals stay
      * valid; compression only if over capacity. */
    def merge(o: Summary): this.type = {
      flush(); o.flush()
      tuples = mergeSorted(tuples, o.tuples)
      n += o.n
      lossless &&= o.lossless
      if (tuples.length > capacity) { tuples = thin(tuples, capacity); lossless = false }
      this
    }

    /** True while no compression has discarded a tuple anywhere
      * upstream — then every interval is collapsed AND every distinct
      * value is retained, so queries are exact. */
    def isExact: Boolean = { flush(); lossless }

    /** Smallest retained v whose rmax reaches the target rank
      * ⌈p·n⌉ — in the exact regime this IS the discrete lower
      * quantile (min v with cum ≥ ⌈p·n⌉). */
    def query(p: Double): Tuple = {
      require(p >= 0.0 && p <= 1.0, s"p in [0,1], got $p")
      flush()
      require(tuples.nonEmpty, "quantile of an empty summary")
      val target = math.max(1L, math.ceil(p * n).toLong)
      tuples.find(_.rmax >= target).getOrElse(tuples.last)
    }
  }

  /** Exact summary of a (value → count) batch: g = count,
    * rmin = rmax = cumulative count. */
  private def exactTuples(m: mutable.HashMap[Double, Long]): Array[Tuple] = {
    val sorted = m.toArray.sortBy(_._1)
    val out = new Array[Tuple](sorted.length)
    var cum = 0L
    var i = 0
    while (i < sorted.length) {
      cum += sorted(i)._2
      out(i) = Tuple(sorted(i)._1, sorted(i)._2, cum, cum)
      i += 1
    }
    out
  }

  /** Mergeable-summaries combine.  For a value x retained only in one
    * side, the other side contributes
    * [rmin(pred ≤ x),  rmax(succ > x) − g(succ)]
    * to x's bounds: everything at-or-below pred is ≤ x, and items ≤ x
    * are a subset of items < succ, whose count is at most succ's
    * last-occurrence rank upper bound minus succ's own multiplicity.
    * Equal values collapse into one tuple with g/rmin/rmax added.
    * Exact ⊎ exact stays exact (the contribution interval collapses to
    * the other side's cumulative count at x). */
  private def mergeSorted(a: Array[Tuple], b: Array[Tuple]): Array[Tuple] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = mutable.ArrayBuffer.empty[Tuple]
    var i = 0; var j = 0
    // bounds the OTHER side contributes around insertion position k
    def contrib(arr: Array[Tuple], k: Int): (Long, Long) = {
      val lo = if (k == 0) 0L else arr(k - 1).rmin
      val hi =
        if (k >= arr.length) arr(arr.length - 1).rmax
        else math.max(lo, arr(k).rmax - arr(k).g)
      (lo, hi)
    }
    while (i < a.length || j < b.length) {
      if (j >= b.length || (i < a.length && a(i).v < b(j).v)) {
        val (lo, hi) = contrib(b, j)
        out += Tuple(a(i).v, a(i).g, a(i).rmin + lo, a(i).rmax + hi)
        i += 1
      } else if (i >= a.length || b(j).v < a(i).v) {
        val (lo, hi) = contrib(a, i)
        out += Tuple(b(j).v, b(j).g, b(j).rmin + lo, b(j).rmax + hi)
        j += 1
      } else { // equal values: both sides retain x — everything adds
        out += Tuple(a(i).v, a(i).g + b(j).g, a(i).rmin + b(j).rmin, a(i).rmax + b(j).rmax)
        i += 1; j += 1
      }
    }
    out.toArray
  }

  /** Compression = tuple dropping (always interval-safe: dropped mass
    * leaves every retained tuple's g/rmin/rmax untouched and still
    * valid).  Keeps both extremes so min/max stay exact, and an even
    * stride between. */
  private def thin(ts: Array[Tuple], capacity: Int): Array[Tuple] = {
    if (ts.length <= capacity) return ts
    val keep = mutable.ArrayBuffer.empty[Tuple]
    val stride = (ts.length - 1).toDouble / (capacity - 1).toDouble
    var k = 0
    var last = -1
    while (k < capacity) {
      val idx = math.min(ts.length - 1, math.round(k * stride).toInt)
      if (idx != last) { keep += ts(idx); last = idx }
      k += 1
    }
    keep.toArray
  }

  /** Quantiles of `c` at probabilities `ps` with rank error bars:
    * (p, value, rank_lo, rank_hi, target_rank).  Nulls/NaNs excluded
    * like the exact path.
    *
    * Plan shape: scan-stage per-partition summaries (≤ 2·capacity
    * pending + capacity tuples of task state), log-depth treeAggregate
    * merge (each round moves ≤ capacity tuples per summary), one
    * bounded array on the driver. */
  def quantiles(df: DataFrame, c: Column, ps: Seq[Double], capacity: Int = 1024): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"probabilities must lie in [0,1], got $ps")
    require(capacity <= (1 << 16), s"capacity <= 2^16 keeps summaries task-bounded, got $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(c.cast(DoubleType).as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
    val summary = vals.as[Double].rdd
      .treeAggregate(new Summary(capacity))(
        (s, v) => s.insert(v), (a, b) => a.merge(b), depth = 2)
    summary.flush()
    val rows =
      if (summary.n == 0L) ps.map(p => (p, Double.NaN, 0L, 0L, 0L))
      else ps.map { p =>
        val t = summary.query(p)
        (p, t.v, t.rmin, t.rmax, math.max(1L, math.ceil(p * summary.n).toLong))
      }
    rows.toDF("p", "value", "rank_lo", "rank_hi", "target_rank")
  }

  /** Per-group result: the discrete lower quantile at the aggregator's
    * probability, with rank bounds and the exactness witness. */
  final case class GroupQuantile(value: Double, rank_lo: Long, rank_hi: Long, exact: Boolean)

  /** The family's [[graft.functions.SketchCodec]]: raw values arrive
    * as doubles (NaN skipped like the exact path), the result is the
    * [[GroupQuantile]] struct at probability `p`, and the buffer
    * travels as the wire format below.  Planned as ObjectHashAggregate
    * with map-side partial merge: the exchange moves one bounded
    * summary per (group, mapper), never the values.  `p` shapes only
    * the result; the sketch-bytes surface leaves it at its default.
    * Stored capacities may differ; a merge compresses to THIS
    * capacity (intervals stay valid under compression). */
  final case class GkCodec(capacity: Int, p: Double = 0.5) extends SketchCodec[Summary] {
    // validate at CONSTRUCTION (driver-side): a bad arg would otherwise
    // fail on the executors after the whole scan ran; the capacity cap
    // mirrors quantiles()' task-boundedness guard
    require(capacity >= 16 && capacity <= (1 << 16), s"capacity in [16, 65536], got $capacity")
    require(p >= 0.0 && p <= 1.0, s"quantile p in [0,1], got $p")
    def name: String = "gk"
    def rawType: DataType = DoubleType
    def resultType: DataType = StructType(Seq(
      StructField("value", DoubleType, nullable = false),
      StructField("rank_lo", LongType, nullable = false),
      StructField("rank_hi", LongType, nullable = false),
      StructField("exact", BooleanType, nullable = false)))
    def zero(): Summary = new Summary(capacity)
    def add(b: Summary, v: Any): Summary = {
      val d = v.asInstanceOf[Double]
      if (d.isNaN) b else b.insert(d)
    }
    def merge(b: Summary, o: Summary): Summary = b.merge(o)
    def result(b: Summary): Any =
      if (b.n == 0L) InternalRow(Double.NaN, 0L, 0L, b.isExact)
      else { val t = b.query(p); InternalRow(t.v, t.rmin, t.rmax, b.isExact) }
    def serialize(b: Summary): Array[Byte] = QuantileSketch.serialize(b)
    def deserialize(bytes: Array[Byte]): Summary = QuantileSketch.deserialize(bytes)
  }

  /** Column surface: `groupQuantile(valueCol, p)` usable in any
    * groupBy — yields a struct (value, rank_lo, rank_hi, exact). */
  def groupQuantile(value: Column, p: Double, capacity: Int = 1024): Column =
    SketchAggregate.column(value.cast(DoubleType), GkCodec(capacity, p))

  // ---------------------------------------------------------------
  // Persistable sketch columns — same incremental-accounting surface
  // as DistinctSketch (per-partition summaries stored once as binary,
  // merged later without re-reading raw values; the quantile twin of
  // that story is the telemetry case: daily latency summaries merged
  // into weekly/quarterly percentiles).  Wire format (big-endian):
  //   byte 0: version (1); int32 capacity; int64 n; byte lossless;
  //   int32 #tuples, then per tuple (float64 v, int64 g, rmin, rmax)
  // Bytes are canonical in the exact regime (flushed exact tuples are
  // the sorted cumulative counts); in the lossy regime they depend on
  // compression history — intervals remain valid either way.
  // ---------------------------------------------------------------

  /** Compact portable bytes for a flushed summary (format above). */
  def serialize(s: Summary): Array[Byte] = {
    s.flush()
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(1); out.writeInt(s.capacity); out.writeLong(s.n)
    out.writeBoolean(s.lossless); out.writeInt(s.tuples.length)
    s.tuples.foreach { t =>
      out.writeDouble(t.v); out.writeLong(t.g); out.writeLong(t.rmin); out.writeLong(t.rmax)
    }
    out.flush()
    bos.toByteArray
  }

  /** Inverse of [[serialize]]; validates the header AND the summary's
    * structural invariants — corrupt bytes must fail LOUDLY at decode
    * (truncated streams are converted from EOFException to the same
    * single exception type), never allocate from attacker-controlled
    * sizes, and never hand a later merge a summary whose intervals are
    * unsound (same discipline as [[HeavyHitters.deserialize]]). */
  def deserialize(bytes: Array[Byte]): Summary = try {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val ver = in.readByte()
    require(ver == 1, s"unknown quantile-sketch version $ver")
    val cap = in.readInt()
    require(cap >= 8 && cap <= (1 << 16), s"corrupt quantile sketch: capacity $cap")
    val s = new Summary(cap)
    s.n = in.readLong()
    require(s.n >= 0L, s"corrupt quantile sketch: negative n ${s.n}")
    s.lossless = in.readBoolean()
    val len = in.readInt()
    // 32 bytes per tuple: the declared count must fit the actual payload
    require(len >= 0 && len <= cap && len.toLong * 32 <= bytes.length,
      s"corrupt quantile sketch: $len tuples for capacity $cap in ${bytes.length} bytes")
    s.tuples = Array.fill(len)(
      Tuple(in.readDouble(), in.readLong(), in.readLong(), in.readLong()))
    // structural invariants a genuine serialize() can never violate;
    // accepting them would corrupt LATER merges instead of failing here
    var i = 0
    var prevRmax = 0L
    while (i < s.tuples.length) {
      val t = s.tuples(i)
      require(!t.v.isNaN, s"corrupt quantile sketch: NaN value at tuple $i")
      // strict order for i > 0 (a -Infinity FIRST tuple is legitimate)
      require(i == 0 || t.v > s.tuples(i - 1).v,
        s"corrupt quantile sketch: unsorted values at tuple $i (${t.v} after ${s.tuples(i - 1).v})")
      require(t.g >= 1L, s"corrupt quantile sketch: g ${t.g} < 1 at tuple $i")
      require(t.rmin <= t.rmax, s"corrupt quantile sketch: rmin ${t.rmin} > rmax ${t.rmax} at tuple $i")
      require(t.rmin >= 1L && t.rmax <= s.n,
        s"corrupt quantile sketch: rank interval [${t.rmin}, ${t.rmax}] outside [1, ${s.n}] at tuple $i")
      require(t.rmax >= prevRmax, s"corrupt quantile sketch: rmax not monotone at tuple $i")
      require(!s.lossless || t.rmin == t.rmax,
        s"corrupt quantile sketch: lossless flag with open interval at tuple $i")
      prevRmax = t.rmax
      i += 1
    }
    require(s.tuples.nonEmpty || s.n == 0L,
      s"corrupt quantile sketch: n ${s.n} with zero tuples")
    require(!s.lossless || s.tuples.lastOption.forall(_.rmax == s.n),
      s"corrupt quantile sketch: lossless but last rmax != n ${s.n}")
    s
  } catch {
    case e: java.io.IOException =>
      throw new IllegalArgumentException(s"corrupt quantile sketch: truncated bytes (${e.getMessage})")
  }

  /** `gkSketch(valueCol)` in any groupBy — a BinaryType column holding
    * the group's rank summary, ready to persist. */
  def gkSketch(value: Column, capacity: Int = 1024): Column =
    SketchAggregate.column(value.cast(DoubleType), GkCodec(capacity), emitBytes = true)

  /** `gkMerge(sketchCol)` in any groupBy — merges STORED summaries
    * without touching raw values; null rows are skipped. */
  def gkMerge(sketch: Column, capacity: Int = 1024): Column =
    SketchAggregate.column(sketch, GkCodec(capacity), stored = true, emitBytes = true)

  /** Scalar: sketch bytes + probability → struct (value, rank_lo,
    * rank_hi, exact); null for a null or empty sketch. */
  def gkQuantile(sketch: Column, p: Double): Column = {
    require(p >= 0.0 && p <= 1.0, s"p in [0,1], got $p")
    val f = org.apache.spark.sql.functions.udf { (b: Array[Byte]) =>
      if (b == null) null
      else {
        val s = deserialize(b)
        if (s.n == 0L) null
        else { val t = s.query(p); GroupQuantile(t.v, t.rmin, t.rmax, s.isExact) }
      }
    }
    f(sketch)
  }
}
