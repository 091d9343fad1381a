package graft.operators

import graft.functions.{SketchAggregate, SketchCodec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Memory-bounded distinct counting — a sparse-exact-then-dense HLL
  * sketch (Flajolet, Fusy, Gandouet, Meunier, "HyperLogLog: the
  * analysis of a near-optimal cardinality estimation algorithm",
  * AofA 2007; the sparse→dense promotion mirrors the standard
  * production refinement, e.g. Heule et al., "HyperLogLog in
  * practice", EDBT 2013).
  *
  * Why it exists at 100 TB: `count(distinct key)` per group shuffles
  * every distinct (group, key) pair; Spark's built-in
  * `approx_count_distinct` fixes the shuffle but is approximate from
  * the first row and its answer is not self-describing.  This sketch
  * keeps the RAW VALUES while a group's cardinality is small (exact
  * answer, `exact = true`), promotes to 2^p max-rank registers when it
  * grows (bounded state, ~1.04/√2^p relative error, `exact = false`),
  * merges losslessly in both regimes, and runs as a native Catalyst
  * aggregate ([[graft.functions.SketchAggregate]]) so partial merges
  * happen map-side and the shuffle carries one sketch per (group,
  * mapper) — never the keys.
  *
  * Exact regime (how the oracle gates the machinery): while every
  * partial AND the merged union stay ≤ sparseCap distinct values, the
  * sketch holds the exact value set — the count equals
  * `count(DISTINCT key)` bit-for-bit, independent of partitioning and
  * merge order.  The approximate regime is spec-bounded.  Sparse mode
  * stores the values themselves (not hashes), so exactness is
  * unconditional — no collision caveat.
  */
object DistinctSketch {

  /** 64-bit portable value hash: first 8 bytes (big-endian) of
    * md5(UTF-8) — the same digest family as the engine's deterministic
    * sampling keys, reproducible by any engine. */
  // ThreadLocal digest: getInstance per hashed VALUE is an allocation
  // + provider lookup in the dense-mode hot path (the same cost
  // WindowHash.md5Local exists to remove)
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def hash64(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** The sketch: sparse exact value set (≤ sparseCap) or dense
    * registers (2^p bytes), never both. */
  final class Hll(val p: Int, val sparseCap: Int) extends Serializable {
    require(p >= 7 && p <= 16, s"p in [7,16] (128..65536 registers), got $p")
    require(sparseCap >= 1 && sparseCap <= (1 << 16),
      s"sparseCap in [1, 2^16] keeps sparse state task-bounded, got $sparseCap")
    var sparse: mutable.HashSet[String] = mutable.HashSet.empty
    var regs: Array[Byte] = null // null while sparse

    private def m: Int = 1 << p

    private def denseAdd(s: String): Unit = {
      val h = hash64(s)
      val idx = (h >>> (64 - p)).toInt
      val w = h << p
      val rho = (if (w == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1
      if (rho > regs(idx)) regs(idx) = rho.toByte
    }

    private def promote(): Unit = {
      regs = new Array[Byte](m)
      sparse.foreach(denseAdd)
      sparse = null
    }

    def add(s: String): this.type = {
      if (regs != null) denseAdd(s)
      else {
        sparse.add(s)
        if (sparse.size > sparseCap) promote()
      }
      this
    }

    def merge(o: Hll): this.type = {
      require(o.p == p, s"incompatible precisions $p vs ${o.p}")
      if (regs == null && o.regs == null) {
        sparse ++= o.sparse
        if (sparse.size > sparseCap) promote()
      } else {
        if (regs == null) promote()
        if (o.regs == null) o.sparse.foreach(denseAdd)
        else {
          var i = 0
          while (i < m) { if (o.regs(i) > regs(i)) regs(i) = o.regs(i); i += 1 }
        }
      }
      this
    }

    /** (estimate, exact?) — exact while still sparse. */
    def result: (Long, Boolean) = {
      if (regs == null) (sparse.size.toLong, true)
      else {
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        var sum = 0.0; var zeros = 0; var i = 0
        while (i < m) {
          sum += math.pow(2.0, -regs(i).toDouble)
          if (regs(i) == 0) zeros += 1
          i += 1
        }
        var e = alpha * m.toDouble * m.toDouble / sum
        if (e <= 2.5 * m && zeros > 0) e = m * math.log(m.toDouble / zeros)
        (math.round(e), false)
      }
    }
  }

  final case class DistinctEst(n_distinct: Long, exact: Boolean)

  /** The family's [[graft.functions.SketchCodec]]: raw keys arrive as
    * strings, the result is the (n_distinct, exact) struct, and the
    * buffer travels as the wire format below.  Spark plans the
    * aggregate as ObjectHashAggregate with map-side partial merge, so
    * the exchange moves sketches, not keys.  All merged sketches must
    * share `p` (the register spaces are incompatible otherwise —
    * Hll.merge enforces it). */
  final case class HllCodec(p: Int, sparseCap: Int) extends SketchCodec[Hll] {
    zero() // Hll checks p and sparseCap: fail when the column is built, not in a task
    def name: String = "hll"
    def rawType: DataType = StringType
    def resultType: DataType = StructType(Seq(
      StructField("n_distinct", LongType, nullable = false),
      StructField("exact", BooleanType, nullable = false)))
    def zero(): Hll = new Hll(p, sparseCap)
    def add(b: Hll, v: Any): Hll = b.add(v.toString)
    def merge(b: Hll, o: Hll): Hll = b.merge(o)
    def result(b: Hll): Any = { val (n, exact) = b.result; InternalRow(n, exact) }
    def serialize(b: Hll): Array[Byte] = DistinctSketch.serialize(b)
    def deserialize(bytes: Array[Byte]): Hll = DistinctSketch.deserialize(bytes)
  }

  /** Column surface: `countDistinctSketch(keyCol)` usable in any
    * groupBy — yields a struct (n_distinct, exact).  Nulls are skipped
    * like SQL `count(DISTINCT ...)`. */
  def countDistinctSketch(key: Column, p: Int = 12, sparseCap: Int = 4096): Column =
    SketchAggregate.column(key.cast("string"), HllCodec(p, sparseCap))

  // ---------------------------------------------------------------
  // Persistable sketch columns — the INCREMENTAL accounting surface.
  // At 100 TB the point of a mergeable sketch is that yesterday's scan
  // is never repeated: per-partition (per-day, per-source) sketches
  // are computed once, STORED as binary columns, and every later
  // question (this week's distinct users, the quarter's) is a merge of
  // stored sketches — the same never-re-read discipline as the
  // minhash band index (q86).  The wire format is engine-independent
  // (md5 value hashes + plain registers), so any reader can
  // reimplement it from this doc:
  //   byte 0: version (1)
  //   byte 1: p;  bytes 2..5: sparseCap (int32 BE);  byte 6: mode
  //   mode 0 (sparse-exact): int32 n, then n × (int32 len, UTF-8)
  //   mode 1 (dense):        2^p register bytes
  // ---------------------------------------------------------------

  /** Compact portable bytes for a sketch (format above). */
  def serialize(h: Hll): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(1); out.writeByte(h.p); out.writeInt(h.sparseCap)
    if (h.regs == null) {
      out.writeByte(0)
      out.writeInt(h.sparse.size)
      // sorted for byte-determinism: the same value SET must serialize
      // to the same bytes regardless of insertion order
      h.sparse.toArray.sorted.foreach { s =>
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      }
    } else {
      out.writeByte(1)
      out.write(h.regs)
    }
    out.flush()
    bos.toByteArray
  }

  /** Inverse of [[serialize]]; validates the header AND the payload's
    * structural invariants — corrupt bytes fail LOUDLY at decode with
    * one exception type (truncated streams are converted from
    * EOFException), never corrupt a later merge (same discipline as
    * [[HeavyHitters.deserialize]] / [[QuantileSketch.deserialize]]). */
  def deserialize(bytes: Array[Byte]): Hll = try {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val ver = in.readByte()
    require(ver == 1, s"unknown sketch version $ver")
    val p = in.readByte().toInt
    val cap = in.readInt()
    val h = new Hll(p, cap) // constructor rejects p/cap out of range
    in.readByte() match {
      case 0 =>
        val n = in.readInt()
        require(n >= 0 && n <= cap && n.toLong * 4 <= bytes.length,
          s"corrupt sparse sketch: $n values for cap $cap in ${bytes.length} bytes")
        var i = 0
        while (i < n) {
          val len = in.readInt()
          require(len >= 0 && len <= bytes.length, s"corrupt sketch: value length $len")
          val b = new Array[Byte](len)
          in.readFully(b)
          val s = new String(b, java.nio.charset.StandardCharsets.UTF_8)
          require(h.sparse.add(s), s"corrupt sparse sketch: duplicate value at entry $i")
          i += 1
        }
      case 1 =>
        h.regs = new Array[Byte](1 << p)
        h.sparse = null
        in.readFully(h.regs)
        // a genuine register holds a leading-zero rank in [0, 65-p];
        // out-of-range bytes would poison every future max-merge
        var i = 0
        val maxRho = 65 - p
        while (i < h.regs.length) {
          require(h.regs(i) >= 0 && h.regs(i) <= maxRho,
            s"corrupt dense sketch: register $i = ${h.regs(i)} outside [0, $maxRho]")
          i += 1
        }
      case other => throw new IllegalArgumentException(s"unknown sketch mode $other")
    }
    h
  } catch {
    case e: java.io.IOException =>
      throw new IllegalArgumentException(s"corrupt sketch: truncated bytes (${e.getMessage})")
  }

  /** `hllSketch(keyCol)` in any groupBy — a BinaryType column holding
    * the group's sketch, ready to persist. */
  def hllSketch(key: Column, p: Int = 12, sparseCap: Int = 4096): Column =
    SketchAggregate.column(key.cast("string"), HllCodec(p, sparseCap), emitBytes = true)

  /** `hllMerge(sketchCol)` in any groupBy — merges STORED sketches
    * (e.g. daily partitions) into one, without touching raw data.  All
    * stored sketches must share precision `p`; null rows are skipped. */
  def hllMerge(sketch: Column, p: Int = 12, sparseCap: Int = 4096): Column =
    SketchAggregate.column(sketch, HllCodec(p, sparseCap), stored = true, emitBytes = true)

  /** Scalar: sketch bytes → struct (n_distinct, exact). */
  def hllEstimate(sketch: Column): Column = {
    val f = org.apache.spark.sql.functions.udf { (b: Array[Byte]) =>
      if (b == null) null
      else { val (n, e) = deserialize(b).result; DistinctEst(n, e) }
    }
    f(sketch)
  }

  /** Per-group distinct counts: (groupCols..., n_distinct, exact). */
  def perGroup(df: DataFrame, groupCols: Seq[Column], key: Column,
               p: Int = 12, sparseCap: Int = 4096): DataFrame = {
    val out = df.groupBy(groupCols: _*)
      .agg(countDistinctSketch(key, p, sparseCap).as("d"))
    // re-select the agg output's OWN group columns (by name, from its
    // schema): re-resolving the caller's expressions would throw for
    // any non-attribute group (e.g. col("a") % 10) whose inputs no
    // longer exist after the aggregation
    val groupNames = out.columns.dropRight(1).map(col).toSeq
    out.select(groupNames :+ col("d.n_distinct").as("n_distinct") :+ col("d.exact").as("exact"): _*)
  }
}
