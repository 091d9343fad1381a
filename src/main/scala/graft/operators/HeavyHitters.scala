package graft.operators

import graft.functions.{SketchAggregate, SketchCodec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Memory-bounded heavy hitters — SpaceSaving (Metwally, Agrawal,
  * El Abbadi, "Efficient computation of frequent and top-k elements
  * in data streams", ICDT 2005) per partition, merged with rigorous
  * error intervals through ONE shuffle of bounded size.
  *
  * Why it exists at 100 TB: a `groupBy(key).count().orderBy(...)` over
  * URLs / n-grams / user ids shuffles EVERY distinct key to build a
  * table nobody reads past the head.  Here each task keeps a summary
  * of `capacity` counters regardless of distinct-key cardinality, so
  * the shuffle moves ≤ numPartitions·capacity rows total and executor
  * state never grows with the key space.
  *
  * Error accounting (the mergeable-summaries bound): in a partition
  * whose summary tracks the item, count−err ≤ true ≤ count; in a
  * partition whose summary does NOT track it, 0 ≤ true ≤ that
  * summary's minimum counter.  Summing over partitions gives
  * [n_lower, n_upper] per item, computed exactly in the merge — when
  * no partition ever evicted (per-partition distinct ≤ capacity),
  * n_lower == n_upper == the exact count, which is how the oracle
  * gates the machinery; the approximate regime is spec-bounded.
  */
object HeavyHitters {

  /** SpaceSaving summary — the canonical stream-summary structure of
    * the paper (counter nodes grouped into count-ordered buckets)
    * rather than a heap: every offer is O(1) amortized hash/bucket ops
    * with ZERO steady-state allocation (the evicted node object is
    * reused for the incoming item).  The earlier lazy-deletion-heap
    * formulation was linear too, but its per-offer tuple boxing +
    * enqueue/stale-pop churn made the 100M-row high-cardinality
    * rehearsal (BASELINE.md round-14 sketch table) run 2× SLOWER per
    * row at 5× data from GC pressure alone; this structure removed
    * the allocation and the super-linearity.
    *
    * Buckets are keyed by count in a TreeMap (the log factor is over
    * DISTINCT counter values, a handful in steady state where all
    * counters ride the rising minimum); nodes within a bucket keep
    * insertion order (LinkedHashSet), so eviction — oldest node of the
    * minimum bucket — is deterministic for a given input order. */
  final class SpaceSaving(val capacity: Int) extends Serializable {
    require(capacity >= 1, s"capacity >= 1, got $capacity")
    private final class Node(var item: String, var count: Long, var err: Long)
      extends Serializable
    private val nodes = new java.util.HashMap[String, Node](capacity * 2)
    private val buckets = new java.util.TreeMap[Long, java.util.LinkedHashSet[Node]]()
    // merge-truncation bound: any UNTRACKED item may hold up to `floor`
    // occurrences (0 until a merge ever dropped items); see merge().
    // NOTE: floor > 0 does NOT imply the summary is full — merging a
    // full, evicted low-capacity sketch into a larger accumulator
    // leaves nodes.size < capacity with floor > 0, so both offer()
    // branches must charge max(floor, min-counter) as the incoming
    // item's error, and absentBound's max() over floor is load-bearing.
    private var floor: Long = 0L
    // a summary that NEVER evicted or truncated tracks every item its
    // substream contained — an untracked item's true count there is 0,
    // even when the summary happens to sit exactly at capacity
    private var evicted: Boolean = false
    // spec surface: total auxiliary entries must stay O(capacity)
    private[graft] def heapSize: Int = nodes.size

    private def link(n: Node): Unit = {
      var s = buckets.get(n.count)
      if (s == null) { s = new java.util.LinkedHashSet[Node](4); buckets.put(n.count, s) }
      s.add(n); ()
    }
    private def unlink(n: Node): Unit = {
      val s = buckets.get(n.count)
      s.remove(n)
      if (s.isEmpty) { buckets.remove(n.count); () }
    }

    def offer(item: String, inc: Long = 1L): Unit = {
      val n = nodes.get(item)
      if (n != null) { unlink(n); n.count += inc; link(n) }
      else if (nodes.size < capacity) {
        // after a lossy merge an untracked item may already hold up to
        // `floor` occurrences, so a below-capacity insert is only
        // error-free while floor == 0; charging the floor keeps the
        // interval sound (count = inc + floor upper-bounds the truth,
        // count - err = inc stays a valid lower bound)
        val m = new Node(item, inc + floor, floor)
        nodes.put(item, m); link(m)
      } else {
        // evict the oldest node at the minimum count, charging the
        // incoming item's full absent bound — max(min counter, merge
        // floor) — as its overestimation error
        evicted = true
        val victim = buckets.firstEntry().getValue.iterator().next()
        unlink(victim)
        nodes.remove(victim.item)
        victim.err = math.max(victim.count, floor)
        victim.count = victim.err + inc
        victim.item = item
        nodes.put(item, victim)
        link(victim)
      }
      ()
    }

    /** Tracked counts (copy — the live structure stays private). */
    def counts: mutable.Map[String, Long] = {
      val m = mutable.HashMap.empty[String, Long]
      nodes.forEach((k, v) => m(k) = v.count)
      m
    }

    /** Tracked overestimation errors (copy, same contract). */
    def errs: mutable.Map[String, Long] = {
      val m = mutable.HashMap.empty[String, Long]
      nodes.forEach((k, v) => m(k) = v.err)
      m
    }

    // codec surface (serialize/deserialize below): state accessors and
    // reconstruction hooks that keep nodes/buckets private
    private[operators] def everEvicted: Boolean = evicted
    private[operators] def floorBound: Long = floor
    private[operators] def restore(item: String, count: Long, err: Long): Unit = {
      require(nodes.size < capacity, "restore past capacity")
      require(!nodes.containsKey(item), s"duplicate item in sketch bytes: $item")
      val n = new Node(item, count, err)
      nodes.put(item, n); link(n)
    }
    private[operators] def restoreBounds(ev: Boolean, fl: Long): Unit = {
      evicted = ev; floor = fl
    }

    /** One-pass (item, count, err) snapshot of the tracked nodes. */
    private[graft] def entries: Iterator[(String, Long, Long)] = {
      val b = Vector.newBuilder[(String, Long, Long)]
      b.sizeHint(nodes.size)
      nodes.forEach((k, v) => b += ((k, v.count, v.err)))
      b.result().iterator
    }

    /** Upper bound on the count of any UNTRACKED item: 0 while the
      * summary never evicted NOR truncated (it then tracks its whole
      * substream — true even at exactly-capacity distinct, the
      * boundary the q117 exact-regime contract needs), else the max of
      * the merge floor and the current minimum counter. */
    def absentBound: Long =
      if (!evicted && floor == 0L) 0L
      else math.max(floor, if (nodes.size < capacity) 0L else buckets.firstKey())

    /** Mergeable-summaries combine (Agarwal et al., PODS'12 §3, the
      * SpaceSaving/MG algebra): for each item in either summary the
      * merged interval is the SUM of per-side intervals, where an
      * absent side contributes [0, absentBound].  The union is then
      * truncated to the top `capacity` items by upper bound (ties by
      * item, deterministic), and the floor records the largest bound a
      * dropped or never-seen item could still hold.  When neither side
      * ever evicted or truncated (exact regime), bounds collapse and
      * the merge is exact — the property the q117 oracle gates.
      * Mutates and returns `this`. */
    def merge(o: SpaceSaving): SpaceSaving = {
      // differing capacities are fine (the GK twin's contract too): the
      // per-side bounds are each side's own, and the union truncates to
      // THIS summary's capacity — a stored high-resolution sketch can
      // be merged into a coarser accumulator, never the reverse claim
      val b1 = absentBound
      val b2 = o.absentBound
      // (upper, lower) per union item
      val m = new java.util.HashMap[String, (Long, Long)](2 * (nodes.size + o.nodes.size))
      nodes.forEach((k, n) => m.put(k, (n.count + b2, n.count - n.err)))
      o.nodes.forEach { (k, n2) =>
        val prev = m.get(k)
        if (prev == null) m.put(k, (b1 + n2.count, n2.count - n2.err))
        else m.put(k, (prev._1 - b2 + n2.count, prev._2 + (n2.count - n2.err)))
      }
      val all = new Array[(String, Long, Long)](m.size)
      var i = 0
      m.forEach { (k, ul) => all(i) = (k, ul._1, ul._2); i += 1 }
      // top `capacity` by upper desc, item asc — deterministic truncation
      val sorted = all.sortBy { case (item, u, _) => (-u, item) }
      val kept = sorted.take(capacity)
      val dropped = sorted.drop(capacity)
      nodes.clear(); buckets.clear()
      evicted = evicted || o.evicted || dropped.nonEmpty
      floor =
        if (!evicted) 0L
        else math.max(b1 + b2,
          if (dropped.isEmpty) 0L else dropped.iterator.map(_._2).max)
      kept.foreach { case (item, u, l) =>
        val n = new Node(item, u, u - l)
        nodes.put(item, n); link(n)
      }
      this
    }
  }

  /** Top-k heavy hitters of `key` with exact error intervals:
    * (item, n_lower, n_upper), the k largest by upper bound
    * (ties broken by item for determinism).  Null keys are ignored.
    *
    * Plan shape: scan-stage mapPartitions summaries (bounded state) →
    * one shuffle of ≤ numPartitions·capacity rows → broadcast one-row
    * total of the per-partition absent-bounds → TakeOrdered.  No stage
    * ever holds more than `capacity` counters per task. */
  def topK(df: DataFrame, key: Column, k: Int, capacity: Int): DataFrame = {
    require(k >= 1 && capacity >= k, s"need capacity >= k >= 1, got k=$k capacity=$capacity")
    require(capacity <= (1 << 16), s"capacity <= 2^16 keeps summaries task-bounded, got $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val partials = df.select(key.cast(StringType).as("item"))
      .filter(col("item").isNotNull).as[String]
      .mapPartitions { it =>
        val ss = new SpaceSaving(capacity)
        it.foreach(ss.offer(_))
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val bound = ss.absentBound
        // single pass over the live nodes: counts/errs are COPIES, so
        // per-item errs() lookups would rebuild the map capacity times
        ss.entries.map { case (item, c, err) => (item, c, err, bound, pid) }
      }.toDF("item", "c", "err", "p_min", "pid")
      // persist: the frame feeds TWO branches (total-min and the item
      // aggregate); unpersisted, the whole scan + SpaceSaving pass
      // would run twice — and a nondeterministically-ordered upstream
      // could give the two runs DIFFERENT summaries, mixing bounds
      // from different executions into one interval.  Bounded at
      // partitions x capacity rows.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Σ_p absentBound_p as a broadcast one-row frame (bounded agg)
    val totalMin = partials.select(col("pid"), col("p_min")).distinct()
      .agg(coalesce(sum(col("p_min")), lit(0L)).as("total_min"))
    partials.groupBy(col("item"))
      .agg(sum(col("c")).as("c_sum"),
        sum(col("c") - col("err")).as("n_lower"),
        sum(col("p_min")).as("mins_present"))
      .crossJoin(broadcast(totalMin))
      .select(col("item"), col("n_lower"),
        (col("c_sum") + (col("total_min") - col("mins_present"))).as("n_upper"))
      .orderBy(col("n_upper").desc, col("item"))
      .limit(k)
  }

  /** One reported heavy hitter: true count ∈ [n_lower, n_upper]. */
  final case class HeavyHit(item: String, n_lower: Long, n_upper: Long)

  // ---------------------------------------------------------------
  // Persistable sketch columns — the heavy-hitter member of the
  // incremental-accounting trio (HLL = DistinctSketch, rank summaries
  // = QuantileSketch): per-partition summaries stored once as binary,
  // merged later without re-reading keys.  Wire format (big-endian):
  //   byte 0: version (1); int32 capacity; byte everEvicted;
  //   int64 floor; int32 #items, then per item
  //   (int32 len, UTF-8 bytes, int64 count, int64 err)
  // Items are written in sorted order, so the same summary STATE
  // serializes to the same bytes regardless of insertion history's
  // incidental ordering.
  // ---------------------------------------------------------------

  /** Compact portable bytes for a summary (format above). */
  def serialize(ss: SpaceSaving): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(1); out.writeInt(ss.capacity)
    out.writeBoolean(ss.everEvicted); out.writeLong(ss.floorBound)
    val items = ss.entries.toArray.sortBy(_._1)
    out.writeInt(items.length)
    items.foreach { case (item, c, err) =>
      val b = item.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(c); out.writeLong(err)
    }
    out.flush()
    bos.toByteArray
  }

  /** Inverse of [[serialize]]; validates the header AND the stated
    * invariants (corrupt bytes fail loudly with one exception type,
    * never allocate from attacker-controlled sizes — truncated streams
    * are converted from EOFException to the same loud contract). */
  def deserialize(bytes: Array[Byte]): SpaceSaving = try {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val ver = in.readByte()
    require(ver == 1, s"unknown heavy-hitter sketch version $ver")
    val cap = in.readInt()
    require(cap >= 1 && cap <= (1 << 16), s"corrupt sketch: capacity $cap")
    val ss = new SpaceSaving(cap)
    val ev = in.readBoolean()
    val fl = in.readLong()
    require(fl >= 0L, s"corrupt sketch: negative floor $fl")
    // genuine sketches never carry dropped mass without the evicted
    // flag — accepting that shape would let a later merge silently
    // reset the floor and report unsound 'exact' bounds
    require(fl == 0L || ev, s"corrupt sketch: floor $fl without the evicted flag")
    val n = in.readInt()
    require(n >= 0 && n <= cap && n.toLong * 20 <= bytes.length,
      s"corrupt sketch: $n items for capacity $cap in ${bytes.length} bytes")
    var i = 0
    while (i < n) {
      val len = in.readInt()
      require(len >= 0 && len <= bytes.length, s"corrupt sketch: item length $len")
      val b = new Array[Byte](len)
      in.readFully(b)
      val c = in.readLong(); val err = in.readLong()
      require(c >= 0L && err >= 0L && err <= c, s"corrupt sketch: count $c err $err")
      ss.restore(new String(b, java.nio.charset.StandardCharsets.UTF_8), c, err)
      i += 1
    }
    ss.restoreBounds(ev, fl)
    ss
  } catch {
    case e: java.io.IOException =>
      throw new IllegalArgumentException(s"corrupt sketch: truncated bytes (${e.getMessage})")
  }

  /** ONE definition of the ranking chain (upper desc, item asc) shared
    * by [[SsCodec]]'s result and the ssTopK scalar, so tie-break or
    * bound-formula fixes can never drift between them. */
  private def topHits(ss: SpaceSaving, k: Int): Seq[HeavyHit] =
    ss.entries.toSeq
      .map { case (item, c, err) => HeavyHit(item, c - err, c) }
      .sortBy(h => (-h.n_upper, h.item))
      .take(k)

  /** The family's [[graft.functions.SketchCodec]] — the per-GROUP
    * surface ([[topK]] is global).  One summary per (group, task) under
    * ObjectHashAggregate: the exchange moves summaries, never the key
    * stream.  Raw keys arrive as strings (nulls ignored, like
    * [[topK]]), the result is the top-`k` [[HeavyHit]] array, and the
    * buffer travels as the wire format above — deserialized summaries
    * are only ever merged into (the item-sorted rebuild changes no
    * merge result).  `k` shapes only the result; the sketch-bytes
    * surface leaves it at 1.  Stored capacities may differ; a merge
    * truncates to THIS capacity. */
  final case class SsCodec(capacity: Int, k: Int = 1) extends SketchCodec[SpaceSaving] {
    require(capacity >= 1 && capacity <= (1 << 16),
      s"capacity in [1, 65536] keeps summaries task-bounded, got $capacity")
    require(k >= 1 && capacity >= k, s"need capacity >= k >= 1, got k=$k capacity=$capacity")
    def name: String = "ss"
    def rawType: DataType = StringType
    def resultType: DataType = ArrayType(StructType(Seq(
      StructField("item", StringType, nullable = true),
      StructField("n_lower", LongType, nullable = false),
      StructField("n_upper", LongType, nullable = false))), containsNull = true)
    def zero(): SpaceSaving = new SpaceSaving(capacity)
    def add(b: SpaceSaving, v: Any): SpaceSaving = { b.offer(v.toString); b }
    def merge(b: SpaceSaving, o: SpaceSaving): SpaceSaving = b.merge(o)
    def result(b: SpaceSaving): Any = new GenericArrayData(topHits(b, k).map(h =>
      InternalRow(UTF8String.fromString(h.item), h.n_lower, h.n_upper)).toArray[Any])
    def serialize(b: SpaceSaving): Array[Byte] = HeavyHitters.serialize(b)
    def deserialize(bytes: Array[Byte]): SpaceSaving = HeavyHitters.deserialize(bytes)
  }

  /** `ssSketch(keyCol)` in any groupBy — a BinaryType column holding
    * the group's summary, ready to persist. */
  def ssSketch(key: Column, capacity: Int = 4096): Column =
    SketchAggregate.column(key.cast(StringType), SsCodec(capacity), emitBytes = true)

  /** `ssMerge(sketchCol)` in any groupBy — merges STORED summaries
    * (the PODS'12 algebra of [[SpaceSaving.merge]]) without touching
    * raw keys; null rows are skipped.  Stored capacities may differ;
    * the result truncates to THIS call's capacity (same contract as
    * the GK twin). */
  def ssMerge(sketch: Column, capacity: Int = 4096): Column =
    SketchAggregate.column(sketch, SsCodec(capacity), stored = true, emitBytes = true)

  /** Scalar: sketch bytes → top-k array of (item, n_lower, n_upper)
    * structs (upper desc, item asc); null for a null sketch. */
  def ssTopK(sketch: Column, k: Int): Column = {
    require(k >= 1, s"k >= 1, got $k")
    val f = org.apache.spark.sql.functions.udf { (b: Array[Byte]) =>
      if (b == null) null else topHits(deserialize(b), k)
    }
    f(sketch)
  }

  /** Per-group top-k heavy hitters with error intervals: one row per
    * (group, item), the k largest per group by upper bound (ties by
    * item).  Null keys are ignored, like [[topK]]. */
  def groupTopK(df: DataFrame, groupCols: Seq[Column], key: Column,
                k: Int, capacity: Int): DataFrame = {
    val hits = SketchAggregate.column(key.cast(StringType), SsCodec(capacity, k))
    val out = df.groupBy(groupCols: _*).agg(hits.as("_hits"))
    // group columns may not collide with the scratch/output names —
    // same loud-failure pattern as Scale.bucketedLag/bucketedSessions
    val reserved = Seq("_hits", "_h", "item", "n_lower", "n_upper")
    require(!out.columns.dropRight(1).exists(c => reserved.exists(c.equalsIgnoreCase)),
      s"group column collides with ${reserved.mkString("/")} — alias it first")
    // re-select the agg output's OWN group columns by name (caller
    // expressions may not re-resolve post-aggregation) — the same
    // pattern as DistinctSketch.perGroup
    val groupNames = out.columns.dropRight(1).map(col).toSeq
    out.select(groupNames :+ explode(col("_hits")).as("_h"): _*)
      .select(groupNames :+ col("_h.item").as("item") :+
        col("_h.n_lower").as("n_lower") :+ col("_h.n_upper").as("n_upper"): _*)
  }
}
