package perfbench

/** The benchmark's workloads over the engine's driver slots
  * (`graft.SparkEntry.queries`), named by slot prefix (`q34b` for
  * `q34b_flac_meta`).
  *
  * `full` partitions every slot by the layer that dominates its time;
  * `WorkloadsSpec` fails when a slot is added to the engine without
  * being placed here.  `timed` is the fixed subset of each workload that
  * one benchmark run loops over: a whole pass of a `full` workload takes
  * 30-60 s at sf0.1 on four cores, too long to repeat inside one run, so
  * each run times a smaller slot set that keeps the workload's layer
  * split.  `--full` on the runner times the whole partition instead.
  */
object Workloads {

  private def range(from: Int, to: Int): Seq[String] = (from to to).map(i => f"q$i%02d")

  val full: Map[String, Seq[String]] = Map(
    // ezdata's own surface: selectWhere, grouping, joins, stats, binned
    // cubes, astro predicates, event windows over lineitem/orders/events
    "analyst" -> (range(1, 17) ++ Seq("q22", "q24", "q25") ++ range(29, 33) ++
      range(35, 39) ++ range(41, 46) ++ range(50, 57) ++
      Seq("q68", "q100", "q101", "q107", "q109", "q115", "q116", "q124")),
    // text, quality, packing, sketch and multimodal kernels over documents
    "corpus" -> (range(18, 21) ++ Seq("q34", "q34b", "q34c", "q48") ++ range(60, 66) ++
      Seq("q71", "q73", "q74", "q76") ++ range(78, 85) ++ Seq("q88", "q90") ++
      range(92, 94) ++ Seq("q95", "q95b", "q95c", "q95d") ++ range(97, 99) ++
      range(102, 106) ++ Seq("q112", "q113", "q117", "q123", "q125")),
    // dedup and similarity: MinHash/SimHash/cosine kernels, kNN graphs
    "neardup" -> (Seq("q23") ++ range(26, 28) ++ Seq("q40", "q47", "q49", "q58", "q67",
      "q69", "q70", "q72", "q75", "q77", "q86", "q87", "q89", "q91", "q96", "q108",
      "q110", "q110b", "q111")),
    // the write side: layout writes, compaction, manifest commits,
    // persisted sketches, readStream micro-batches
    "ingest" -> (Seq("q59", "q114") ++ range(118, 122) ++ range(126, 128)),
  )

  val timed: Map[String, Seq[String]] = Map(
    "analyst" -> Seq("q01", "q04", "q05", "q13", "q15", "q22", "q29", "q101", "q107"),
    "corpus" -> Seq("q19", "q20", "q21", "q34", "q62", "q64", "q71", "q85", "q93", "q95d"),
    "neardup" -> Seq("q23", "q47", "q110"),
    "ingest" -> Seq("q119", "q120", "q121", "q128"),
  )

  /** Tables each workload's timed slots read; `sources.open_s` times
    * opening these directly. */
  val tables: Map[String, Seq[String]] = Map(
    "analyst" -> Seq("lineitem", "orders", "customer", "events"),
    "corpus" -> Seq("documents"),
    "neardup" -> Seq("embeddings"),
    "ingest" -> Seq("documents", "events"),
  )

  def prefix(slot: String): String = slot.takeWhile(_ != '_')

  /** Resolves prefixes to slot names, in the given order; an unknown or
    * ambiguous prefix is an error. */
  def resolve(prefixes: Seq[String], slots: Iterable[String]): Seq[String] = {
    val byPrefix = slots.toSeq.groupBy(prefix)
    prefixes.map { p =>
      byPrefix.get(p) match {
        case Some(Seq(one)) => one
        case Some(many) => sys.error(s"slot prefix $p is ambiguous: ${many.mkString(", ")}")
        case None => sys.error(s"slot prefix $p names no slot")
      }
    }
  }
}
