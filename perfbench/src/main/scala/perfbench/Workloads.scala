package perfbench

/** The benchmark's workloads. A Spark workload is a fixed list of
  * groups of `SparkEntry.queries` names. The seed shuffles the order of
  * the groups inside each pass; a group keeps its order, so a memo
  * consumer always runs right after the producer whose frame it reuses
  * and the work in a pass does not depend on the seed. The lists are
  * subsets sized so that one warm pass takes a few seconds at the
  * bundled scale (see README.md). */
object Workloads {

  val Spark: Map[String, Seq[Seq[String]]] = Map(
    // relational HQL surface: aggregates, joins, distinct aggregates,
    // scalar subquery, windows, a star join, set operations
    "sql_surface" -> Seq(
      "q01_pricing_summary", "q03_join_inner", "q14_distinct_agg",
      "q20_scalar_subquery", "q23_window", "q26_star_join",
      "q46_setops_all").map(Seq(_)),
    // the connected-components fixpoint (an iterative producer) and
    // the consumer that reuses its memoized labels
    "corpus_iterative" -> Seq(Seq("d06_dup_clusters", "d07_keep_best")),
    // single-pass corpus operators: MinHash, SimHash, embedding dot
    // products, KMV sketches and tokenization kernels with their
    // candidate joins
    "corpus_scan" -> Seq(
      "d03_dedup_minhash_lsh", "d04_dedup_simhash", "d05_embedding_neardup",
      "t05_kmv_distinct", "i01_inverted_index").map(Seq(_)),
  )

  val Lineage = "lineage"

  def names: Seq[String] = Lineage +: Spark.keys.toSeq.sorted

  /** One pass's operation order for a Spark workload. */
  def order(groups: Seq[Seq[String]], rnd: scala.util.Random): Seq[String] =
    rnd.shuffle(groups).flatten
}
