package perfbench

/** One-off record of the timing-method break: `graft.Bench` times
  * `.count()`, which Catalyst prunes to the columns the count needs; the
  * benchmark forces every output column through a sink. For each query,
  * both methods run in a fresh session (so session memos start cold),
  * after the same small-input warm-up `graft.Bench` does; order alternates
  * per repeat. Prints one JSON object: seconds per query, method, repeat.
  *
  * Usage: perfbench.MethodBreak SF_DIR WARM_DIR REPEATS CPUS
  */
object MethodBreak {
  val Queries = Seq("kg_canonical_triples", "ngs_hash", "text_quality",
    "sbs_groupby")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, warmDir, repeats, cpus) = args
    val methods = Seq[(String, org.apache.spark.sql.DataFrame => Unit)](
      "count" -> (df => df.count()),
      "noop_sink" -> (df => Workload.noop(df)))
    val rows = for {
      rep <- 0 until repeats.toInt
      (method, force) <- if (rep % 2 == 0) methods else methods.reverse
      q <- Queries
    } yield {
      val spark = Main.session(cpus.toInt)
      try {
        force(graft.SparkEntry.queries(q)(spark, warmDir))
        val t0 = System.nanoTime()
        force(graft.SparkEntry.queries(q)(spark, sfDir))
        Map("query" -> q, "method" -> method, "rep" -> rep,
          "s" -> (System.nanoTime() - t0) / 1e9)
      } finally spark.stop()
    }
    println(Main.json(rows))
  }
}
