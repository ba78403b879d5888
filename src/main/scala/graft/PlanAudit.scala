package graft

/** Dev tool (r14 optimization round): sweep EVERY registry query's
  * physical plan at a small sf and print the operator counts that
  * localize duplicated-subtree waste — parquet scans, exchanges,
  * generates, object/sort aggregates — sorted by scan count. A query
  * whose plan scans a table far more often than its documented pass
  * count re-evaluates a shared subtree per consumer (the
  * naive_bayes_lang finding: 12 scans where 3 passes suffice).
  *
  * Usage: PlanAudit [sfDir]  (default /root/testdata/sf0.001)
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // The one setting that differs from the bench: a static plan count
    // needs a plan that does not change at run time.
    val spark = Runtime.session("graft-plan-audit",
      extra = Seq("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.registry.map { q =>
      val counts = try {
        val plan = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        def c(p: String) = p.r.findAllIn(plan).length
        (c("Scan parquet"), c("Exchange"), c("Generate"),
          c("(?:ObjectHash|Sort)Aggregate"), c("SortMergeJoin"))
      } catch { case e: Throwable => (-1, -1, -1, -1, -1) }
      (q.name, counts)
    }
    println(f"${"query"}%-34s scans exch gen objAgg smj")
    rows.sortBy(-_._2._1).foreach { case (n, (s, e, g, o, j)) =>
      println(f"$n%-34s $s%5d $e%4d $g%3d $o%6d $j%3d")
    }
    spark.stop()
  }
}
