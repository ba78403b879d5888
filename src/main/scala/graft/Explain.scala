package graft

/** Dev tool: print the formatted physical plan and wall time of one
  * registry query in the session Bench measures (AQE on, so the plan
  * printed is the initial adaptive plan). Usage: graft.Explain
  * <queryName> [sfDir]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Runtime.session("graft-explain")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    val t0 = System.nanoTime()
    val n = df.count()
    println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
  }
}
