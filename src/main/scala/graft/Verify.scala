package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (scripts/check.py). Runs in the
  * [[Runtime]] session, the configuration Bench measures (AQE on);
  * GRAFT_MASTER=local-cluster[2,8,4096] runs the whole dump across
  * forked executor JVMs, and GRAFT_ONLY=a,b,c dumps (and emits oracle SQL
  * for) just those queries. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = Runtime.selected(SparkEntry.queries)
    val rt = Runtime(Runtime.session("graft-verify"))
    new java.io.File(outDir).mkdirs()
    val timeoutSec = sys.env.getOrElse("GRAFT_QUERY_TIMEOUT", "240").toLong
    // one wedged query must cost the correctness run one result, not the
    // whole artifact
    selected.foreach { case (name, fn) =>
      rt.run(name, timeoutSec) {
        fn(rt.spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } match {
        case Runtime.TimedOut =>
          System.err.println(s"[verify] $name timed out after ${timeoutSec}s")
        case Runtime.Failed(c) =>
          System.err.println(s"[verify] $name failed: ${c.getMessage}")
        case _ =>
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Runtime.mapper.writeValueAsString(
      Runtime.obj(SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) })))
    rt.spark.stop()
  }
}
