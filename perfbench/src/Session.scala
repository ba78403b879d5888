package perfbench

import org.apache.spark.sql.SparkSession

/** The one session configuration of the benchmark: graft.Bench's
  * settings (AQE on, shuffle partitions equal to the cores, a codegen
  * cache sized for many queries), on `local[cores]` with the cores
  * passed in `perfbench.cores`, and every scratch directory inside the
  * work directory passed in `perfbench.work`. */
object Session {
  def cores: Int = sys.props.getOrElse("perfbench.cores", "4").toInt
  def work: String = sys.props.getOrElse("perfbench.work", "perfbench-work")

  def builder(app: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.broadcastTimeout", "600")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
}
