package perfbench

import java.nio.file.Paths

/** Loads the classes every benchmark JVM needs, so that the runner can
  * dump them into a class-data-sharing archive once per build: it
  * generates tiny inputs and runs one pass of each workload. Results are
  * not checked; a query that fails on the tiny inputs has still loaded
  * its classes.
  *
  * Usage: perfbench.Prime <workDir>
  */
object Prime {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    val spark = Session.builder("perfbench-prime").getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    val tables = dir.resolve("tables").toString
    val corpus = dir.resolve("corpus").toString
    Gen.tables(spark, tables, 0L, 0.01)
    Gen.corpus(corpus, 0L, 1L << 20)
    val probe = new Probe(spark)
    val expected = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("""{"bytes": 1048576, "tokens": 0, "distinct": 0, "top20": []}""")
    Seq(new WordCountZipf(spark, probe, corpus, expected, dir.resolve("wc")),
      new RegistryMix(spark, probe, tables, dir.resolve("dump")))
      .foreach(_.pass(traced = true, dump = true))
    spark.stop()
  }
}
