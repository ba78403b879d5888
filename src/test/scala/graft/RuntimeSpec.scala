package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import scala.collection.immutable.ListMap
import scala.collection.mutable.LinkedHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.JobExecutionStatus

/** The run harness every main goes through: watchdog, per-group
  * metrics, the one configuration table, the GRAFT_ONLY parser and the
  * bench's graded output line. */
class RuntimeSpec extends SparkSpec {

  test("run: a body past its timeout reports TimedOut, its group is cancelled, the next run succeeds") {
    val rt = Runtime(spark)
    val group = "runtime-spec-sleep"
    val out = rt.run(group, timeoutSec = 2) {
      spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(60000); i }.count()
    }
    assert(out == Runtime.TimedOut)
    val tracker = spark.sparkContext.statusTracker
    def cancelled: Boolean = {
      val ids = tracker.getJobIdsForGroup(group)
      ids.nonEmpty && ids.forall(tracker.getJobInfo(_).exists(_.status == JobExecutionStatus.FAILED))
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cancelled && System.nanoTime() < deadline) Thread.sleep(50)
    assert(cancelled, "the timed-out group's job must end cancelled, not run on")
    assert(rt.run("runtime-spec-after", timeoutSec = 60)(spark.range(10).count()) ==
      Runtime.Done(10L))
  }

  test("timed: task CPU for the group reads above 0 right after the drain; another group reads 0") {
    val rt = Runtime(spark)
    val t = rt.timed("runtime-spec-cpu") {
      spark.range(0, 2000000, 1, 4).selectExpr("sum(id * id % 7)").collect()
    }
    assert(t.cpuSec > 0)
    assert(t.counters.stages.nonEmpty)
    assert(rt.counters("runtime-spec-cpu").cpuNs == t.counters.cpuNs)
    assert(rt.counters("runtime-spec-unrelated") == Runtime.Counters())
  }

  test("settings: AQE on and shuffle partitions equal to the cores of the local master") {
    val conf = Runtime.settings.toMap
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.shuffle.partitions") == Runtime.cpus.toString)
    if (!sys.env.contains("GRAFT_MASTER"))
      assert(Runtime.defaultMaster == s"local[${Runtime.cpus}]")
    if (!sys.env.contains("SPARK_GRAFT_CPUS"))
      assert(Runtime.cpus == java.lang.Runtime.getRuntime.availableProcessors)
  }

  test("GRAFT_ONLY: unknown names fail fast; unset or blank selects every entry") {
    val all = ListMap("a" -> 1, "b" -> 2, "c" -> 3)
    val e = intercept[IllegalArgumentException](Runtime.selected(all, Some("a,typo")))
    assert(e.getMessage.contains("typo"))
    assert(Runtime.selected(all, Some(" a , c ")) == Map("a" -> 1, "c" -> 3))
    assert(Runtime.selected(all, Some(" ")) == all)
    assert(Runtime.selected(all, None) == all)
  }

  test("Bench's compact line keeps its keys, order and number format") {
    val r = Bench.Result(
      wall = ListMap("q1" -> 1.2345, "q2" -> -1.0, "q3" -> 0.5, "q4" -> 12.0),
      cpu = LinkedHashMap("q1" -> 0.98765, "q3" -> 0.4, "q4" -> 20.0011),
      errors = LinkedHashMap("q2" -> "Timeout") ++ (1 to 9).map(i => s"e$i" -> "SparkException"),
      regressions = ListMap("q1" -> 1.62, "q4" -> 3.1, "q3" -> 1.62),
      regressionsWall = ListMap("q4" -> 2.5),
      regressionsBoth = ListMap("q4" -> 3.1) ++ (1 to 9).map(i => s"r$i" -> (1.5 + i / 10.0)),
      builds = ListMap("postings:docs@ab12" -> 2.5, "bands:word@cd34" -> 0.12345, "ivf:8@ef" -> 7.0),
      buildRegressions = Map("new:ivf:8" -> 7.0),
      calibStart = 3.6049, calibEnd = 4.03, sf = "testdata/sf0.1")
    assert(Bench.compactLine(r) ==
      """{"metric":"cpu_total","value":21.389,"unit":"sec","wall_total":13.735,"nqueries":4,""" +
      """"detail":"bench_detail.json","errors":{"q2":"Timeout","e1":"SparkException",""" +
      """"e2":"SparkException","e3":"SparkException","e4":"SparkException","e5":"SparkException",""" +
      """"e6":"SparkException","e7":"SparkException","_more":2},""" +
      """"regressions":{"q4":3.1,"q1":1.62,"q3":1.62},""" +
      """"regressions_both":{"q4":3.1,"r9":2.4,"r8":2.3,"r7":2.2,"r6":2.1,"r5":2.0,"r4":1.9,""" +
      """"r3":1.8,"_more":2},"index_build_total":9.623,"calib_cpu_sec":{"start":3.605,"end":4.03},""" +
      """"sf":"testdata/sf0.1"}""")
  }

  test("src/main builds a session in one place and never reads an AQE override") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(p => p -> Files.readString(p)).toSeq
    assert(sources.nonEmpty)
    def count(text: String, needle: String) = text.split(Pattern.quote(needle), -1).length - 1
    val builders = sources.map { case (p, s) => p.getFileName.toString -> count(s, "SparkSession.builder()") }
      .filter(_._2 > 0)
    assert(builders == Seq("Runtime.scala" -> 1))
    val aqeOverride = "GRAFT_" + "AQE"
    assert(sources.filter(_._2.contains(aqeOverride)).map(_._1).isEmpty)
  }
}
