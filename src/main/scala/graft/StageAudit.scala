package graft

/** Stage-level CPU attribution for one registry query (r11 verdict
  * item 3: "is the bm25 family's 7–9 s sf0.1 floor fixed machinery or
  * a hidden corpus-sized stage?"). Runs `SparkEntry.queries(name)`
  * once warm and once audited, printing per-stage executor CPU,
  * record counts, and the stage's name/callsite — the evidence a
  * plan-shape claim needs when per-query totals can't localize cost.
  *
  * Usage: StageAudit <sfDir> <queryName> [queryName...]
  */
object StageAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val rt = Runtime(Runtime.session("graft-stage-audit"))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(rt.spark, sfDir).collect() // warm: codegen + index builds
      val t = rt.timed(name)(fn(rt.spark, sfDir).collect().length)
      val ss = t.counters.stages.sortBy(-_.cpuSec)
      println(f"== $name: ${t.value} rows, wall ${t.wallSec}%.2f s, " +
        f"stage CPU total ${ss.map(_.cpuSec).sum}%.2f s, ${ss.size} stages")
      ss.foreach { s =>
        println(f"  stage ${s.id}%4d cpu=${s.cpuSec}%7.2f s tasks=${s.tasks}%3d " +
          f"in=${s.recordsIn}%10d shufR=${s.shuffleReadRecords}%9d " +
          f"shufW=${s.shuffleWriteRecords}%9d  ${s.name.linesIterator.next()}")
      }
    }
    rt.spark.stop()
  }
}
