package graft

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask, TimeUnit, TimeoutException}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one run harness every main uses: the session configuration, a
  * watchdogged runner and a task-metrics listener keyed by job group.
  *
  * Configuration is the single table [[Runtime.settings]]; the
  * environment can change only these:
  *  - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default:
  *    the JVM's available processors);
  *  - `GRAFT_MASTER`: a `local-cluster[2,8,4096]` master runs executors
  *    as separate forked JVMs, shuffling and broadcasting over the
  *    block-transfer service instead of in-process references — the
  *    reference's 1 coordinator + N worker processes
  *    (`coordinator/coordinator.py:92-101`). Executors then get the
  *    driver's classpath and `--add-opens` set, and `SPARK_HOME` must
  *    name a Spark distribution (the standalone worker forks executors
  *    from it; `scripts/run.sh` exports it);
  *  - `GRAFT_LOG`: the log level (default WARN).
  */
object Runtime {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(java.lang.Runtime.getRuntime.availableProcessors)

  def defaultMaster: String = sys.env.getOrElse("GRAFT_MASTER", s"local[$cpus]")

  /** Every setting a session gets. */
  def settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // AQE on: measured faster in aggregate than off (60.5 s vs 68.6 s,
    // BENCH_r04*.json) and 2.2x faster on ensemble dedup's
    // connected-components loop, whose intermediate edge sets are small
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet stores INT64 TIMESTAMP(NANOS)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the default 100-entry generated-class cache evicts and recompiles
    // on every pass over the registry (static: applies to the first
    // session of a JVM only)
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // a wedged broadcast fails one query instead of hanging the run
    "spark.sql.broadcastTimeout" -> "600",
    // local-mode heartbeats share the JVM with the executor threads: GC
    // and host CPU steal must not add up to 60 missed beats
    "spark.executor.heartbeatInterval" -> "20s",
    "spark.network.timeout" -> "600s",
    "spark.executor.heartbeat.maxFailures" -> "180",
    "spark.ui.enabled" -> "false")

  /** JDK17 `--add-opens` for JVMs this one forks (build.sbt and
    * scripts/run.sh give the driver its own copy). */
  val execOpts: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  private def masterSettings(master: String): Seq[(String, String)] =
    if (!master.startsWith("local-cluster")) Nil
    else {
      require(sys.env.contains("SPARK_HOME"),
        s"master $master needs SPARK_HOME so the standalone worker can fork executor JVMs")
      Seq("spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
        "spark.executor.extraJavaOptions" -> execOpts,
        // executor loss must surface as retried tasks, not a dead app:
        // the resilience checks kill executors on purpose
        "spark.task.maxFailures" -> "8",
        "spark.stage.maxConsecutiveAttempts" -> "8")
    }

  /** A session with [[settings]] on `master`; `extra` adds or overrides
    * settings for a main that needs more than the table. */
  def session(app: String, master: String = defaultMaster,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val spark = (settings ++ masterSettings(master) ++ extra)
      .foldLeft(SparkSession.builder().master(master).appName(app)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("GRAFT_LOG", "WARN"))
    spark
  }

  /** The entries `GRAFT_ONLY=a,b,c` selects from `all`; unset or blank
    * selects all of them. A name `all` lacks fails fast: a typo must not
    * shrink a run, or empty it, without a word. */
  def selected[V](all: Map[String, V],
      spec: Option[String] = sys.env.get("GRAFT_ONLY")): Map[String, V] = {
    val keep = spec.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = keep -- all.keySet
    require(unknown.isEmpty,
      s"GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(",")}")
    if (keep.isEmpty) all else all.filter { case (n, _) => keep(n) }
  }

  /** Writes and reads the result JSON of the mains. */
  val mapper = new ObjectMapper()

  /** A JSON object of `fields` in their order, for [[mapper]]; values are
    * numbers, booleans, strings, Java lists or other [[obj]]s. */
  def obj(fields: Iterable[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  sealed trait Outcome[+T]
  final case class Done[T](value: T) extends Outcome[T]
  case object TimedOut extends Outcome[Nothing]
  final case class Failed(cause: Throwable) extends Outcome[Nothing]

  final case class StageStat(id: Int, name: String, cpuSec: Double, tasks: Int,
      recordsIn: Long, shuffleReadRecords: Long, shuffleWriteRecords: Long)

  /** Task metrics summed over a job group's finished tasks, plus its
    * completed stages in completion order. */
  final case class Counters(cpuNs: Long = 0L, shuffleWriteBytes: Long = 0L,
      memorySpilled: Long = 0L, diskSpilled: Long = 0L, peakTaskMemory: Long = 0L,
      stages: Vector[StageStat] = Vector.empty) {
    def cpuSec: Double = cpuNs / 1e9
    def +(o: Counters): Counters = Counters(cpuNs + o.cpuNs,
      shuffleWriteBytes + o.shuffleWriteBytes, memorySpilled + o.memorySpilled,
      diskSpilled + o.diskSpilled, math.max(peakTaskMemory, o.peakTaskMemory),
      stages ++ o.stages)
  }

  final case class Timed[T](value: T, wallSec: Double, counters: Counters) {
    def cpuSec: Double = counters.cpuSec
  }

  private final class Listener extends SparkListener {
    val stageGroup = new ConcurrentHashMap[Int, String]()
    val groups = new ConcurrentHashMap[String, Counters]()

    private def add(stageId: Int, c: => Counters): Unit = {
      val g = stageGroup.get(stageId)
      if (g != null) groups.merge(g, c, (a: Counters, b: Counters) => a + b)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) add(e.stageId, Counters(m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
        m.diskBytesSpilled, m.peakExecutionMemory))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) add(i.stageId, Counters(stages = Vector(StageStat(i.stageId,
        i.name, m.executorCpuTime / 1e9, i.numTasks, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten))))
    }
  }

  private val listeners = new ConcurrentHashMap[SparkContext, Listener]()

  /** The harness over `spark`; its context gets one listener, however
    * many sessions share it. */
  def apply(spark: SparkSession): Runtime =
    new Runtime(spark, listeners.computeIfAbsent(spark.sparkContext, sc => {
      val l = new Listener
      sc.addSparkListener(l)
      l
    }))
}

final class Runtime private (val spark: SparkSession, listener: Runtime.Listener) {
  import Runtime._
  private def sc = spark.sparkContext

  /** Listener events arrive asynchronously: block until the bus has
    * delivered every event posted so far. `listenerBus` is private to
    * Spark, hence the reflection. */
  private def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    catch { case e: java.lang.reflect.InvocationTargetException =>
      // Spark gives up after 10 s: counters read now may miss late tasks
      System.err.println(s"[runtime] listener bus not drained: ${e.getCause}")
    }
  }

  /** `group`'s counters since its last [[timed]] call began. */
  def counters(group: String): Counters = {
    drain()
    listener.groups.getOrDefault(group, Counters())
  }

  /** Runs `body` on this thread under job group `name`, with the group's
    * counters reset first. */
  def timed[T](name: String)(body: => T): Timed[T] = {
    drain()
    listener.groups.remove(name)
    sc.setJobGroup(name, name, interruptOnCancel = true)
    val t0 = System.nanoTime()
    val value = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    Timed(value, wall, counters(name))
  }

  /** [[timed]], printing a `stage` line with wall and task CPU seconds. */
  def stage[T](name: String)(body: => T): Timed[T] = {
    val t = timed(name)(body)
    println(f"stage $name%-22s wall ${t.wallSec}%8.1f s   cpu ${t.cpuSec}%8.1f s")
    t
  }

  /** Runs `body` under job group `name` on a daemon thread, so a
    * timeout can cancel the group and move on without wedging the
    * caller. The cache is cleared afterwards either way: persisted
    * intermediates must not carry memory pressure into the next run. */
  def run[T](name: String, timeoutSec: Long)(body: => T): Outcome[T] = {
    val task = new FutureTask[T](() => {
      sc.setJobGroup(name, name, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    })
    val th = new Thread(task, s"graft-$name")
    th.setDaemon(true)
    th.start()
    try Done(task.get(timeoutSec, TimeUnit.SECONDS)) catch {
      case _: TimeoutException => sc.cancelJobGroup(name); TimedOut
      case e: ExecutionException if e.getCause != null => Failed(e.getCause)
      case e: Throwable => Failed(e)
    } finally spark.catalog.clearCache()
  }
}
