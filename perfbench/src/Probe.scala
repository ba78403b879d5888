package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task, job and stage counters summed per job group, read from Spark's
  * public listener events. The harness sets a job group around every
  * call it times. Jobs that run under another group (a streaming query
  * sets its own run id as the group) count under the group the harness
  * had open when the job started, since the harness runs one call at a
  * time. */
final class Counters {
  var cpuNs, runNs, inBytes, inRecords, shWriteBytes, shWriteRecords,
      shReadBytes, fetchWaitMs, spillDiskBytes, tasks, stages, jobs = 0L

  def +=(o: Counters): Unit = {
    cpuNs += o.cpuNs; runNs += o.runNs; inBytes += o.inBytes
    inRecords += o.inRecords; shWriteBytes += o.shWriteBytes
    shWriteRecords += o.shWriteRecords; shReadBytes += o.shReadBytes
    fetchWaitMs += o.fetchWaitMs; spillDiskBytes += o.spillDiskBytes
    tasks += o.tasks; stages += o.stages; jobs += o.jobs
  }
}

/** Summed progress of the streaming queries that ran while a group was
  * open: micro-batches, their duration split and the state store's
  * commit time and row count. */
final class StreamCounters {
  var batches, addBatchMs, walCommitMs, planningMs, stateCommitMs, stateRows = 0L
}

final class Probe(spark: SparkSession) {
  @volatile var current: String = "idle"
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val streams = new ConcurrentHashMap[String, StreamCounters]()

  private def of(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  private def groupOf(props: java.util.Properties): String = {
    val g = Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(Probe.Prefix)) g.stripPrefix(Probe.Prefix) else current
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      e.stageIds.foreach(stageGroup.put(_, g))
      of(g).synchronized(of(g).jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = of(stageGroup.getOrDefault(e.stageInfo.stageId, current))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = of(stageGroup.getOrDefault(e.stageId, current))
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.runNs += m.executorRunTime * 1000000L
          c.inBytes += m.inputMetrics.bytesRead
          c.inRecords += m.inputMetrics.recordsRead
          c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillDiskBytes += m.diskBytesSpilled
        }
      }
    }
  })

  /** Registers the progress listener on `s` (streaming listeners are
    * per session). */
  def watchStreams(s: SparkSession): Unit =
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val c = streams.computeIfAbsent(current, _ => new StreamCounters)
        c.synchronized {
          c.batches += 1
          c.addBatchMs += ms("addBatch")
          c.walCommitMs += ms("walCommit")
          c.planningMs += ms("queryPlanning")
          p.stateOperators.foreach { so =>
            c.stateCommitMs += so.commitTimeMs
            c.stateRows += so.numRowsTotal
          }
        }
      }
    })

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(200) }
  }

  /** Removes and returns the counters of every group since the last take. */
  def take(): (Map[String, Counters], Map[String, StreamCounters]) = {
    drain()
    val g = groups.keySet.asScala.toSeq.map(k => k -> groups.remove(k)).toMap
    val s = streams.keySet.asScala.toSeq.map(k => k -> streams.remove(k)).toMap
    (g, s)
  }
}

object Probe {
  /** Job-group prefix that marks a group as the harness's own. */
  val Prefix = "perfbench:"

  def total(cs: Iterable[Counters]): Counters = {
    val t = new Counters
    cs.foreach(t += _)
    t
  }
}
