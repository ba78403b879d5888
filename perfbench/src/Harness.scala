package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{FutureTask, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import com.fasterxml.jackson.databind.ObjectMapper
import graft.QueryDef
import graft.operators.{Materialize, WordCount}
import graft.sources.{JsonSink, TextIngest}

/** One timed call: its wall time net of hypervisor steal (see
  * Host.netOfSteal), its raw wall time, the rows it returned and whether
  * its result was correct. `plan` holds the traced planning figures
  * (prepare seconds, exchanges, parquet scans). */
final case class Op(name: String, wall: Double, rawWall: Double, rows: Long,
    ok: Boolean, plan: Option[(Double, Int, Int)] = None)

/** One pass over a workload. `wall` and `rawWall` sum the timed calls,
  * so the harness's own bookkeeping between calls is not counted. */
final case class Pass(ops: Seq[Op], wall: Double, rawWall: Double, traced: Boolean,
    counters: Map[String, Counters], streams: Map[String, StreamCounters],
    layer: Map[String, Double], gcSec: Double)

/** Closed-loop benchmark harness: one client, one call at a time, in
  * one `local[cores]` JVM. It sets the session up, runs one warm-up
  * pass (which also dumps the registry results for the DuckDB check),
  * then runs passes until `seconds` have been spent in timed passes and
  * at least MinPasses have run, and writes a JSON report. Passes still
  * speed up as the JIT settles, so the median of at least three is taken
  * at the same point of that curve in every run. With trace on, every other pass also
  * records planning figures and per-layer spans; the passes between
  * them give the untraced pass time the tracing overhead is taken from.
  *
  * Usage: perfbench.Harness <workload> <dataDir> <expected.json|-> <report.json>
  *        <seconds> <trace 0|1> <launch epoch ms>
  */
object Harness {
  val OpTimeoutSec = 120L
  val MinPasses = 3
  private val om = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(workload, data, expectedFile, reportFile, secondsS, traceS, t0S) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val ticks0 = Host.cpuTicks()
    val spark = Session.builder("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark)
    val sessionRaw = (System.currentTimeMillis() - t0S.toLong) / 1000.0
    val work = Paths.get(Session.work)
    val wl: Workload = workload match {
      case "wordcount_zipf" => new WordCountZipf(spark, probe, data,
        om.readTree(Paths.get(expectedFile).toFile), work.resolve("wc"))
      case "registry_mix" => new RegistryMix(spark, probe, data, work.resolve("dump"))
    }

    val ticks1 = Host.cpuTicks()
    val w0 = System.nanoTime()
    val warm = wl.pass(traced = false, dump = true)
    val warmS = Host.netOfSteal((System.nanoTime() - w0) / 1e9, ticks1, Host.cpuTicks())
    val sessionS = Host.netOfSteal(sessionRaw, ticks0, ticks1)
    val calibStart = Host.calibrate()
    val cpu0 = Host.cpuTicks()
    val loads = mutable.ArrayBuffer[Double]()
    val passes = mutable.ArrayBuffer[Pass]()
    var spent = 0.0
    def done = spent >= seconds && passes.size >= MinPasses &&
      (!trace || (passes.exists(_.traced) && passes.exists(!_.traced)))
    while (!done) {
      val p = wl.pass(traced = trace && passes.size % 2 == 1, dump = false)
      passes += p
      spent += p.wall
      loads += Host.loadavg()
    }
    val steal = Host.stealShare(cpu0, Host.cpuTicks())
    val calibEnd = Host.calibrate()

    val report = Report(workload, sessionS, warmS, warm, passes.toSeq,
      calibStart, calibEnd, loads.toSeq, steal, Host.peakRssMb(), wl.dumped)
    Files.writeString(Paths.get(reportFile), om.writeValueAsString(Report.toJava(report)))
    spark.stop()
  }
}

/** A workload's pass, plus the result dumps of its warm-up pass. */
abstract class Workload(val spark: SparkSession, val probe: Probe) {
  def pass(traced: Boolean, dump: Boolean): Pass
  /** Registry query name → dump directory of its warm-up result. */
  val dumped = mutable.LinkedHashMap[String, String]()
  /** Hash of each query's warm-up result; later results must match it. */
  protected val warmHash = mutable.Map[String, String]()

  /** Runs `f` under the harness's job group `group`, on a worker thread
    * a timeout can cancel. Returns the value, the wall seconds net of
    * hypervisor steal, and the raw wall seconds. */
  protected def timed[T](group: String)(f: => T): (T, Double, Double) = {
    val sc = spark.sparkContext
    probe.drain()
    probe.current = group
    val task = new FutureTask[(T, Double, Double)](() => {
      sc.setJobGroup(Probe.Prefix + group, group, interruptOnCancel = true)
      try {
        val ticks0 = Host.cpuTicks()
        val t0 = System.nanoTime()
        val r = f
        val raw = (System.nanoTime() - t0) / 1e9
        (r, Host.netOfSteal(raw, ticks0, Host.cpuTicks()), raw)
      } finally sc.clearJobGroup()
    })
    val th = new Thread(task, s"perfbench-$group")
    th.setDaemon(true)
    th.start()
    try task.get(Harness.OpTimeoutSec, TimeUnit.SECONDS)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        sc.cancelJobGroup(Probe.Prefix + group)
        throw e
    }
  }

  /** Order-independent hash of collected rows. */
  protected def hashRows(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** One registry query as a timed call: build the DataFrame, (traced)
    * plan it, collect every row. Full evaluation, never `count()`, so no
    * column can be pruned away. The warm-up result is dumped for the
    * DuckDB check and its hash is what every later result must match.
    * A streamed gate runs its stream while its DataFrame is built, so
    * its traced planning time includes the stream. */
  protected def registryOp(q: QueryDef, s: SparkSession, d: String,
      traced: Boolean, dump: Option[Path]): Op = {
    try {
      val ((rows, schema, plan), wall, rawWall) = timed(q.name) {
        val t0 = System.nanoTime()
        val df = q.fn(s, d)
        val plan = if (!traced) None else {
          val p = df.queryExecution.executedPlan.toString
          def c(re: String) = re.r.findAllIn(p).length
          Some(((System.nanoTime() - t0) / 1e9, c("Exchange"), c("Scan parquet")))
        }
        (df.collect(), df.schema, plan)
      }
      val h = hashRows(rows)
      dump.foreach { dir =>
        val out = dir.resolve(q.name).toString
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(out)
        dumped(q.name) = out
        warmHash(q.name) = h
      }
      Op(q.name, wall, rawWall, rows.length, warmHash.get(q.name).contains(h), plan)
    } catch {
      case e: Throwable =>
        val c = Option(e.getCause).getOrElse(e)
        System.err.println(s"[perfbench] ${q.name} failed: $c")
        Op(q.name, 0.0, 0.0, 0, ok = false)
    } finally s.catalog.clearCache()
  }

  /** Closes a pass; `extra` is timed work outside `ops` (net, raw). */
  protected def finish(ops: Seq[Op], extra: (Double, Double), traced: Boolean,
      layer: Map[String, Double], gc0: Double): Pass = {
    val (cs, ss) = probe.take()
    val (wall, raw) = (extra._1 + ops.map(_.wall).sum, extra._2 + ops.map(_.rawWall).sum)
    System.err.println(f"[perfbench] pass ${wall}%.3fs (raw $raw%.3fs) traced=$traced " +
      ops.map(o => f"${o.name}=${o.wall}%.3f").mkString(" ") + " " + layer.mkString(" "))
    Pass(ops, wall, raw, traced, cs, ss, layer, Host.gcSeconds() - gc0)
  }
}

/** The reference's O1→O13 dataflow (graft.Flagship1G): fetch the zip,
  * extract raw bytes, decode leniently inside the distributed read,
  * tokenize → combine → shuffle → reduce, write the per-partition
  * reduce JSON objects, and report the top 20. The whole pass is one
  * call; each phase runs under its own job group. Every pass is checked
  * against the DuckDB word count of the same text, and the reduce JSON
  * files are read back and summed. */
final class WordCountZipf(spark: SparkSession, probe: Probe, data: String,
    expected: com.fasterxml.jackson.databind.JsonNode, work: Path)
    extends Workload(spark, probe) {
  private val zip = Paths.get(data, "corpus.zip").toAbsolutePath
  private val cores = Session.cores
  // the reference's operating point splits its 1 GB corpus into 32
  // chunks of 32 MB; the benchmark keeps the 32 chunks for its smaller
  // corpus
  private val splitBytes = math.max(1L << 20, expected.get("bytes").asLong / 32)
  private val expTokens = expected.get("tokens").asLong
  private val expDistinct = expected.get("distinct").asLong
  private val expTop20 = expected.get("top20").elements.asScala
    .map(n => (n.get(0).asText, n.get(1).asLong)).toSeq

  def pass(traced: Boolean, dump: Boolean): Pass = {
    val gc0 = Host.gcSeconds()
    val layer = mutable.LinkedHashMap[String, Double]()
    val outDir = work.resolve("out")
    val result = try {
      val ((top20, counts, extracted, plan), wall, rawWall) = timed("wordcount") {
        val t0 = System.nanoTime()
        probe.current = "wc.ingest"
        val cached = TextIngest.fetchCached(zip.toUri.toString, work.resolve("cache").toString)
        val in = Files.newInputStream(cached)
        val files = try TextIngest.extractZipRaw(in, work.resolve("extract").toString)
          finally in.close()
        val t1 = System.nanoTime()
        val docs = TextIngest.readLinesLenient(spark, files.head, splitBytes).toDF("text")
        val counts = WordCount.tokenCounts(docs).persist(StorageLevel.MEMORY_AND_DISK)
        val plan = if (!traced) None else {
          val p = counts.queryExecution.executedPlan.toString
          Some(((System.nanoTime() - t1) / 1e9, "Exchange".r.findAllIn(p).length, 0))
        }
        val (_, countS) = phase("wc.count")(counts.write.format("noop").mode("overwrite").save())
        val (_, sinkS) = phase("wc.sink")(JsonSink.writeReduceObjects(counts, outDir.toString, 2 * cores))
        val (top20, top20S) = phase("wc.top20")(counts
          .orderBy(col("cnt").desc, length(col("word")).desc, col("word").asc)
          .limit(20).collect())
        layer ++= Seq("ingest.extract_s" -> (t1 - t0) / 1e9, "wordcount.count_s" -> countS,
          "sink.write_s" -> sinkS, "wordcount.top20_s" -> top20S)
        (top20, counts, files.head, plan)
      }
      probe.current = "wc.check"
      val tot = counts.agg(sum("cnt"), count(lit(1))).head()
      counts.unpersist()
      val (tokens, distinct) = (tot.getLong(0), tot.getLong(1))
      val (sinkTokens, sinkDistinct, sinkBytes) = readSink(outDir)
      val got = top20.map(r => (r.getString(0), r.getLong(1))).toSeq
      val ok = tokens == expTokens && distinct == expDistinct && got == expTop20 &&
        sinkTokens == expTokens && sinkDistinct == expDistinct
      if (!ok) System.err.println(s"[perfbench] wordcount mismatch: tokens $tokens/" +
        s"$expTokens distinct $distinct/$expDistinct sink $sinkTokens/$sinkDistinct " +
        s"top20 ${got.take(3)} vs ${expTop20.take(3)}")
      layer ++= Seq("ingest.bytes" -> Files.size(Paths.get(extracted)).toDouble,
        "sink.bytes" -> sinkBytes.toDouble, "wordcount.tokens" -> tokens.toDouble)
      Op("wordcount", wall, rawWall, got.size, ok, plan)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] wordcount failed: ${Option(e.getCause).getOrElse(e)}")
        Op("wordcount", 0.0, 0.0, 0, ok = false)
    }
    finish(Seq(result), (0.0, 0.0), traced, layer.toMap, gc0)
  }

  /** A phase inside the timed call: its own job group, same thread. */
  private def phase[T](group: String)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    probe.current = group
    sc.setJobGroup(Probe.Prefix + group, group, interruptOnCancel = true)
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Re-reads the reduce-<pid>.json objects: (Σ counts, keys, bytes). */
  private def readSink(dir: Path): (Long, Long, Long) = {
    val files = Files.list(dir).iterator.asScala.toSeq
      .filter(_.getFileName.toString.matches("reduce-\\d+\\.json"))
    var tokens, keys, bytes = 0L
    files.foreach { f =>
      bytes += Files.size(f)
      val it = om.readTree(f.toFile).fields()
      while (it.hasNext) { tokens += it.next().getValue.asLong; keys += 1 }
    }
    (tokens, keys, bytes)
  }
  private val om = new ObjectMapper()
}

/** Index build, serving and short analytics on the seeded tables.
  * Each pass opens a fresh session, so every session-scoped index (here
  * the postings and their document lengths) is built again: the build
  * phase constructs each served query's DataFrame, which builds the
  * indexes it reads. The served calls of a pass fail unless every
  * expected build key shows a fresh timing in Materialize.buildTimes.
  * The served queries then run, the analytics queries after them, and
  * the served queries once more. */
final class RegistryMix(spark: SparkSession, probe: Probe, data: String, dumpDir: Path)
    extends Workload(spark, probe) {
  private val served = Workloads.defs(Workloads.Served)
  private val analytics = Workloads.defs(Workloads.Analytics)
  private var expectedKeys = Set.empty[String]

  def pass(traced: Boolean, dump: Boolean): Pass = {
    val gc0 = Host.gcSeconds()
    val s = spark.newSession()
    probe.watchStreams(s)
    val before = Materialize.buildTimes
    val built = try Some(timed("build")(served.foreach(_.fn(s, data))))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] index build failed: ${Option(e.getCause).getOrElse(e)}")
        None
      }
    val after = Materialize.buildTimes
    val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
    System.err.println("[perfbench] builds: " + fresh.toSeq.sortBy(-_._2)
      .map { case (k, v) => f"${k.takeWhile(_ != ':')}=$v%.3f" }.mkString(" "))
    if (expectedKeys.isEmpty) expectedKeys = fresh.keySet
    val missing = Workloads.Builds.filterNot(p => fresh.keys.exists(_.startsWith(p + ":"))) ++
      expectedKeys.diff(fresh.keySet)
    if (missing.nonEmpty)
      System.err.println(s"[perfbench] build guard: no fresh build of ${missing.mkString(", ")}")
    val buildOk = built.isDefined && missing.isEmpty
    val dumpTo = Option.when(dump)(dumpDir)
    val ops = served.map(q => registryOp(q, s, data, traced, dumpTo)) ++
      analytics.map(q => registryOp(q, s, data, traced, dumpTo)) ++
      served.map(q => registryOp(q, s, data, traced, None))
    val checked = ops.map(o => if (buildOk || !Workloads.Served.contains(o.name)) o
      else o.copy(ok = false))
    val buildWall = built.map(b => (b._2, b._3)).getOrElse((0.0, 0.0))
    val layer = Map("index.build_wall_s" -> buildWall._1,
      "index.build_s" -> fresh.values.sum, "index.builds" -> fresh.size.toDouble)
    finish(checked, buildWall, traced, layer, gc0)
  }
}

object Host {
  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  /** The host's aggregate CPU tick counters from /proc/stat. */
  def cpuTicks(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    catch { case _: Throwable => Array.empty }

  /** Share of the CPU time the VM wanted that the hypervisor took
    * away between two readings: steal over (user + nice + system + irq +
    * softirq + steal). Idle time is left out: an idle vCPU is not
    * stolen from. */
  def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      def d(i: Int) = (b(i) - a(i)).toDouble
      val wanted = Seq(0, 1, 2, 5, 6, 7).map(d).sum
      if (wanted > 0) d(7) / wanted else 0.0
    }

  /** Wall seconds with the stolen share removed: the time the call would
    * have taken had the hypervisor not descheduled the VM's CPUs. On a
    * host that steals nothing it equals the raw wall time. */
  def netOfSteal(raw: Double, a: Array[Long], b: Array[Long]): Double =
    raw * (1.0 - stealShare(a, b))

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Fixed-work spin on one thread per core: the best of three wall
    * times, in seconds. A host that slows down between the start and
    * the end of the timed passes shows as drift between two calls. */
  def calibrate(): Double = {
    val n = Session.cores
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val ths = (0 until n).map { i =>
        val t = new Thread(() => spin(i))
        t.start(); t
      }
      ths.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  @volatile private var sink = 0L
  private def spin(i: Int): Unit = {
    var x = i + 0x9e3779b97f4a7c15L
    var j = 0
    while (j < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
    sink += x
  }
}
