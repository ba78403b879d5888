package perfbench

import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators for the benchmark.
  *
  *  - `tables` mirrors graft.GenSf (same schemas, FK ranges, planted
  *    exact/near-dup document groups, label-clustered embeddings) with
  *    a fractional scale relative to sf0.1 and the seed folded into
  *    every xxhash64 call as an extra argument. It writes the tables
  *    the benchmark reads (Workloads.Tables).
  *  - `corpus` mirrors graft.Flagship1G's Zipf word stream with the
  *    seed added to its hash, plus a share of mixed case, punctuation,
  *    non-ASCII letters and invalid UTF-8 bytes so that the lenient
  *    decode and the tokenizer have real work to do.
  *
  * Neither original takes a seed, so they are mirrored here rather than
  * called. Usage (one JVM, writes under `out`):
  *   perfbench.Gen tables <out> <seed> <scale>
  *   perfbench.Gen corpus <out> <seed> <bytes>
  */
object Gen {

  def main(args: Array[String]): Unit = {
    val Array(kind, out, seedS, sizeS) = args
    val seed = seedS.toLong
    if (kind == "corpus") corpus(out, seed, sizeS.toLong)
    else {
      val spark = Session.builder("perfbench-gen").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try tables(spark, out, seed, sizeS.toDouble) finally spark.stop()
    }
  }

  /** xxhash64 over `args` with the seed appended. */
  private def h(seed: Long, args: String*): String =
    s"xxhash64(${(args :+ s"CAST($seed AS BIGINT)").mkString(", ")})"

  /** u ~ Uniform[0,1) as DOUBLE (see GenSf.u). */
  private def u(seed: Long, idExpr: String, salt: Int): String =
    s"(CAST(pmod(${h(seed, idExpr, salt.toString)}, 1000000) AS DOUBLE) / CAST(1000000 AS DOUBLE))"

  private val Vocab = Seq("spark", "line", "column", "order", "small",
    "sort", "batch", "part", "scan", "fast", "query", "agg", "data",
    "stream", "group", "merge", "vector", "filter", "customer", "value",
    "slow", "index", "join", "shuffle", "cache", "table", "row", "key",
    "hash", "plan", "node")

  def tables(spark: SparkSession, out: String, seed: Long, scale: Double): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * scale))
    val nCust = n(15000L)
    val nSupp = n(1000L)
    val nPart = n(20000L)
    val nOrders = n(150000L)
    val nLine = n(600000L)
    val nEvents = n(100000L)
    val nUsers = n(1500L)
    val nDocs = n(5000L)
    val nVecs = math.round(2000.0 * math.pow(scale, math.log(4.0) / math.log(10.0)))
    def hh(args: String*) = h(seed, args: _*)
    def uu(idExpr: String, salt: Int) = u(seed, idExpr, salt)

    // four files per table, straight from the generating ranges (no shuffle)
    def rows(n: Long, parts: Int = 4) = spark.range(0, n, 1, parts)
    def write(name: String, df: DataFrame): Unit =
      if (Workloads.Tables.contains(name))
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    write("region", rows(5, 1).selectExpr("CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), " +
        "CAST(id+1 AS INT)) AS r_name"))

    write("nation", rows(25, 1).selectExpr("CAST(id AS INT) AS n_nationkey",
      "concat('NATION_', id) AS n_name", "CAST(id % 5 AS INT) AS n_regionkey"))

    write("customer", rows(nCust).selectExpr(
      "id AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      s"CAST(pmod(${hh("id", "11")}, 25) AS INT) AS c_nationkey",
      s"round(${uu("id", 12)} * 11000.0 - 1000.0, 2) AS c_acctbal",
      s"element_at(array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'), " +
        s"CAST(pmod(${hh("id", "13")}, 5) + 1 AS INT)) AS c_mktsegment"))

    write("supplier", rows(nSupp).selectExpr(
      "id AS s_suppkey",
      "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      s"CAST(pmod(${hh("id", "21")}, 25) AS INT) AS s_nationkey",
      s"round(${uu("id", 22)} * 11000.0 - 1000.0, 2) AS s_acctbal"))

    val colors = "array('large','hot','blue','red','green','small','dim','plated'," +
      "'polished','rusty')"
    val shapes = "array('ring','bolt','screw','washer','anchor','cog','plate','rod')"
    write("part", rows(nPart).selectExpr(
      "id AS p_partkey",
      s"concat(element_at($colors, CAST(pmod(${hh("id", "31")}, 10) + 1 AS INT)), ' ', " +
        s"element_at($shapes, CAST(pmod(${hh("id", "32")}, 8) + 1 AS INT))) AS p_name",
      s"concat('Brand#', pmod(${hh("id", "33")}, 25) + 1) AS p_brand",
      "element_at(array('ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'), " +
        s"CAST(pmod(${hh("id", "34")}, 6) + 1 AS INT)) AS p_type",
      s"CAST(pmod(${hh("id", "35")}, 50) + 1 AS INT) AS p_size",
      "round(900.0 + CAST(pmod(id, 1000) AS DOUBLE) / 10.0, 2) AS p_retailprice"))

    write("orders", rows(nOrders).selectExpr(
      "id AS o_orderkey",
      s"pmod(${hh("id", "41")}, $nCust) AS o_custkey",
      s"element_at(array('F','O','P'), CAST(pmod(${hh("id", "42")}, 3) + 1 AS INT)) AS o_orderstatus",
      s"round(1000.0 + ${uu("id", 43)} * 499000.0, 2) AS o_totalprice",
      s"CAST(date_add(DATE'1995-01-01', CAST(pmod(${hh("id", "44")}, 2404) AS INT)) AS TIMESTAMP) AS o_orderdate",
      "element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), " +
        s"CAST(pmod(${hh("id", "45")}, 5) + 1 AS INT)) AS o_orderpriority"))

    write("lineitem", rows(nLine).selectExpr(
      s"pmod(${hh("id", "51")}, $nOrders) AS l_orderkey",
      s"pmod(${hh("id", "52")}, $nPart) AS l_partkey",
      s"pmod(${hh("id", "53")}, $nSupp) AS l_suppkey",
      s"CAST(pmod(${hh("id", "54")}, 7) + 1 AS INT) AS l_linenumber",
      s"CAST(pmod(${hh("id", "55")}, 50) + 1 AS DOUBLE) AS l_quantity",
      s"round(1000.0 + ${uu("id", 56)} * 104000.0, 2) AS l_extendedprice",
      s"CAST(pmod(${hh("id", "57")}, 11) AS DOUBLE) / 100.0 AS l_discount",
      s"CAST(pmod(${hh("id", "58")}, 9) AS DOUBLE) / 100.0 AS l_tax",
      s"element_at(array('A','N','R'), CAST(pmod(${hh("id", "59")}, 3) + 1 AS INT)) AS l_returnflag",
      s"element_at(array('F','O'), CAST(pmod(${hh("id", "60")}, 2) + 1 AS INT)) AS l_linestatus",
      s"CAST(date_add(DATE'1995-01-01', CAST(pmod(${hh("id", "61")}, 2499) AS INT)) AS TIMESTAMP) AS l_shipdate"))

    write("events", rows(nEvents).selectExpr(
      "id AS event_id",
      s"timestampadd(SECOND, CAST(pmod(${hh("id", "71")}, ${30L * 86400}) AS INT), " +
        "TIMESTAMP'2024-01-01 00:00:00') AS ts",
      s"pmod(${hh("id", "72")}, $nUsers) AS user_id",
      "element_at(array('click','error','purchase','signup','view'), " +
        s"CAST(pmod(${hh("id", "73")}, 5) + 1 AS INT)) AS event_type",
      s"round(least(-50.0 * ln(1.0 - ${uu("id", 74)} * 0.99999), ${graft.Tables.MaxEventValue}), 2) AS value",
      s"concat('{\"k\": ', pmod(${hh("id", "75")}, 100), '}') AS props"))

    // documents: exact dups share tseed, near dups take a base doc's
    // text plus one keyed word (GenSf's structure)
    val nBase = math.max(50L, nDocs / 100)
    def word(idxExpr: String): String =
      s"element_at(array(${Vocab.map("'" + _ + "'").mkString(",")}), " +
        s"CAST(pmod($idxExpr, ${Vocab.size}) + 1 AS INT))"
    val wordsOf = (seedCol: String, nwCol: String) =>
      s"""array_join(transform(sequence(1, $nwCol), i ->
         |  ${word(hh(seedCol, "i", "91"))}), ' ')""".stripMargin
    val docs = rows(nDocs)
      .selectExpr("id AS doc_id", s"${uu("id", 92)} AS udup",
        s"pmod(${hh("id", "93")}, $nBase) AS base_id")
      .selectExpr("doc_id",
        "CASE WHEN udup < 0.02 THEN base_id ELSE doc_id END AS tseed",
        "CASE WHEN udup >= 0.02 AND udup < 0.05 THEN base_id ELSE -1 END AS near_of")
      .selectExpr("doc_id",
        "CASE WHEN near_of >= 0 THEN near_of ELSE tseed END AS tseed",
        "near_of")
      .selectExpr("doc_id", "near_of",
        s"CAST(8 + pmod(${hh("tseed", "94")}, 88) AS INT) AS nw", "tseed")
      .selectExpr("doc_id",
        s"""CASE WHEN near_of >= 0
           |  THEN concat(${wordsOf("tseed", "nw")}, ' ',
           |    ${word(hh("doc_id", "95"))})
           |  ELSE ${wordsOf("tseed", "nw")} END AS text""".stripMargin,
        s"""CASE WHEN ${uu("doc_id", 96)} < 0.41 THEN 'en'
           |     WHEN ${uu("doc_id", 96)} < 0.56 THEN 'zh'
           |     WHEN ${uu("doc_id", 96)} < 0.71 THEN 'es'
           |     WHEN ${uu("doc_id", 96)} < 0.86 THEN 'fr'
           |     ELSE 'de' END AS lang""".stripMargin,
        s"concat('src', pmod(${hh("doc_id", "97")}, 20)) AS source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    write("documents", docs)

    write("embeddings", rows(nVecs).selectExpr(
      "id AS vec_id",
      s"""transform(sequence(1, 64), i -> CAST(
         |  (pmod(${hh("pmod(id, 10)", "i", "81")}, 1000000) / 500000.0 - 1.0) * 0.2
         |  + (pmod(${hh("id", "i", "82")}, 1000000) / 500000.0 - 1.0) * 0.1
         |AS FLOAT)) AS embedding""".stripMargin,
      "CAST(pmod(id, 10) AS INT) AS label"))
  }

  /** Zipf corpus of `targetBytes` raw bytes or a little more, zipped
    * into `out/corpus.zip` as one member (the reference processes the
    * first archive member only). Each line holds 12 draws; a draw maps
    * the uniform u = xxhash64(line, j, 42, seed) to rank ⌊V^u⌋ over a
    * 50,000-word vocabulary (log-uniform, so frequency ∝ 1/rank), and
    * the rank to a four-letter base-26 word, as Flagship1G.genCorpus
    * does. Two more hashes per draw pick its case and a decoration:
    * punctuation, the apostrophe the token alphabet keeps, digits,
    * non-ASCII letters (é, Ü, ß, 中 all lowercase to characters outside
    * [a-z]) and three kinds of invalid UTF-8 (a lone 0xFF, a lead byte
    * 0xC3 with no continuation, a truncated 0xE2 0x82). An
    * errors=ignore decode drops the invalid bytes, which can join the
    * letters around them into one token. Plain Scala on one thread:
    * the hashes are Spark's XXH64, chained as the SQL function chains
    * its arguments. */
  def corpus(out: String, seed: Long, targetBytes: Long): Unit = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    def h(line: Long, j: Int, salt: Int): Long =
      XXH64.hashLong(seed, XXH64.hashInt(salt, XXH64.hashInt(j, XXH64.hashLong(line, 42L))))
    def unit(x: Long): Double = java.lang.Math.floorMod(x, Long.MaxValue).toDouble / Long.MaxValue
    val vocab = 50000.0
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    Files.createDirectories(Paths.get(out))
    val zos = new ZipOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(Paths.get(out, "corpus.zip")), 1 << 20))
    zos.setLevel(1)
    zos.putNextEntry(new ZipEntry("corpus_synth"))
    val buf = new java.io.ByteArrayOutputStream(1 << 16)
    def put(s: String): Unit = buf.write(s.getBytes(utf8))
    def bytes(bs: Int*): Unit = bs.foreach(buf.write)
    var written, line = 0L
    while (written < targetBytes) {
      for (j <- 1 to 12) {
        if (j > 1) put(" ")
        val r = math.floor(math.pow(vocab, unit(h(line, j, 42)))).toLong + 17576L
        val w0 = (0 until 4).map(k => (97 + (r / math.pow(26, k).toLong) % 26).toChar).mkString
        val c = unit(h(line, j, 43))
        val w = if (c < 0.04) w0.toUpperCase else if (c < 0.12) w0.capitalize else w0
        val d = unit(h(line, j, 44))
        if (d < 0.05) put(w + ",")
        else if (d < 0.08) put(w + ".")
        else if (d < 0.10) put(w + "'s")
        else if (d < 0.11) put("\"" + w + "\"")
        else if (d < 0.12) put(w + "-" + w)
        else if (d < 0.13) put(w + " 1999")
        else if (d < 0.14) put(w + "é")
        else if (d < 0.145) put("Über" + w)
        else if (d < 0.15) put(w + " straße 中文")
        else if (d < 0.16) { put(w.take(2)); bytes(0xFF); put(w.drop(2)) }
        else if (d < 0.165) { put(w); bytes(0xC3); put(" ") }
        else if (d < 0.17) { bytes(0xE2, 0x82); put(w) }
        else put(w)
      }
      put("\n")
      written += buf.size
      buf.writeTo(zos)
      buf.reset()
      line += 1
    }
    zos.closeEntry()
    zos.close()
  }
}
