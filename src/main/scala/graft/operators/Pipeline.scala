package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.WordCount.tokenArray
import graft.functions.Exact._

/** Training-data pipeline operators beyond filtering/dedup: chunking
  * documents into fixed token windows, document-frequency vocabulary
  * pruning, corpus-novelty scoring, and dense time-series repair
  * (gap-fill, range-frame rolling aggregates).
  *
  * Scale design notes (100 TB / 1000 executors):
  *  - chunking, and every per-document array transform, is shuffle-free
  *    (one map stage; output explodes rows but never re-partitions);
  *  - document-frequency and novelty shuffle once on the token/gram key
  *    with partial aggregation — the classic wordcount shape;
  *  - gap-fill generates the dense time axis from a single-row scalar
  *    aggregate broadcast against the (tiny) bucket×type grid, then
  *    joins counts on the bucket key — the fact side shuffles once;
  *  - rolling windows use a RANGE frame over per-user time — one
  *    shuffle on user_id, sorted once per partition.
  */
object Pipeline {

  /** Fixed-size token-window chunking with overlap (size 32, stride 24):
    * the standard long-document → training-example splitter. Chunks
    * start every `stride` tokens; the final chunk may be short. */
  def docChunks(docs: DataFrame, size: Int = 32, stride: Int = 24): DataFrame =
    docs.select(col("doc_id"), tokenArray(docs).as("w"))
      .filter(expr("size(w) > 0"))
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, size(w), $stride), i -> slice(w, i, $size))"))
          .as(Seq("chunk_id", "c")))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        expr("size(c)").cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("c")).as("chunk"))
      .orderBy("doc_id", "chunk_id")

  /** Document-frequency vocabulary pruning: tokens kept when they appear
    * in at least `minDf` documents but at most half the corpus (too-rare
    * and too-common trimmed — the classic tokenizer-vocab/stopword
    * gate). Per-doc distinct before the explode keeps the shuffled
    * volume at O(distinct tokens per doc). */
  def vocabPrune(docs: DataFrame, minDf: Long = 2): DataFrame = {
    val perDoc = docs.select(col("doc_id"),
      explode(array_distinct(tokenArray(docs))).as("token"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    perDoc.groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
      .crossJoin(broadcast(nDocs))
      .filter(col("doc_freq") >= minDf &&
        col("doc_freq").cast("double") <= col("n_docs").cast("double") * 0.5)
      .select(col("token"), col("doc_freq"))
      .orderBy("token")
  }

  /** Corpus-novelty scoring: the fraction of a document's distinct
    * bigrams that occur in no other document. Low novelty = templated /
    * near-duplicated content; a cheap dedup-adjacent quality signal.
    * Gram df counts shuffle once on the gram string. */
  def bigramNovelty(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"), tokenArray(docs).as("w"))
      .filter(expr("size(w) >= 2"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w) - 1), i -> concat_ws(' ', slice(w, i, 2))))"))
        .as("g"))
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("gram_df"))
    grams.join(df, "g")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("gram_df") === 1, 1).otherwise(0)).cast("long").as("n_unique"))
      .withColumn("novelty",
        round(col("n_unique").cast("double") / col("n_bigrams").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** Dense time-series repair: event counts per (event_type, 15-minute
    * bucket) with explicit zero rows for empty buckets. The bucket axis
    * is generated from the observed min/max (one scalar aggregate) and
    * cross-joined with the distinct types — both broadcast-tiny next to
    * the fact counts they left-join. */
  def gapFillCounts(events: DataFrame, bucketSec: Long = 900): DataFrame = {
    // floor division (not `div`, which truncates toward zero): pre-1970
    // timestamps have negative epoch millis and must round DOWN to the
    // bucket start on both engines. The double quotient is exact enough:
    // |ms| < 2^53 and the fractional part is >= 1/bucketMs away from the
    // next integer, far beyond one ulp.
    val bucket = expr(
      s"timestamp_seconds(CAST(floor(unix_millis(ts) / ${bucketSec * 1000}.0) AS BIGINT) * $bucketSec)")
    val counts = events
      .groupBy(col("event_type"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val bounds = events.agg(
      min(bucket).as("b_min"), max(bucket).as("b_max"))
    val axis = bounds
      .select(explode(expr(s"sequence(b_min, b_max, interval $bucketSec second)")).as("bucket"))
      .crossJoin(events.select(col("event_type")).distinct())
    axis.join(counts, Seq("event_type", "bucket"), "left_outer")
      .select(col("event_type"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("event_type", "bucket")
  }

  /** Range-frame rolling aggregate: for every event, the count and exact
    * sum of the same user's events in the trailing hour (RANGE frame
    * over epoch millis — peers with equal timestamps are included on
    * both engines). */
  def rollingHour(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-3600000L, 0L)
    events.select(col("event_id"), col("user_id"), col("value"),
        expr("unix_millis(ts)").as("ms"))
      .withColumn("n_in_hour", count(lit(1)).over(w))
      .withColumn("sum_val_hour", sum(dec2(col("value"))).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("n_in_hour"), col("sum_val_hour"))
      .orderBy("event_id")
  }

  /** k-NN label classification over the embedding corpus: held-out
    * queries (vec_id < nQueries) are labeled by majority vote of their
    * k nearest candidates (cosine; ties → fewer-vote label dropped,
    * then smaller label wins). The query side broadcasts — the corpus
    * is scanned once, never shuffled, exactly like bruteForceTopK. */
  def knnClassify(emb: DataFrame, nQueries: Int = 32, k: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("true_label"))
    val c = emb.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("label").as("cand_label"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("true_label"), col("cand_id"), col("cand_label"),
        round(graft.functions.GraftFunctions.cosine_sim(spark, col("qe"), col("ce")), 6)
          .as("cos_sim"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    val votes = scored.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .groupBy(col("query_id"), col("true_label"), col("cand_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("cand_label").asc)
    votes.withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("true_label"),
        col("cand_label").as("pred_label"), col("n_votes"))
      .orderBy("query_id")
  }

  /** SCD type-2 history construction from an event stream: contiguous
    * runs of the same event_type per user become validity periods with
    * [valid_from, valid_to) bounds (valid_to = next period's start;
    * NULL while current). One shuffle on user_id shared by the lag,
    * the period aggregate, and the lead. */
  def scd2History(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val periods = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
      .withColumn("chg",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("period_id",
        sum(col("chg")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy(col("user_id"), col("period_id"))
      .agg(
        min(col("event_type")).as("event_type"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val wp = Window.partitionBy(col("user_id")).orderBy(col("period_id"))
    periods
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wp))
      .select(col("user_id"), col("period_id"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"))
      .orderBy("user_id", "period_id")
  }

  /** Fixed-width histogram of the event value distribution with a
    * cumulative distribution function. The binning aggregate shuffles
    * once; the CDF window runs over the (tiny) bin table — single
    * partition by design, bounded by the bin count, never by N. */
  def valueHistogram(events: DataFrame, width: Double = 5.0): DataFrame = {
    val wCdf = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    events
      .groupBy(floor(col("value") / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", col("bin").cast("double") * width)
      .withColumn("cum_n", sum(col("n")).over(wCdf))
      .withColumn("cdf",
        round(col("cum_n").cast("double") / sum(col("n")).over(wAll).cast("double"), 6))
      .select(col("bin"), col("bin_lo"), col("n"), col("cum_n"), col("cdf"))
      .orderBy("bin")
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV DRIFT GATE — per event type, the KS
    * statistic D = max_v |CDF_type(v) − CDF_ref(v)| of `value` against
    * a reference type's distribution, the standard ingestion-drift
    * alarm (did this source's score/length/value distribution move?).
    * Computed EXACTLY on the width-quantized grid: D is evaluated at
    * every occupied bin boundary via integer cross-multiplication
    * (|cum·n_ref − cum_ref·n| — no ratios, no doubles), so the output
    * is the exact KS of the quantized distributions; `width` sets the
    * resolution (bins are bounded by the VALUE DOMAIN / width, a
    * constant, not by N). ks_bin is the smallest bin attaining D
    * (deterministic tie-break).
    *
    * Scale shape: ONE corpus pass partial-aggregates to the
    * (bin, type) table; the grid completion (every type needs a CDF
    * reading at every occupied bin — missing bins carry the running
    * cum forward), cumulative windows (partitioned per type), and the
    * argmax rank all run over that domain-bounded table. The grid
    * cross join is bins × types — both tiny aggregates by construction
    * (PlanShapeSpec-allowlisted BNLJ, the value_histogram bin-table
    * class). INT64 guard: cum·n_ref ≤ n·n_ref holds to ~3·10⁹ rows per
    * compared type (lift those two cross-products to DECIMAL(38,0) on
    * both engines beyond that); the 10⁶ micro lift itself rides
    * DECIMAL/HUGEINT already, so it never tightens that bound. */
  def ksDrift(events: DataFrame, refType: String = "view",
      width: Double = 1.0): DataFrame = {
    // STAGED: the bin-count aggregate feeds FOUR subtrees (grid bins,
    // grid types, the grid join, and — through cum — both sides of
    // the ref join); unstaged, each runs the corpus scan+aggregate as
    // its own job (the bm25/StageAudit lesson, measured 9.6 s CPU at
    // sf0.1 vs ~3 staged)
    val counts = Materialize.stage(events
      .groupBy(floor(col("value") / width).cast("long").as("bin"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt")))
    val grid = counts.select(col("bin")).distinct()
      .crossJoin(counts.select(col("event_type")).distinct())
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.join(counts, Seq("bin", "event_type"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val ref = cum.filter(col("event_type") === refType)
      .select(col("bin"), col("cum").as("cum_ref"), col("n").as("n_ref"))
    val d = cum.filter(col("event_type") =!= refType)
      .join(ref, "bin")
      .withColumn("dnum",
        abs(col("cum") * col("n_ref") - col("cum_ref") * col("n")))
    val wArg = Window.partitionBy(col("event_type"))
      .orderBy(col("dnum").desc, col("bin"))
    d.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n"), col("n_ref"),
        expr("CAST(1000000 * CAST(dnum AS DECIMAL(38,0)) div (n * n_ref)" +
          " AS BIGINT)").as("ks_micro"),
        col("bin").as("ks_bin"))
      .orderBy("event_type")
  }

  /** POPULATION STABILITY INDEX — the ML-ops drift companion of
    * [[ksDrift]]: where KS reports the worst single CDF gap, PSI
    * Σ_b (p_b − q_b)·ln(p_b/q_b) accumulates mass-weighted log-ratio
    * drift across all bins (every term ≥ 0; industry rule of thumb:
    * < 0.1 stable, > 0.25 act). Same width-quantized grid as ksDrift;
    * a compared-type bin with no reference mass is excluded from the
    * sum (its log-ratio is infinite — the standard finite-sample
    * convention) and counted in n_bins_skipped so the gate sees when
    * exclusions carry real mass; reference-only bins are out of scope
    * (ksDrift's CDF gap covers that direction).
    *
    * Exactness: the quantized-ln ladder (1e-4 units per ln factor,
    * the docEntropy pattern) over integer cross-multiplied mass
    * differences — per bin dm·t4 with dm = p·n_ref − q·n, t4 =
    * ln4(p)+ln4(n_ref)−ln4(q)−ln4(n); the ÷(n·n_ref) lift happens
    * once post-sum. Per-bin products are summed in DECIMAL(38,0)
    * (HUGEINT on the oracle side): |dm| ≤ n·n_ref, so INT64 would
    * overflow past ~10⁵ rows per type × wide grids. Quantization can
    * leave an epsilon-negative total — sign/abs floor-div guard.
    *
    * Scale shape: identical to ksDrift — one corpus pass to the
    * domain-bounded (bin, type) table; totals are windows partitioned
    * per type over that table; the ref join is bin-keyed. */
  def psiDrift(events: DataFrame, refType: String = "view",
      width: Double = 1.0): DataFrame = {
    // staged for the same multi-consumer reason as ksDrift's counts
    // (ref + compared sides both read it)
    val counts = Materialize.stage(events
      .groupBy(floor(col("value") / width).cast("long").as("bin"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt")))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val ref = counts.filter(col("event_type") === refType)
      .select(col("bin"), col("cnt").as("q"), col("n").as("n_ref"))
    counts.filter(col("event_type") =!= refType)
      // left join: the compared side drives. n_bins_skipped counts the
      // compared type's bins with no reference mass; reference-only
      // bins are excluded entirely (attributing them per compared type
      // needs the full grid — ksDrift's CDF covers that direction)
      .join(ref, Seq("bin"), "left")
      .withColumn("used", col("q").isNotNull)
      .withColumn("dm",
        when(col("used"),
          col("cnt") * col("n_ref") - col("q") * col("n")).otherwise(lit(0L)))
      .withColumn("t4",
        when(col("used"),
          ln4(col("cnt")) + ln4(col("n_ref")) - ln4(col("q")) - ln4(col("n")))
          .otherwise(lit(0L)))
      .groupBy(col("event_type"), col("n"))
      .agg(max(col("n_ref")).as("n_ref"),
        sum(when(col("used"), 1L).otherwise(0L)).as("n_bins_used"),
        sum(when(col("used"), 0L).otherwise(1L)).as("n_bins_skipped"),
        // dm lifts to DECIMAL BEFORE the multiply — dm·t4 in INT64
        // would overflow near 10⁸ rows/type (review finding)
        sum(col("dm").cast(DecimalType38) * col("t4")).as("s"))
      .select(col("event_type"), col("n"), col("n_ref"),
        col("n_bins_used"), col("n_bins_skipped"),
        expr("CAST(CASE WHEN s < 0 THEN -1 ELSE 1 END * " +
          "((100 * abs(s)) div (n * n_ref)) AS BIGINT)").as("psi_micro"))
      .orderBy("event_type")
  }

  private val DecimalType38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** GROUPED EXACT PERCENTILES — per-group p10/p50/p90 as true order
    * statistics on the cent grid (the grouped companion of the global
    * `agg_percentiles`; the approx twin is `agg_approx_percentiles`).
    * Rank convention: the "lower" order statistic, index
    * 1 + (q·(n−1)) div 1 computed in pure integer arithmetic
    * ((n−1) div 10, (n−1) div 2, (9·(n−1)) div 10) — no interpolation,
    * no doubles, so both engines pick the identical element even when
    * q·(n−1) is fractional. Ties on the value are irrelevant by
    * construction (any tied row carries the same cents).
    *
    * Scale shape: one rank window PER GROUP (partitioned by
    * event_type — the honest exact path is a per-group sort; that is
    * what "exact percentile" costs, and the approx sketch exists for
    * when it's too much), then a per-group conditional aggregate.
    * Nothing global, nothing unpartitioned. */
  def groupedPercentiles(events: DataFrame): DataFrame = {
    // per-group CELL form (r15 optimization round, guide §2.3
    // "aggregate before you shuffle"): the former row_number window
    // shuffled and per-group-sorted EVERY event row; the rank-r cents
    // value is a cell lookup instead — partial-aggregated
    // (type, cents) counts (the exchange carries cells, not rows), one
    // cumulative window over the Tables.MaxEventValue-bounded cents
    // grid, and the value at 1-based rank r is the cell with
    // f < r ≤ f + c. Identical ranks, identical cents (ties collapse
    // into one cell by construction).
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def atRank(r: org.apache.spark.sql.Column) =
      max(when(col("f") < r && r <= col("f") + col("c"), col("cents")))
    events
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("c"))
      .withColumn("f", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("n", sum(col("c")).over(wn))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        atRank(expr("1 + (n - 1) div 10")).as("p10_cent"),
        atRank(expr("1 + (n - 1) div 2")).as("p50_cent"),
        atRank(expr("1 + (9 * (n - 1)) div 10")).as("p90_cent"))
      .orderBy("event_type")
  }

  /** Benford expected leading-digit frequencies in permille,
    * floor(1000·log10(1 + 1/d) + 0.5) for d = 1..9 — ONE Scala source
    * interpolated into both the plan and the oracle (the ndcgGains
    * shared-literal rule; they happen to sum to exactly 1000). */
  private[graft] val benfordPermille: Seq[Long] =
    (1 to 9).map(d => math.floor(1000.0 * math.log10(1.0 + 1.0 / d) + 0.5).toLong)

  /** BENFORD LEADING-DIGIT AUDIT — the classic fabricated-data /
    * broken-feed alarm: the first significant digit of organically
    * scaled amounts follows log10(1+1/d); a uniform or truncated feed
    * shows up as large signed deviations. Digit extraction is EXACT:
    * values are 2-decimal, so round(value·100) is an integer on both
    * engines and the leading digit is the first character of its
    * decimal string — no log10/pow roundtrip anywhere near a power-of-
    * ten boundary. Output per observed digit: count, observed and
    * expected permille, signed deviation.
    *
    * Scale shape: one corpus pass partial-aggregates to ≤ 9 rows; the
    * total-mass window runs over that 9-row table (the value_histogram
    * bounded-aggregate class, PlanShapeSpec-allowlisted). */
  def benfordAudit(events: DataFrame): DataFrame = {
    val expCol = element_at(array(benfordPermille.map(lit): _*),
      col("digit").cast("int"))
    events.select(round(col("value") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .groupBy(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("obs_permille", expr("1000 * n div total"))
      .withColumn("exp_permille", expCol)
      .select(col("digit"), col("n"), col("obs_permille"), col("exp_permille"),
        (col("obs_permille") - col("exp_permille")).as("dev_permille"))
      .orderBy("digit")
  }

  /** first/last/nth window battery: per customer (ordered by order date,
    * then key), the first and last order dates, the second order's key,
    * and the order count — emitted once per customer via rn=1. One
    * shuffle on the customer key; full-frame last_value/nth_value. */
  def firstLastOrders(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    graft.Tables.orders(s, d)
      .withColumn("rn", row_number().over(ord))
      .withColumn("first_date", first(col("o_orderdate")).over(full))
      .withColumn("last_date", last(col("o_orderdate")).over(full))
      .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(full))
      .withColumn("n_orders", count(lit(1)).over(full))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("first_date"), col("last_date"),
        col("second_key"), col("n_orders"))
      .orderBy("o_custkey")
  }

  /** Deterministic MODE aggregate: the most frequent quantity per return
    * flag, ties broken toward the smaller value (builtin mode() is
    * tie-nondeterministic across engines, so the mode is expressed as
    * count + rank — the scalable two-stage shape). */
  def modeQuantity(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    graft.Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("cnt").as("mode_count"))
      .orderBy("l_returnflag")
  }

  /** Ratio-to-report: each nation's 1997 revenue and its share of the
    * total. The total is a one-row broadcast back onto the (tiny)
    * per-nation aggregate — no global window, no second scan of the
    * facts. */
  def revenueShare(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val rev = graft.Tables.lineitem(s, d)
      .join(graft.Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(graft.Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("revenue_dec"))
    // grand total from the SAME exact-decimal per-nation sums — no
    // double→decimal round-trip (whose .xx5-tie rounding is a latent
    // cross-engine hazard); both operands of the share division are
    // casts of exact decimals, identical on any engine
    val total = rev.agg(sum(col("revenue_dec")).as("total_dec"))
    rev.crossJoin(broadcast(total))
      .select(col("n_name"), col("revenue_dec").cast("double").as("revenue"),
        round(col("revenue_dec").cast("double") / col("total_dec").cast("double"), 6)
          .as("share"))
      .orderBy(col("share").desc, col("n_name").asc)
  }

  /** Cumulative distinct users per day WITHOUT stateful distinct-over-
    * time: each user contributes on their first-seen day (one groupBy on
    * user), the per-day first-seen counts cumsum over the (tiny) day
    * table. The classic scalable rewrite of running COUNT(DISTINCT). */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstSeen = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      .groupBy(col("first_day")).agg(count(lit(1)).as("new_users"))
    // cumsum over the aggregated day table — bounded by the number of
    // days, not by N, so a single-task window is the correct shape
    val w = Window.orderBy(col("first_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstSeen
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(col("first_day").as("day"), col("new_users"), col("cum_users"))
      .orderBy("day")
  }

  /** Blocked fuzzy matching: near-identical part names within a brand
    * block, by Levenshtein distance ≤ 3. Blocking (the brand key) turns
    * the quadratic all-pairs edit-distance scan into per-block
    * self-joins — the standard entity-resolution shape; block sizes are
    * bounded by the brand cardinality, and the join shuffles on the
    * block key only. */
  def fuzzyNamePairs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // dedupe-before-pairing: pair DISTINCT names per block and weight by
    // name multiplicity (cnt_a*cnt_b part pairs per name pair — each
    // cross pair has exactly one pk_a < pk_b ordering, and dist-0 pairs
    // are excluded on both formulations). Levenshtein evaluations drop
    // from O(parts²/brand) to O(names²/brand) — measured 7.5 s → sub-s
    // at sf0.1, and the gap only widens with duplication at scale.
    val names = graft.Tables.part(s, d)
      .groupBy(col("p_brand"), col("p_name")).agg(count(lit(1)).as("cnt"))
    val a = names.select(col("p_brand"), col("p_name").as("name_a"), col("cnt").as("cnt_a"))
    val b = names.select(col("p_brand"), col("p_name").as("name_b"), col("cnt").as("cnt_b"))
    a.join(b, Seq("p_brand"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .groupBy(col("p_brand"))
      .agg(sum(col("cnt_a") * col("cnt_b")).as("n_pairs"), min(col("dist")).as("min_dist"))
      .orderBy("p_brand")
  }

  /** Retention cohorts: users grouped by first-seen day (the cohort),
    * counted by distinct activity at each day offset. The first-seen
    * table derives from one groupBy on user; the cohort matrix is one
    * join back to events (shuffle on user_id) plus one aggregation —
    * no per-cohort scans, no self-join explosion. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firstSeen = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    events
      .select(col("user_id"), date_trunc("day", col("ts")).as("act_day"))
      .join(firstSeen, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("act_day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL) on the
    * 1997-vs-1998 order-priority multisets, aggregated to deterministic
    * counts. Both operators are one shuffle on the compared row — the
    * multiset min/difference shapes DISTINCT set ops can't express. */
  def setOpsAll(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    def slice(yr: Int) = graft.Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === yr)
      .select(col("o_orderpriority"))
    val y97 = slice(1997)
    val y98 = slice(1998)
    val inter = y97.intersectAll(y98).withColumn("op", lit("intersect_all"))
    val diff = y97.exceptAll(y98).withColumn("op", lit("except_all"))
    inter.unionByName(diff)
      .groupBy(col("op"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy("op", "o_orderpriority")
  }

  /** Null-handling battery: NULLIF, COALESCE, and null-safe equality
    * (Spark <=> ≡ SQL IS NOT DISTINCT FROM), aggregated per return
    * flag so the semantics are checkable as counts. */
  def nullFuncs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val nd = nullif(col("l_discount"), lit(0.0))
    graft.Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(nd.isNull, 1).otherwise(0)).cast("long").as("n_zero_disc"),
        sum(when(coalesce(nd, lit(-1.0)) === -1.0, 1).otherwise(0)).cast("long")
          .as("n_coalesced"),
        sum(when(col("l_discount") <=> col("l_tax"), 1).otherwise(0)).cast("long")
          .as("n_nullsafe_eq"))
      .orderBy("l_returnflag")
  }

  /** Correlated LATERAL subquery (SQL surface): each customer's top-2
    * orders by price via a per-row correlated LIMIT. Catalyst rewrites
    * the lateral into a ranked join (DomainJoin → window/join under
    * RewriteLateralSubquery) — semantically the window top-k, expressed
    * in the SQL dialect users port from. */
  def lateralTop2Orders(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // Session-unique view names, dropped right after analysis: a query
    // DEFINITION must not leave (or clobber) shared catalog state —
    // bench/verify plan dozens of queries on one session, potentially
    // concurrently. s.sql() resolves the views eagerly, so dropping them
    // immediately is safe; the returned plan holds resolved relations.
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val cv = s"customer_l_$tag"
    val ov = s"orders_l_$tag"
    graft.Tables.customer(s, d).createOrReplaceTempView(cv)
    graft.Tables.orders(s, d).createOrReplaceTempView(ov)
    try s.sql(s"""
      SELECT c_custkey, t.o_orderkey, t.o_totalprice
      FROM $cv,
      LATERAL (SELECT o_orderkey, o_totalprice FROM $ov
               WHERE o_custkey = c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
    finally {
      s.catalog.dropTempView(cv)
      s.catalog.dropTempView(ov)
    }
  }

  /** Time-series anomaly flagging: daily event counts per type scored
    * by z-score against that type's own mean/stddev (exact moment sums,
    * same engine-portable formula as aggStatsByFlag), |z| > 2 flagged.
    * Two aggregations over the (tiny) day×type table after one shuffle
    * of the facts — the fleet-metrics outlier-detection shape. */
  /** ROBUST (median/MAD) anomaly gate — the outlier detector that
    * survives the outliers it hunts (a single 100× spike day inflates
    * [[dailyAnomalies]]' mean AND std enough to hide itself; the median
    * absolute deviation is 50%-breakdown-robust). Medians are EXACT
    * ORDER STATISTICS at rank ceil(n/2) over per-type sorted day lists
    * (no engine-specific interpolation — the bootstrap_ci trick), which
    * is legitimate at any corpus size because the DAY grain bounds the
    * list: |types|×|calendar days| rows survive the first aggregate no
    * matter how many events feed it. Emits every day with its
    * mad_score (exact permille) and the is_outlier flag (> 3·MAD);
    * degenerate groups (MAD = 0: over half the days identical) yield
    * NULL score/flag in both engines rather than a division blow-up. */
  def madAnomalies(events: DataFrame): DataFrame = {
    val daily = Materialize.stage(events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))
    def medianOf(df: DataFrame, v: String, out: String): DataFrame =
      df.groupBy("event_type")
        .agg(sort_array(collect_list(col(v))).as("ls"))
        .select(col("event_type"),
          element_at(col("ls"),
            expr("CAST((size(ls) + 1) div 2 AS INT)")).as(out))
    val med = medianOf(daily, "n", "med")
    val dev = Materialize.stage(daily.join(med, "event_type")
      .withColumn("ad", abs(col("n") - col("med"))))
    val mad = medianOf(dev, "ad", "mad")
    dev.join(mad, "event_type")
      .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"),
        expr("CASE WHEN mad = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE 1000 * ad div mad END").as("mad_score_permille"),
        expr("CASE WHEN mad = 0 THEN CAST(NULL AS BOOLEAN) " +
          "ELSE ad > 3 * mad END").as("is_outlier"))
      .orderBy("event_type", "day")
  }

  def dailyAnomalies(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    // zero-variance guard: a single-day type divides by (n-1)=0 and a
    // constant type divides by std=0 — Spark's non-ANSI division would
    // NULL (row silently dropped) while IEEE engines yield inf/NaN, a
    // cross-engine hazard. Exclude both cases EXPLICITLY on the exact
    // same var_n double the oracle computes, before any division.
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).as("s"), sum(col("n") * col("n")).as("s2"))
      .filter(col("n_days") > 1)
      .select(col("event_type"),
        (col("s").cast("double") / col("n_days").cast("double")).as("mean_n"),
        ((col("s2").cast("double") - col("s").cast("double") * col("s").cast("double")
          / col("n_days").cast("double")) / (col("n_days").cast("double") - lit(1.0)))
          .as("var_n"))
      .filter(col("var_n") > 0)
      .select(col("event_type"), col("mean_n"), sqrt(col("var_n")).as("std_n"))
    daily.join(stats, "event_type")
      .withColumn("z", round((col("n").cast("double") - col("mean_n")) / col("std_n"), 6))
      .filter(abs(col("z")) > 2.0)
      .select(col("event_type"), col("day"), col("n"), col("z"))
      .orderBy("event_type", "day")
  }

  /** Market-basket token co-occurrence: document co-occurrence counts
    * among the top-20 corpus tokens (frequent-items pruning FIRST, the
    * standard a-priori step — pair enumeration is bounded by K²/2
    * regardless of corpus size). One shuffle for the frequency fit, the
    * tiny frequent set broadcasts back, pairs shuffle on the pair key. */
  /** Per-doc DISTINCT token stream — the shared front of the
    * cooccurrence/PMI pair (review finding: the block had been
    * copied; the matching regex is hardcoded in BOTH oracles, so one
    * definition keeps plan and SQL from drifting apart). NOT staged
    * here: tokenCooccurrence's pair self-join reuses ONE exchange for
    * both sides, and interleaved measurement shows a checkpoint makes
    * it SLOWER (10.7 → 14.5 s CPU isolated — the write outweighs the
    * saved vocabulary-leg pass); tokenPmi, whose staged-frequent build
    * cannot share that exchange, stages at its own call site
    * (9.6 → 6.1 s). The stage-or-not call is per consumer, measured —
    * not a blanket rule. */
  private def distinctDocTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(tokenArray(docs))).as("token"))

  /** Top-K document-frequency vocabulary with the deterministic tie
    * (df desc, token asc) — orderBy+limit → TakeOrderedAndProject
    * (O(K) per partition), NOT a global row_number window over the
    * whole vocabulary. */
  private def topDfTokens(tokStream: DataFrame, topK: Int): DataFrame =
    tokStream.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token").asc).limit(topK)

  def tokenCooccurrence(docs: DataFrame, topK: Int = 20): DataFrame = {
    val toks = distinctDocTokens(docs)
    val frequent = topDfTokens(toks, topK).select(col("token"))
    val ft = toks.join(broadcast(frequent), "token")
    val a = ft.select(col("doc_id"), col("token").as("tok_a"))
    val b = ft.select(col("doc_id"), col("token").as("tok_b"))
    a.join(b, "doc_id")
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("tok_a").asc, col("tok_b").asc)
      .limit(30)
  }

  /** TOKEN PMI — collocation strength for every pair of the top-K
    * document-frequency tokens: PMI(a,b) = ln(n_ab·N / (n_a·n_b)) in
    * exact quantized-ln micro-nats (positive = the pair co-occurs
    * more than independence predicts — a collocation; negative =
    * topical repulsion). The cooccurrence query reports raw counts;
    * this is the normalized signal a phrase-mining pass thresholds.
    *
    * Scale shape: identical candidate bounding to tokenCooccurrence —
    * the top-K vocabulary broadcasts into the doc-token stream, the
    * pair self-join is bounded by K²/2 OUTPUT keys (per-doc fan-in ≤
    * K), and the df/N attachments are broadcast-tiny (the frequent
    * table STAGES: it feeds the filter and both df joins). Output is
    * ALL co-occurring top-K pairs (≤ K²/2 rows) in key order — no
    * cherry-picked metric ordering. */
  def tokenPmi(docs: DataFrame, topK: Int = 20): DataFrame = {
    // staged: the vocabulary build and BOTH pair-join sides read the
    // stream, and the staged-frequent leg cannot share the self-join's
    // exchange (measured 9.6 → 6.1 s CPU isolated; see the helper's
    // scaladoc for why tokenCooccurrence deliberately does NOT stage)
    val toks = Materialize.stage(distinctDocTokens(docs))
    val nDocs = docs.agg(count(lit(1)).as("n_corpus"))
    val frequent = Materialize.stage(topDfTokens(toks, topK))
    val ft = toks.join(broadcast(frequent.select(col("token"))), "token")
    ft.select(col("doc_id"), col("token").as("tok_a"))
      .join(ft.select(col("doc_id"), col("token").as("tok_b")), "doc_id")
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(frequent.select(col("token").as("tok_a"),
        col("df").as("df_a"))), "tok_a")
      .join(broadcast(frequent.select(col("token").as("tok_b"),
        col("df").as("df_b"))), "tok_b")
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("df_a"),
        col("df_b"),
        (lit(100L) * (ln4(col("n_ab")) + ln4(col("n_corpus")) -
          ln4(col("df_a")) - ln4(col("df_b")))).as("pmi_micro"))
      .orderBy("tok_a", "tok_b")
  }

  /** Point-in-time feature join with a STALENESS BOUND — the feature-
    * store primitive: each purchase gets the user's latest at-or-before
    * signup timestamp, but only if it is at most 7 days old (stale
    * features become NULL, never silently served). Same scalable
    * union-window shape as the plain as-of join (one shuffle on
    * user_id, no pairwise range join); the tolerance is a post-window
    * filter. */
  def pointInTimeSignup(events: DataFrame, maxAgeMs: Long = 7L * 86400000): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"),
        when(col("event_type") === "signup", col("ts")).as("sig_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_signup", max(col("sig_ts")).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("age_ms",
        expr("unix_millis(ts)") - expr("unix_millis(last_signup)"))
      .select(col("user_id"), col("event_id"), col("ts").as("purchase_ts"),
        when(col("age_ms") <= maxAgeMs, col("last_signup")).as("feature_signup"),
        when(col("age_ms") <= maxAgeMs, col("age_ms")).as("feature_age_ms"))
      .orderBy("user_id", "event_id")
  }

  /** First-touch attribution: every purchase attributed to the FIRST
    * event type of its 30-minute-gap session. Reuses the sessionize
    * cumsum (lag → flag → running sum); the session's first touch is a
    * min_by over (ts, event_id) within the session — all inside the one
    * user_id shuffle the sessionization already pays. */
  def firstTouchAttribution(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessioned = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          expr("unix_millis(ts)") - expr("unix_millis(prev_ts)") > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessioned
      .withColumn("first_touch", first(col("event_type")).over(wSess))
      .filter(col("event_type") === "purchase")
      .groupBy(col("first_touch"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("n_purchases").desc, col("first_touch").asc)
  }

  /** CDC-style snapshot diff via FULL OUTER JOIN: per-user value totals
    * before vs after a cutoff, emitting ONLY users whose state actually
    * changed — present in one snapshot only (inserted/deleted), or
    * present in both with a different event count or value total
    * (updated). Identical-state users produce no row, so the output is a
    * true MERGE source. Both snapshots aggregate first (partial
    * aggregation before the exchange), then one co-partitioned full
    * outer join on the user key; the changed-row filter compares exact
    * decimal-derived totals, computed identically in the oracle. */
  def userStateDiff(events: DataFrame,
      cutoff: String = "2024-01-15 00:00:00"): DataFrame = {
    val cut = lit(cutoff).cast("timestamp")
    def snap(f: org.apache.spark.sql.Column, tag: String) = events.filter(f)
      .groupBy(col("user_id"))
      .agg(sum(dec2(col("value"))).cast("double").as(s"total_$tag"),
        count(lit(1)).as(s"n_$tag"))
    val before = snap(col("ts") < cut, "before")
    val after = snap(col("ts") >= cut, "after")
    before.join(after, Seq("user_id"), "full_outer")
      .filter(col("n_before").isNull || col("n_after").isNull ||
        col("n_before") =!= col("n_after") ||
        col("total_before") =!= col("total_after"))
      .select(col("user_id"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        when(col("n_before").isNull, lit("inserted"))
          .when(col("n_after").isNull, lit("deleted"))
          .otherwise(lit("updated")).as("change"))
      .orderBy("user_id")
  }

  /** Batch MERGE / UPSERT semantics without a transactional table
    * format (no Delta/Iceberg packages ship in this environment; this
    * is the engine-level merge a foreachBatch sink or MERGE INTO
    * executes): target = per-user state before the cutoff, source =
    * changes after it. Matched users update (counts and exact-decimal
    * totals accumulate), unmatched source users insert, unmatched
    * target users are kept unchanged — the full upsert truth table,
    * tagged. One co-partitioned full outer join after partial
    * aggregation on both sides; totals stay DECIMAL until the final
    * cast so the merge arithmetic is engine-exact. */
  def mergeUpsertState(events: DataFrame,
      cutoff: String = "2024-01-15 00:00:00"): DataFrame = {
    val cut = lit(cutoff).cast("timestamp")
    val zero = lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 2))
    def snap(f: org.apache.spark.sql.Column, tag: String) = events.filter(f)
      .groupBy(col("user_id"))
      .agg(sum(dec2(col("value"))).as(s"t_$tag"), count(lit(1)).as(s"n_$tag"))
    snap(col("ts") < cut, "tgt").join(snap(col("ts") >= cut, "src"),
        Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("n_tgt"), lit(0L)) + coalesce(col("n_src"), lit(0L)))
          .as("n_events"),
        (coalesce(col("t_tgt"), zero) + coalesce(col("t_src"), zero))
          .cast("double").as("total_value"),
        when(col("n_tgt").isNull, lit("inserted"))
          .when(col("n_src").isNull, lit("kept"))
          .otherwise(lit("updated")).as("status"))
      .orderBy("user_id")
  }

  /** Pearson correlation + OLS slope between order price and item
    * count, from exact-decimal moment sums (Σx, Σy, Σxy, Σx², Σy² are
    * order-independent; the final formula is a fixed double-op
    * sequence mirrored by the oracle — engine-portable unlike the
    * builtin corr(), which accumulates doubles in partition order). */
  def priceItemsCorr(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val items = graft.Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
    val joined = graft.Tables.orders(s, d)
      .join(items, col("o_orderkey") === col("l_orderkey"))
      .select(col("x"), dec2(col("o_totalprice")).as("y"))
    val sums = joined.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"),
      sum(col("y") * col("y")).as("sy2"))
    val n = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sx2 = col("sx2").cast("double")
    val sy2 = col("sy2").cast("double")
    sums.select(
      col("n").as("n_orders"),
      round((n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6)
        .as("corr_r"),
      round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 6).as("slope"))
  }

  /** DISTRIBUTED GLOBAL RANKING without a global sort (the relational
    * zipWithIndex): dense 1..N ranks in md5 order, computed as
    * per-bucket ranks plus bucket-offset cumsum. The md5 bucket is the
    * hash's own first byte, so (bucket, hash) order IS hash order —
    * each bucket ranks independently under a PARTITIONED window
    * (~N/256 rows per task), and the offsets come from a 256-row
    * bucket-count aggregate (the only unpartitioned step, bounded by
    * construction). An unpartitioned row_number over the corpus — the
    * naive formulation — would ship every row through one task; this
    * shape is how a 100 TB corpus gets a stable total order. */
  /** The sort-free rank computation — what a production consumer (and
    * [[negativeSamples]]) uses. */
  private[operators] def md5RankUnsorted(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      md5(col("doc_id").cast("string")).as("h"),
      TextAnalysis.md5Bucket.as("bkt"))
    val ranked = hashed.withColumn("rb",
      row_number().over(
        Window.partitionBy(col("bkt")).orderBy(col("h"), col("doc_id"))).cast("long"))
    val offsets = hashed.groupBy("bkt").agg(count(lit(1)).as("bn"))
      .withColumn("off",
        coalesce(sum(col("bn")).over(
          Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bkt"), col("off"))
    ranked.join(broadcast(offsets), "bkt")
      .select(col("doc_id"), (col("off") + col("rb")).as("rank"))
  }

  /** SEQUENCE PACKING — the concat-and-chunk training-data layout
    * (concatenate every document in a deterministic order with one
    * end-of-document separator each, slice the token stream into
    * fixed-capacity training sequences; documents spanning a boundary
    * are split across the two sequences). This is how GPT-style
    * pretraining pipelines lay out their token stream — zero padding
    * waste by construction — and the operator reports the layout's
    * audit table: per training sequence, how many documents
    * contribute, how many tokens fill it (= capacity everywhere but
    * the tail), and the first/last contributing document.
    *
    * Scale shape: the global token offset is an EXCLUSIVE PREFIX SUM
    * computed like [[md5RankUnsorted]]'s ranks — per-md5-bucket
    * partitioned running sums plus a 256-row bucket-total cumsum (the
    * only unpartitioned window, bounded by construction) — never a
    * corpus-wide sort. Each document then explodes over the ≤
    * 1 + n/capacity sequence windows it spans (an equi-key groupBy,
    * partial-aggregable). At 100 TB the layout is one shuffle-light
    * pass, which is why the pattern scales to trillion-token runs. */
  def packedSequences(docs: DataFrame, capacity: Long = 256L): DataFrame = {
    // greatest(size, 0): size() is -1 on a null text column — without
    // the clamp a null doc would get n = 0 and Spark's sequence(k, k-1)
    // explodes DESCENDING (two windows) where the oracle's
    // generate_series is empty. Null/empty docs contribute exactly
    // their EOD separator (n = 1), same as an empty-token doc.
    val lens = docs.select(col("doc_id"),
      md5(col("doc_id").cast("string")).as("h"),
      TextAnalysis.md5Bucket.as("bkt"),
      (greatest(size(tokenArray(docs)), lit(0)) + 1).cast("long").as("n"))
    val inBkt = lens.withColumn("run",
      coalesce(sum(col("n")).over(
        Window.partitionBy(col("bkt")).orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // 256-row bucket token totals → bucket-offset cumsum (the
    // md5_global_rank shape; guard: bounded input by construction)
    val offsets = lens.groupBy("bkt").agg(sum(col("n")).as("bn"))
      .withColumn("boff",
        coalesce(sum(col("bn")).over(
          Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bkt"), col("boff"))
    val placed = inBkt.join(broadcast(offsets), "bkt")
      .select(col("doc_id"), (col("boff") + col("run")).as("off"), col("n"))
    val spanned = placed.select(col("doc_id"), col("off"), col("n"),
      explode(expr(s"sequence(off DIV $capacity, (off + n - 1) DIV $capacity)"))
        .as("seq_id"))
    spanned.groupBy("seq_id").agg(
        count(lit(1)).as("n_docs"),
        sum(least(col("off") + col("n"), (col("seq_id") + 1) * capacity)
          - greatest(col("off"), col("seq_id") * capacity)).as("n_tokens"),
        min_by(col("doc_id"), col("off")).as("first_doc"),
        max_by(col("doc_id"), col("off")).as("last_doc"))
      .orderBy("seq_id")
  }

  def md5GlobalRank(docs: DataFrame): DataFrame =
    // presentation order for the oracle's row compare only — the rank
    // COMPUTATION is sort-free; callers consuming (doc_id, rank) use
    // md5RankUnsorted and skip this final exchange
    md5RankUnsorted(docs).orderBy("rank")

  /** CONTRASTIVE NEGATIVE SAMPLING: for every near-duplicate-clustered
    * document, k deterministic "random" negatives — the training-pair
    * miner behind contrastive/embedding objectives (positives come from
    * the dup clusters; negatives must be drawn uniformly and
    * REPRODUCIBLY, never from the same cluster). The draw walks the
    * [[md5GlobalRank]] order: negative j of a doc at rank r is the doc
    * at rank ((r − 1 + j·q + 1) mod N) + 1 with q = (N−1) DIV k — k
    * provably-distinct offsets spread ≈ N/k apart around the hash ring,
    * uniform-by-hash, collision-free with the probe, and an EQUI-join
    * on rank (no random shuffles, no rejection loop). Same-cluster
    * collisions are flagged, not silently dropped, so the output is
    * audit-complete; downstream filters on the flag. */
  def negativeSamples(docs: DataFrame, clusters: DataFrame,
      k: Int = 3): DataFrame = {
    val ranks = Materialize.stage(md5RankUnsorted(docs))
    val n = ranks.agg(count(lit(1)).as("n_corpus"))
    val probes = clusters.select(col("doc_id"), col("cluster_id"))
      .join(ranks, "doc_id")
      .crossJoin(broadcast(n))
    val slotted = probes.select(
        col("doc_id"), col("cluster_id"), col("rank"), col("n_corpus"),
        explode(array((0 until k).map(lit): _*)).as("slot"))
      // stride_j = j·q + 1 with q = (n−1) DIV k: for any n > k these
      // are k DISTINCT integers in [1, n−1] (q ≥ 1 so they strictly
      // increase; max = (k−1)·q + 1 ≤ (k−1)(n−1)/k + 1 < n), hence
      // k distinct nonzero residues mod n — the probe is never sampled
      // AND no two slots collide, with no degenerate-n special cases
      // (the previous CASE guard only prevented self-collision; two
      // slots could still coincide mod n on tiny corpora). Spacing is
      // ≈ n/k around the md5-rank ring, so the draw stays uniform.
      .withColumn("stride",
        expr("slot * ((n_corpus - 1) DIV " + k + ") + 1"))
      .withColumn("neg_rank",
        expr("((rank - 1 + stride) % n_corpus) + 1"))
    slotted
      .join(ranks.select(col("rank").as("neg_rank"), col("doc_id").as("neg_id")),
        "neg_rank")
      .join(clusters.select(col("doc_id").as("neg_id"),
          col("cluster_id").as("neg_cluster")),
        Seq("neg_id"), "left")
      .select(col("doc_id"), col("slot").cast("long").as("slot"), col("neg_id"),
        coalesce(col("neg_cluster") === col("cluster_id"), lit(false))
          .as("same_cluster"))
      .orderBy("doc_id", "slot")
  }

  /** COLUMN PROFILER — the ingestion-time data-profile every pipeline
    * runs before trusting a new feed: per column, row/null/distinct
    * counts plus typed min/max (numeric columns as exact BIGINT —
    * value milli-quantized, ts as epoch micros; string columns as
    * lexical min/max over the ASCII event-type domain). One row per
    * profiled column; numeric and string extrema ride separate typed
    * columns (NULL where not applicable) so no cross-engine
    * double→string formatting is ever compared.
    *
    * Scale shape: ONE corpus aggregate computes every stat — the
    * multi-countDistinct expands map-side (Spark's EXPAND: 5× rows
    * into one shuffle, still a single scan), the per-column rows then
    * unpivot from a 1-row struct array. No per-column re-scan — the
    * naive profiler's O(columns) passes collapse to O(1). */
  def columnProfile(events: DataFrame): DataFrame = {
    val prof = events
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("value_milli"),
        unix_micros(col("ts")).as("ts_us"))
    def numStats(c: String) = struct(lit(c).as("column"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
      countDistinct(col(c)).as("n_distinct"),
      min(col(c)).as("min_num"), max(col(c)).as("max_num"),
      lit(null).cast("string").as("min_str"),
      lit(null).cast("string").as("max_str"))
    def strStats(c: String) = struct(lit(c).as("column"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
      countDistinct(col(c)).as("n_distinct"),
      lit(null).cast("long").as("min_num"),
      lit(null).cast("long").as("max_num"),
      min(col(c)).as("min_str"), max(col(c)).as("max_str"))
    prof.agg(count(lit(1)).as("n_rows"),
        numStats("event_id").as("s1"), numStats("user_id").as("s2"),
        strStats("event_type").as("s3"), numStats("value_milli").as("s4"),
        numStats("ts_us").as("s5"))
      .select(col("n_rows"),
        explode(array(col("s1"), col("s2"), col("s3"), col("s4"),
          col("s5"))).as("s"))
      .select(col("s.column").as("column"), col("n_rows"),
        col("s.n_nulls").as("n_nulls"),
        col("s.n_distinct").as("n_distinct"),
        col("s.min_num").as("min_num"), col("s.max_num").as("max_num"),
        col("s.min_str").as("min_str"), col("s.max_str").as("max_str"))
      .orderBy("column")
  }
}
