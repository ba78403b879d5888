package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH near-dup (word and character
  * shingles), and SimHash grouping.
  *
  * Every hash is derived from md5 so the DuckDB oracle can reproduce the
  * exact same signatures — results are engine-portable by construction,
  * not by tolerance.
  *
  * Scale design (100 TB): all stages are shuffle-parallel —
  * shingle explode → per-doc signature aggregation (one shuffle on
  * doc_id) → band explode → self-join on band key (one shuffle on the
  * band hash; bands are short strings, so the candidate join is tiny
  * relative to the corpus) → verification join that touches only
  * candidate pairs. No driver-side materialization anywhere. Skewed
  * band keys (boilerplate docs) would inflate one reducer; AQE skew-join
  * splitting handles that at runtime.
  */
object Dedup {

  /** Exact dedup via hash-groupBy: one row per distinct text with the
    * surviving doc (min doc_id) and the copy count. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .orderBy("text_hash")

  /** Word-token stream with per-doc positions: the token array is
    * exploded ONCE per document. The array-building alternative
    * (transform over sequence with element_at(w, i)) is a trap: after
    * project-collapse Catalyst inlines the `w` alias into every
    * element_at, re-running the full-text regexp ~3x PER SHINGLE
    * (measured: the gram stream alone cost 8-10 s at sf0.1 — more than
    * the rest of the near-dup pipeline combined). */
  private def wordTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(WordCount.tokenArray(docs)).as(Seq("pos", "tok")))

  /** Word-3-gram occurrences as a flat (doc_id, g) stream (multiset —
    * MinHash's per-doc MIN is identical over multiset and set). Grams
    * come from lead() over the token stream; the window clusters on
    * doc_id, which the scan is already spread-partitioned by, so this
    * costs a per-partition sort and NO exchange. */
  def wordGrams(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    wordTokens(docs)
      .select(col("doc_id"),
        concat(col("tok"), lit(" "), lead(col("tok"), 1).over(w),
          lit(" "), lead(col("tok"), 2).over(w)).as("g"))
      .filter(col("g").isNotNull)  // concat is null when a lead ran out
  }

  /** Char-12-gram occurrences via exploded positions: one lower() per
    * doc (carried through the Generate), substring per gram. Long grams
    * keep the random-pair jaccard near zero even on a small vocabulary —
    * short grams (5) made every doc pair collide in LSH. */
  def charGrams(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 12)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), length(col("t")) - 11)).as("pos"))
      .select(col("doc_id"), expr("substring(t, pos, 12)").as("g"))

  /** Distinct shingle sets built FROM a gram stream (collect_set) — used
    * only for candidate docs in the jaccard verification, so the fat
    * arrays exist solely for the near-dup neighborhood. */
  def shingleSets(grams: DataFrame): DataFrame =
    grams.groupBy("doc_id").agg(collect_set(col("g")).as("sh"))

  /** MinHash signatures from a flat gram stream: 8 hashes from two md5
    * digests per gram (64 hex chars → 8 chunks of 8; lexicographic min on
    * fixed-width hex equals numeric min). */
  private def minhashes(grams: DataFrame): DataFrame = {
    val hh = grams.select(col("doc_id"),
      concat(md5(col("g")), md5(concat(lit("x"), col("g")))).as("hh"))
    val aggs = (0 until 8).map(j => min(substring(col("hh"), 1 + 8 * j, 8)).as(s"m$j"))
    hh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: 4 bands × 2 rows — collision probability j² per band,
    * so pairs with jaccard ≥ ~0.5 collide w.h.p. in ≥1 of 4 bands. */
  private def bands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        concat(lit(s"$b:"), col(s"m${2 * b}"), col(s"m${2 * b + 1}"))): _*)).as("band"))

  /** PRODUCTION-HASH band table: identical banded-LSH shape to
    * [[bandTable]] (8 minhashes → 4 bands × 2 rows), but the signature
    * hashing is ONE xxhash64 pass over each gram STRING plus 8
    * fixed-width re-hashes `xxhash64(h, j)` over the resulting 8-byte
    * long (the one-hash-k-derived-hashes MinHash family), where the md5
    * variant pays two full MD5 digests (MessageDigest allocation + 64
    * hex-char string materialization + 8 substring extractions) per
    * occurrence. An affine `h·A_j + B_j` permutation would be cheaper
    * still, but Spark 4 runs ANSI mode by default and full-range 64-bit
    * products raise ARITHMETIC_OVERFLOW rather than wrap — re-hashing
    * the long stays inside well-defined semantics at ~the same cost
    * and mixes strictly better. The string is hashed ONCE: whole-stage
    * codegen's subexpression elimination shares the inner xxhash64(g)
    * across the 8 outer hashes. The gram-hash stage is the dominant
    * cost of the whole dedup pipeline at 1 GB (47.6 s of 69.9 s in the
    * r7 flagship), which is exactly the stage this variant attacks;
    * bands are LONGs, so the capped self-join shuffles 8 bytes per key
    * instead of a ~20-char string. The md5 path REMAINS the
    * registry/oracle surface — DuckDB reproduces md5 hex arithmetic
    * digit-for-digit, xxhash64 has no cross-engine twin — so every
    * oracle-gated entry is unchanged; this is the path a production
    * deployment (and [[graft.DedupFlagship]]) runs, recall/precision
    * re-measured against the same planted truth (DEDUP_1GB.md). */
  private[graft] def fastBandTable(grams: DataFrame): DataFrame = {
    val h = xxhash64(col("g"))
    val sig = grams
      .select(col("doc_id") +: (0 until 8).map(j =>
        xxhash64(h, lit(j)).as(s"h$j")): _*)
      .groupBy("doc_id")
      .agg(min(col("h0")).as("m0"),
        (1 until 8).map(j => min(col(s"h$j")).as(s"m$j")): _*)
    sig.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        xxhash64(lit(b), col(s"m${2 * b}"), col(s"m${2 * b + 1}"))): _*)).as("band"))
  }

  /** Default frequent-band cap: a band bucket larger than this is
    * dropped before the self-join (standard frequent-shingle treatment).
    * Bounds the candidate join output at B²/2 per band BY CONSTRUCTION —
    * without it, one viral band (N boilerplate docs) emits N²/2 pairs on
    * a single reducer at 100 TB. The cap is part of the operator's
    * semantics and the oracle applies the identical cap. */
  val MaxBandBucket = 64

  /** Near-duplicate pairs: LSH candidates from a streaming gram explode,
    * verified with exact set jaccard computed ONLY for candidate docs.
    *
    * Scale shape: signatures never materialize per-doc arrays (gram
    * stream → groupBy min); the exact-jaccard verify is likewise
    * gram-level — skinny rows and partial aggregation end to end, no
    * per-doc array ever materializes ([[verifyJaccard]]) — and touches
    * only docs that appear in some candidate pair: at 100 TB that is
    * the difference between touching the whole corpus twice and
    * touching the (tiny) near-dup neighborhood. The band table is persisted with the
    * frequent-band cap already applied map-side ([[cappedBands]]), so
    * the self-join shuffles only capped buckets — every band key carries
    * ≤ maxBand rows BY CONSTRUCTION and no reducer can be skewed by a
    * viral band. All downstream joins are plain shuffle joins — candidate
    * sets are UNBOUNDED in the worst case (billions of pairs in a
    * boilerplate-heavy corpus), so nothing here is force-broadcast;
    * runtime stats (AQE) may still choose broadcast when genuinely small. */
  def nearDupPairs(docs: DataFrame, grams: DataFrame,
      mkGrams: DataFrame => DataFrame, threshold: Double,
      maxBand: Int = MaxBandBucket): DataFrame =
    nearDupPairsFromBands(docs, cappedBands(grams, maxBand), mkGrams, threshold)

  /** [[nearDupPairs]] from a PREBUILT capped band table — lets callers
    * serve the band index from a shared materialized build.
    * `pairMembershipVerify` picks the verification formulation — see
    * [[verifyJaccard]] for the measured regime split. */
  def nearDupPairsFromBands(docs: DataFrame, b: DataFrame,
      mkGrams: DataFrame => DataFrame, threshold: Double,
      pairMembershipVerify: Boolean = true): DataFrame = {
    val cand = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(docs, mkGrams, cand, threshold, pairMembershipVerify)
  }

  /** Raw (uncapped) band table — exposed for plan specs. */
  private[graft] def bandTable(grams: DataFrame): DataFrame =
    bands(minhashes(grams))

  /** The frequent-band-cap PLAN over a prebuilt band table: band sizes
    * from a partial-aggregated `groupBy(band).count()` (each map task
    * pre-combines its local counts, so even a band holding the whole
    * corpus contributes one row per map task to the shuffle — skew-
    * immune, unlike a window over `band`, which has no partial
    * aggregation and would ship a viral band's FULL bucket to one
    * reducer before dropping it), then rows of over-cap bands dropped
    * by a LEFT ANTI join against the viral-band key set.
    *
    * The viral side carries NO broadcast hint. |viral| < |band rows| /
    * maxBand makes it tiny in any realistic corpus, but that bound is
    * LINEAR in corpus size (a boilerplate-heavy corpus can push
    * N·bands/maxBand distinct viral keys), so an unconditional hint is
    * an unbounded driver collect — a broadcast OOM waiting for scale.
    * AQE broadcasts the anti-join's right side at runtime when its
    * MEASURED size is small (the same map-side drop in practice) and
    * degrades to a shuffle anti-join instead of failing when it is not.
    * Semantics are unchanged either way (a band's rows survive iff its
    * total count ≤ maxBand) and match the oracle SQL exactly: `band` is
    * non-null by construction (concat of non-null md5 hex chunks), so
    * anti-join null-key semantics — a NULL key never matches, always
    * survives — can never diverge from the oracle's count-over-group
    * drop. PlanShapeSpec pins both the shape and the no-hint rule. */
  private[graft] def cappedBandsPlan(b: DataFrame, maxBand: Int): DataFrame = {
    val viral = b.groupBy(col("band"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBand)
      .select(col("band"))
    b.join(viral, Seq("band"), "left_anti")
  }

  /** Band table with the frequent-band cap applied — the persisted LSH
    * INDEX a production dedup pipeline maintains between increments
    * ([[cappedBandsPlan]] for the plan itself).
    *
    * Built EAGERLY: the raw band table feeds both the viral aggregate
    * and the anti-join probe side, and leaving it lazy re-runs the
    * gram→minhash→band pipeline (the most expensive stage of the whole
    * dedup pass — the gram stream alone measured 8-10 s at sf0.1) once
    * per consumer, or races concurrent stages of one job to populate
    * the same cache partitions. So: materialize the raw table once,
    * build the capped index from it through `materialize` (default
    * eager localCheckpoint; [[SharedIntermediates]] passes the durable
    * parquet-backed [[Materialize.table]] in cluster mode), then free
    * the raw table's storage. The whole staging lives inside the thunk
    * the materializer receives: when a durable build already exists the
    * thunk is never evaluated and NOTHING upstream runs — reusing an
    * index must not cost a corpus scan. */
  private[graft] def cappedBands(grams: DataFrame, maxBand: Int,
      materialize: (() => DataFrame) => DataFrame =
        t => t().localCheckpoint(),
      table: DataFrame => DataFrame = bandTable): DataFrame = {
    var raw: Option[DataFrame] = None
    val capped = materialize { () =>
      val b = table(grams)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      b.count() // materialize ONCE before the two consumers below scan it
      raw = Some(b)
      cappedBandsPlan(b, maxBand)
    }
    // the materializer contract: the plan it was handed is fully
    // materialized before it returns — so the raw staging table can be
    // freed here without re-exposing consumers to its lineage
    raw.foreach(_.unpersist(blocking = false))
    capped
  }

  /** INCREMENTAL INDEX MAINTENANCE: the maintained band index is a
    * MERGEABLE structure. Per-doc MinHash signatures depend only on the
    * doc itself, so the RAW band table of corpus ∪ increment is exactly
    * the union of the two raw band tables, and only the frequent-band
    * cap — the single cross-doc step — must be re-derived, from band
    * counts that are themselves mergeable sums (one partial-aggregated
    * pass over the stored narrow index rows, not the corpus). A daily
    * increment therefore maintains the index with |Δ|-cost signature
    * work plus one count-merge; the old corpus's gram/minhash pipeline
    * NEVER re-runs, and a band that crosses the cap only AFTER the
    * merge (boilerplate accumulating across increments) is correctly
    * dropped, old rows included. IncrementalIndexSpec pins
    * merge ≡ full-recompute exactly, including that cap boundary. */
  def mergeCappedBands(rawCorpus: DataFrame, rawIncrement: DataFrame,
      maxBand: Int = MaxBandBucket): DataFrame =
    cappedBandsPlan(rawCorpus.union(rawIncrement), maxBand)

  /** Exact set-jaccard verification over a candidate pair table,
    * computed GRAM-LEVEL: |A∩B| is a count over the (pair, gram)
    * equi-join of the two docs' distinct gram streams, |A∪B| =
    * |A|+|B|−|A∩B| from per-doc distinct counts. Every row in every
    * stage is SKINNY (ids + one gram string) and every aggregation is
    * partial-aggregable — unlike the previous collect_set formulation,
    * which materialized each candidate doc's full shingle set as one
    * array row (a single pathological document with tens of millions
    * of grams OOMs the task that builds its array; here it is just
    * more rows). Grams are built ONLY for docs appearing in some
    * candidate pair, so cost stays bounded by the near-dup
    * neighborhood, never the corpus. Identical numbers: intersection/
    * union over distinct grams, same double division, same rounding. */
  /** Exact-jaccard verification in TWO measured formulations (r15
    * optimization round); `pairMembership` picks per call site.
    *
    * PAIR-MEMBERSHIP form (guide §2.4 — the VERDICT r14 "share one
    * exchange across the verify legs" rewrite): each candidate pair
    * explodes into its two (pair, doc_id) membership rows, ONE doc_id
    * equi-join attaches the gram stream, and one (pair, gram) count
    * derives everything pair-level (a gram common to both docs appears
    * twice in its cell — grams are distinct per doc — so
    * |A∩B| = #cells with c = 2 and na + nb = Σc). 5 joins → 1, the two
    * per-side gram legs and both size join-backs gone. Measured
    * isolated sf0.1 (3-rep medians): near_dup_incremental wall
    * 3.05 → 1.13 s, ssjoin family −25 % wall / −40 % CPU (the SimJoin
    * twin of this form).
    *
    * TWO-LEG form (the pre-r15 shape, kept for the DENSE-gram regime):
    * the membership form replicates every doc's grams per pair BEFORE
    * the (pair, g) exchange (Catalyst additionally pushes the gram
    * distinct past the membership join, so the replicated stream is
    * the multiset), while the two-leg form ships the deduped stream
    * once per leg and its intersection join materializes only matches.
    * For near_dup_ngram (char-12-grams, ~2.4 M tagged rows over 1 k
    * candidate pairs) the membership form measured isolated wall
    * 2.05 → 3.03 s (CPU 19.7 → 12.7 s) — wall is the gate axis, so the
    * char-gram verify keeps the two-leg form; word-gram callers and
    * the index-served SimJoin verifies take the membership form. */
  private[operators] def verifyJaccard(docs: DataFrame, mkGrams: DataFrame => DataFrame,
      cand0: DataFrame, threshold: Double,
      pairMembership: Boolean = true): DataFrame = {
    val cand = cand0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val jac = if (pairMembership) {
      val mem = cand.select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      val candIds = mem.select("doc_id").distinct()
      val grams = mkGrams(docs.join(candIds, Seq("doc_id"), "left_semi"))
        .distinct()
      // pairs with an empty intersection surface with ni = 0 and are
      // dropped by the positive-threshold filter — the same final set
      // as the two-leg form's inner join on the intersection
      grams.join(mem, Seq("doc_id"))
        .groupBy(col("doc_a"), col("doc_b"), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("c")).as("tot"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("ni"))
        .select(col("doc_a"), col("doc_b"),
          (col("ni").cast("double") /
            (col("tot") - col("ni")).cast("double")).as("jac"))
    } else {
      val candIds = cand
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      // distinct gram stream of candidate docs — shared by the size
      // aggregate and both sides of the intersection join
      val grams = mkGrams(docs.join(candIds, Seq("doc_id"), "left_semi"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = grams.select(col("doc_id").as("doc_a"), col("g"))
        .join(cand, "doc_a")
        .join(grams.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (col("ni").cast("double") /
            (col("na") + col("nb") - col("ni")).cast("double")).as("jac"))
    }
    jac.filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** INCREMENTAL near-dup: pairs that touch the NEW batch (doc_id >=
    * splitId) only — the production daily-increment pattern. A corpus is
    * deduplicated ONCE; every later increment joins its bands against
    * the maintained band index and verifies only increment-touching
    * candidates, so per-increment cost scales with |increment| × bucket
    * density, NEVER with |corpus|² (corpus×corpus pairs are provably
    * excluded by construction: every candidate has its x side in the new
    * batch). Result is EXACTLY the full-recompute pair set restricted to
    * pairs whose max id is in the increment — equivalence spec-pinned
    * and oracle-gated. Here the band table is recomputed because the
    * test corpus is small; at scale it is the persisted index this
    * method's first argument models ([[cappedBands]] materializes it —
    * swap the persist for the durable table). The frequent-band cap
    * applies to the FULL band table (corpus + increment), preserving the
    * capped semantics of [[nearDupPairs]] exactly. */
  def nearDupPairsIncremental(docs: DataFrame, grams: DataFrame,
      mkGrams: DataFrame => DataFrame, splitId: Long, threshold: Double,
      maxBand: Int = MaxBandBucket): DataFrame =
    nearDupPairsIncrementalFromBands(docs, cappedBands(grams, maxBand),
      mkGrams, splitId, threshold)

  /** [[nearDupPairsIncremental]] against a PREBUILT band index — the
    * literal production shape: the increment's bands probe the
    * maintained index table. */
  def nearDupPairsIncrementalFromBands(docs: DataFrame, b: DataFrame,
      mkGrams: DataFrame => DataFrame, splitId: Long,
      threshold: Double): DataFrame = {
    val bNew = b.filter(col("doc_id") >= splitId)
    val cand = bNew.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    verifyJaccard(docs, mkGrams, cand, threshold)
  }

  /** Serve-time DOC DELETES for the maintained band index — the
    * postings-tombstone pattern ([[Search.applyTombstones]]) applied to
    * the LSH index: one hash anti-join sized by the tombstone set, no
    * rebuild. Probing the tombstoned index can never emit a pair that
    * touches a deleted doc (its band rows are gone, so it can neither
    * be a candidate's x nor y side).
    *
    * Cap semantics are FROZEN-EPOCH, the same LSM contract as
    * [[Search.compactGenerations]]: the frequent-band cap was evaluated
    * when the index was built, and deletes do NOT re-admit a band that
    * was viral at build time even if the deletions would now bring its
    * bucket under the cap. That is the only possible divergence from a
    * full rebuild on the post-delete corpus — deleting rows can only
    * SHRINK surviving buckets, so every served band row also survives a
    * rebuild's cap and serve-pairs ⊆ rebuild-pairs always, with
    * equality unless a delete drags a viral band across the cap
    * boundary (spec-pinned both ways in IncrementalIndexSpec).
    * Compaction = rebuild the index from the live corpus
    * ([[cappedBands]] over live grams): the new epoch re-evaluates the
    * cap and physically drops tombstoned rows, exactly like the
    * postings compaction's fresh tombstone-free base. */
  def applyDocTombstones(b: DataFrame, tombstones: DataFrame): DataFrame =
    b.join(tombstones.select(col("doc_id")), Seq("doc_id"), "left_anti")

  /** FULL LSM SERVE for the band index (r11 verdict item 8): raw
    * per-generation band tables fold with delete-from-older tombstone
    * semantics — [[Search.servePostingsLsm]] applies verbatim, since
    * both indexes are doc_id-keyed relations and the fold only uses the
    * doc_id anti-join — and the frequent-band cap is then re-derived
    * over the SURVIVING rows. Cap-after-delete is the COMPACTED-EPOCH
    * semantics: unlike a postings probe (where re-deriving per-term
    * state would be corpus work, hence frozen-epoch serve there), the
    * band cap derives from stored band COUNTS — one partial-aggregated
    * pass over index rows, the [[mergeCappedBands]] identity — so the
    * serve view equals a full rebuild on the live corpus EXACTLY, not
    * merely ⊆ it. Delete-then-readd works by generation order: the
    * re-added doc's bands arrive in a later generation than the
    * tombstone that removed its predecessor's. */
  def serveBandsLsm(generations: Seq[Search.Generation],
      maxBand: Int = MaxBandBucket): DataFrame =
    cappedBandsPlan(Search.servePostingsLsm(generations), maxBand)

  /** LSH RECALL AUDIT — the approximate operator graded against its own
    * ground truth in one registered query: the banded-MinHash pair set
    * vs the exact AllPairs join at the same τ and gram definition.
    * Precision is 1000‰ BY CONSTRUCTION (LSH candidates are verified
    * with the same exact jaccard, so lsh ⊆ exact) and the driver gate
    * proves it; recall is the number the banding r/b trade-off actually
    * bought. Shape: one tag-union + two-level aggregate over the two
    * (tiny) pair sets — the corpus itself never appears; permilles are
    * exact BIGINT floor-divisions, NULL (both engines) on empty sides. */
  def lshRecallAudit(exact: DataFrame, lsh: DataFrame): DataFrame = {
    val ex = exact.select(col("doc_a"), col("doc_b"),
      lit(1L).as("in_ex"), lit(0L).as("in_lsh"))
    val lp = lsh.select(col("doc_a"), col("doc_b"),
      lit(0L).as("in_ex"), lit(1L).as("in_lsh"))
    ex.union(lp)
      .groupBy("doc_a", "doc_b")
      .agg(max(col("in_ex")).as("ex"), max(col("in_lsh")).as("ls"))
      .agg(sum(col("ex")).as("n_exact"), sum(col("ls")).as("n_lsh"),
        sum(col("ex") * col("ls")).as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        expr("CASE WHEN n_exact = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE 1000 * n_hit div n_exact END").as("recall_permille"),
        expr("CASE WHEN n_lsh = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE 1000 * n_hit div n_lsh END").as("precision_permille"))
  }

  /** Per-row MinHash signature columns m0..m7 (xxhash64 mins over word
    * 3-grams) — a MAP-ONLY formulation (array transforms, no explode, no
    * shuffle), which is what a STREAMING dedup gate requires: signatures
    * must be computable row-local so the only stateful operator is the
    * signature-keyed dedup itself. Docs too short for a 3-gram fall back
    * to a singleton gram of the lowered text, so exact duplicates still
    * collapse. xxhash64 (not md5) because this surface is spec-pinned by
    * batch≡stream parity, not a DuckDB oracle — and it is ~an order of
    * magnitude cheaper per gram. Identical signatures ⇒ near-identical
    * shingle sets w.h.p. (8-way min-hash agreement), the standard
    * signature-equality dedup gate. */
  def withMinhashSig(docs: DataFrame): DataFrame = {
    val base = docs.withColumn("w", WordCount.tokenArray(docs))
    val grams = when(size(col("w")) >= 3,
        expr("transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))"))
      .otherwise(array(lower(col("text"))))
    val withG = base.withColumn("g", grams)
    (0 until 8).foldLeft(withG) { (df, j) =>
      df.withColumn(s"m$j", array_min(expr(s"transform(g, x -> xxhash64(x, $j))")))
    }.drop("w", "g")
  }

  /** Batch reference semantics for the streaming gate: keep the first
    * (ts, doc_id) row per signature. */
  def sigDedupBatch(docs: DataFrame): DataFrame = {
    val sigCols = (0 until 8).map(j => col(s"m$j"))
    val w = Window.partitionBy(sigCols: _*)
      .orderBy(col("ts").asc, col("doc_id").asc)
    withMinhashSig(docs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop(((0 until 8).map(j => s"m$j") :+ "rn"): _*)
  }

  /** Distributed connected components by alternating LARGE-STAR /
    * SMALL-STAR rounds (the MapReduce CC algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): every
    * node ends up labeled with the min id of its component.
    *
    * Why this over min-label propagation: propagation needs O(diameter)
    * rounds — a pathological chain-shaped component pays one full
    * shuffle per hop — while star contraction halves path lengths every
    * round, converging in O(log d). Each round is two groupBy+join
    * passes over the edge set, all distributed; convergence is the
    * DEFINITION of done, checked directly ([[isStarForest]], one small
    * aggregate action per round), so the fixpoint is detected the round
    * it is reached instead of one signature-compare round later.
    * [[Materialize.stage]] (NON-eager) truncates lineage each round —
    * without it every round's logical plan embeds the whole upstream
    * near-dup tree one level deeper and analysis time swamps the
    * sub-second joins. Non-eager matters for cost: the convergence
    * check is the first action over each round's edge set, so the SAME
    * job both materializes the checkpoint and decides convergence —
    * one action per round, not two. In cluster mode
    * (spark.graft.checkpoint.reliable + a checkpoint dir) each round
    * checkpoints RELIABLY to shared storage and survives executor
    * loss — DurabilitySpec drives that mode.
    *
    * Returns (labels: one (doc_id, label) row per node with label = the
    * component min, rounds actually run). */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    // orient big → small once; the pair graph is undirected
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    edges = Materialize.stage(edges, eager = false)
    // large-star: every node u links its LARGER neighbors to
    // m = min(Γ(u) ∪ {u}) — long paths contract toward small ids
    def largeStar(e: DataFrame): DataFrame = {
      val both = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = both.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      both.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // small-star (input oriented u > v): every node links its smaller
    // neighbors — and itself — to its min neighbor, flattening stars
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
    }
    // Fixpoint test: the oriented edge set is a star forest iff
    //  (a) no node appears as both a child (u side) and a parent (v
    //      side), AND
    //  (b) every child has exactly ONE parent.
    // Side-disjointness alone is NOT sufficient: the path 1-5-2 orients
    // to {(5,1),(5,2)} — sides disjoint, yet node 5 has two parents and
    // nodes 1,2 of one component would split into different clusters.
    // Both conditions check in ONE action: per-node parent count (np —
    // edge rows are distinct, so a plain sum counts distinct parents)
    // and parent-side membership (isP) from a single groupBy over the
    // 2|E|-row side-tagged union.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("u").as("id"), lit(1L).as("np"), lit(0).as("isP"))
        .union(e.select(col("v").as("id"), lit(0L).as("np"), lit(1).as("isP")))
        .groupBy("id")
        .agg(sum(col("np")).as("np"), max(col("isP")).as("isP"))
        .filter(col("np") > 1 || (col("np") === 1 && col("isP") === 1))
        .isEmpty
    var rounds = 0
    var done = edges.isEmpty || isStarForest(edges)
    while (!done && rounds < maxRounds) {
      rounds += 1
      val next = Materialize.stage(smallStar(largeStar(edges)).distinct(), eager = false)
      done = isStarForest(next)
      edges = next
    }
    // fixpoint = forest of stars centered at component minima: non-root
    // nodes appear on the u side pointing at the root, roots only as v
    val labels = edges.select(col("u").as("doc_id"), col("v").as("label"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("label")))
      .distinct()
    (labels, rounds)
  }

  /** Near-dup CLUSTER RESOLUTION: connected components over the
    * near-dup pair graph, labeling every clustered doc with the min
    * doc_id of its component (the canonical "keeper") — the step that
    * turns pairwise matches into actual dedup decisions (keep one doc
    * per cluster, drop the rest). See [[connectedComponents]] for the
    * O(log d) star-contraction algorithm underneath. */
  def nearDupClusters(pairs: DataFrame): DataFrame = {
    val (labels, _) = connectedComponents(pairs)
    val sized = labels.groupBy("label")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sized, "label")
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** CANONICAL DOCUMENT SELECTION: the step after cluster resolution
    * that makes dedup actionable — per near-dup cluster, pick the
    * keeper by the keep-longest policy (max n_chars, ties to the
    * smaller doc_id) and report what gets dropped. The cluster table is
    * tiny relative to the corpus (only clustered docs appear), so the
    * doc-metadata join shuffles the cluster side, not the corpus, and
    * the per-cluster argmax is a window over cluster-sized groups. */
  def canonicalDocs(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val j = clusters.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    j.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("cluster_size"),
        col("doc_id").as("keeper_doc"), col("n_chars").as("keeper_chars"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** ENSEMBLE DEDUP: near-dup pairs from BOTH signals — text
    * MinHash+LSH jaccard AND embedding-cosine LSH — unioned into ONE
    * pair graph, then resolved to clusters. The production shape: each
    * signal misses pairs the other catches (a reworded doc keeps its
    * embedding neighborhood; a template edit keeps its shingles), and
    * feeding the union through a single connected-components pass makes
    * the keeper decision consistent across signals instead of two
    * passes fighting over the same docs. `emb.vec_id` is the embedding
    * row of the same-id document. */
  def ensembleDedupClusters(docs: DataFrame, emb: DataFrame,
      jaccardThreshold: Double, cosineThreshold: Double,
      corpusCount: Option[Long] = None): DataFrame =
    ensembleDedupClustersFrom(
      nearDupPairs(docs, wordGrams(docs), wordGrams, jaccardThreshold),
      Similarity.embeddingNearDup(emb, cosineThreshold, corpusCount = corpusCount))

  /** Ensemble clustering from PREBUILT pair tables — the registry wires
    * this to the shared materialized pair builds (SharedIntermediates)
    * so the suite never re-runs the MinHash or embedding-LSH pipelines
    * that other entries already materialized. */
  def ensembleDedupClustersFrom(textPairs: DataFrame, embPairs: DataFrame): DataFrame =
    // no distinct here: cluster resolution orients and dedups the edge
    // set as its first step — an extra shuffle would be pure waste
    nearDupClusters(textPairs.select(col("doc_a"), col("doc_b"))
      .union(embPairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))

  /** NEAR-DUP GRAPH STATISTICS: nodes, edges, triangles, and the global
    * clustering coefficient of the near-dup pair graph — the cluster-
    * cohesion diagnostic of a dedup pass (near-duplication is close to
    * transitive, so a healthy pair graph is triangle-dense; a low
    * coefficient flags thresholds that chain unrelated docs).
    *
    * Triangles via the distributed node-iterator++ shape (Suri &
    * Vassilvitskii, WWW'11): every edge oriented from its lower
    * (degree, id) endpoint to its higher one, wedges enumerated at the
    * LOW-degree endpoint (e1.u = e2.u), closed by the oriented edge
    * between the two wedge tips. (degree, id) is a total order, so each
    * triangle has exactly one minimum vertex under it and is counted
    * exactly once; the count is orientation-invariant, so the oracle's
    * simpler id-oriented join produces the identical number. Why
    * degree-orientation matters at 100×: out-degrees under it are
    * O(√m), so the wedge join's fan-out per key is bounded — a low-ID
    * celebrity hub under id-orientation fans out O(deg²) on one key.
    * Wedges are Σ deg·(deg−1) div 2 in pure integer arithmetic (each
    * term is even, so floor division is exact), and coefficient =
    * 3·triangles/wedges is a fixed double-op both engines share. */
  /** Edges oriented low → high under the (degree, id) total order —
    * exposed for the fan-out bound spec. Input must be the distinct
    * undirected edge set (a < b); output columns (u, w, uk, wk) where
    * uk/wk are the sortable (d, id) orientation keys. */
  private[graft] def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val ka = struct(col("da").as("d"), col("a").as("id"))
    val kb = struct(col("db").as("d"), col("b").as("id"))
    e.join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(ka < kb,
          struct(col("a").as("u"), col("b").as("w"), ka.as("uk"), kb.as("wk")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("w"), kb.as("uk"), ka.as("wk")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"),
        col("o.uk").as("uk"), col("o.wk").as("wk"))
  }

  def nearDupGraphStats(pairs: DataFrame): DataFrame = {
    // The edge set fans out to FIVE consumers (orientation ×2 via the
    // degree join, wedge degrees, edge count, and — through `o` — the
    // 3-way triangle self-join). A lazy persist leaves the expensive
    // upstream pair pipeline in every consumer's lineage, and the
    // concurrent cold-cache stages of one action race to populate the
    // same partitions — measured as the pair pipeline executing ~4× in
    // one query. Eager staging materializes the (tiny relative to the
    // corpus) edge set exactly once and truncates the lineage;
    // Materialize.stage upgrades to reliable checkpoint() in cluster
    // mode.
    val e = Materialize.stage(
      pairs.select(least(col("doc_a"), col("doc_b")).as("a"),
          greatest(col("doc_a"), col("doc_b")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    val o = Materialize.stage(orientByDegree(e))
    // wedge at the orientation-minimal vertex, tips ordered by key so
    // the closing edge's direction is known: (tip1 → tip2)
    val tri = o.as("e1")
      .join(o.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.wk") < col("e2.wk"))
      .join(o.as("e3"),
        col("e3.u") === col("e1.w") && col("e3.w") === col("e2.w"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val agg = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(d * (d - 1)) div 2").as("n_wedges"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    agg.crossJoin(broadcast(edges)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round(col("n_triangles").cast("double") * 3.0
            / col("n_wedges").cast("double"), 6)).otherwise(lit(0.0))
          .as("clustering_coef"))
  }

  /** PAGERANK over the near-dup pair graph — iterative importance
    * scoring (Page et al., 1999): which documents sit at the CENTER of
    * duplication neighborhoods (template sources, boilerplate origins)
    * versus its periphery. Complements [[nearDupGraphStats]] (static
    * cohesion) and [[connectedComponents]] (membership) with a ranked
    * signal a pipeline can use to pick audit targets.
    *
    * Engine-portable by integer arithmetic: ranks are BIGINT
    * micro-units (Scale = 10¹²); every per-iteration operation —
    * r/deg, the 0.85 damping, the 0.15/N teleport — is a floor
    * division, so partial-aggregation order cannot perturb a single
    * unit and the DuckDB oracle (the same 10 iterations unrolled as a
    * CTE chain) reproduces the ranks digit-for-digit. Fixed iteration
    * count rather than convergence detection: deterministic output
    * shape, no tolerance anywhere.
    *
    * Scale shape: each iteration is one equi-join of the edge list
    * with the rank table plus one partial-aggregated groupBy — the
    * standard distributed PageRank round, O(|E|) per round, no
    * broadcast of anything corpus-sized. Edge list and degree table
    * are staged once ([[Materialize.stage]] — reliable checkpoint in
    * cluster mode); each round's rank table is staged to truncate
    * lineage, the [[connectedComponents]] pattern. N comes from one
    * count action (the [[Tables.rowCount]] precedent). */
  def pagerankNearDup(pairs: DataFrame, iters: Int = 10): DataFrame = {
    val Scale = 1000000000000L
    val und = pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val e = Materialize.stage(
      und.union(und.select(col("v").as("u"), col("u").as("v"))))
    val deg = Materialize.stage(e.groupBy("u").agg(count(lit(1)).as("d")))
    val n = math.max(1L, deg.count())
    val base = 15L * Scale / (100L * n) // teleport term ⌊0.15·Scale/N⌋
    var r = deg.select(col("u").as("doc_id"), lit(Scale / n).as("r"))
    for (_ <- 1 to iters) {
      val contrib = e.join(r.select(col("doc_id").as("u"), col("r")), "u")
        .join(deg, "u")
        .groupBy(col("v"))
        .agg(sum(expr("r div d")).as("c"))
      // NON-eager staging: each round's rank table feeds exactly one
      // consumer (the next round), so unlike the CC loop there is no
      // per-round action to piggyback on — eager would pay one job of
      // pure scheduling latency per round (measured 2.0 s wall for
      // 0.4 s CPU at sf0.1); lazy truncates lineage at the single
      // final action instead
      r = Materialize.stage(
        contrib.select(col("v").as("doc_id"),
          (lit(base) + expr("(85 * c) div 100")).as("r")), eager = false)
    }
    r.join(deg.select(col("u").as("doc_id"), col("d").as("degree")), "doc_id")
      .select(col("doc_id"), col("r").as("rank_micro"), col("degree"))
      .orderBy("doc_id")
  }

  /** 16-bit SimHash over token occurrences. Bit b is the sign of the sum
    * of ±1 votes, where the vote is bit (b%4) of hex nibble (b/4) of
    * md5(token) — engine-portable (ascii/shift/and only). */
  def simhashDocs(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"),
      explode(WordCount.tokenArray(docs)).as("word"))
    val hex = md5(col("word"))
    def nibble(d: Int): Column = {
      val a = ascii(substring(hex, d + 1, 1))
      a - when(a >= 97, lit(87)).otherwise(lit(48))
    }
    val withNib = tokens.select(Seq(col("doc_id")) ++ (0 until 4).map(d => nibble(d).as(s"n$d")): _*)
    val sums = (0 until 16).map { b =>
      sum(shiftright(col(s"n${b / 4}"), b % 4).bitwiseAND(lit(1)) * 2 - 1).as(s"s$b")
    }
    val sig = withNib.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(b => when(col(s"s$b") > 0, lit(1 << b)).otherwise(lit(0)))
          .reduce(_ + _).cast("long").as("simhash"))
    sig.select(col("doc_id"), col("simhash"),
        count(lit(1)).over(Window.partitionBy(col("simhash"))).as("n_same"))
      .orderBy("doc_id")
  }

  /** TRAIN/TEST LEAKAGE AUDIT — the query the near-dup machinery
    * ultimately exists for (Lee et al. 2022 measure exactly this:
    * near-duplicate train/eval overlap inflates benchmark scores): a
    * near-dup cluster whose members land in DIFFERENT splits of the
    * deterministic 8/1/1 assignment leaks eval content into training.
    * Emits every leaking cluster with its per-split membership. Scale
    * shape: the cluster table is already tiny relative to the corpus
    * (clustered docs only), the split label is a map-side md5 of the
    * id ([[TextAnalysis.splitOf]] — no corpus scan, no join), and the
    * audit is one cluster-keyed partial-aggregated groupBy. The fix-up
    * this feeds (move whole clusters into one split) is the standard
    * remedy: split by CLUSTER id, not doc id. */
  /** DEDUP-SAVINGS REPORT: the one-row corpus-impact rollup the dedup
    * pipeline feeds to its operators' dashboard — how many documents
    * and how many bytes the keep-longest canonical policy removes.
    * Pure combination of already-built artifacts (the cluster table and
    * [[canonicalDocs]]) with three tiny aggregates crossJoined into one
    * row; nothing here rescans text. chars_dropped is clustered chars
    * minus keeper chars — exact integers, so the row is hash-exact. */
  def dedupSavings(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val corpus = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("chars_total"))
    val clustered = clusters
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .agg(count(lit(1)).as("n_clustered"),
        sum(col("n_chars")).as("chars_clustered"))
    val keepers = canonicalDocs(docs, clusters)
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("keeper_chars")).as("chars_kept"))
    corpus.crossJoin(clustered).crossJoin(keepers)
      .select(
        col("n_docs"), col("n_clustered"), col("n_clusters"),
        (col("n_clustered") - col("n_clusters")).as("n_dropped"),
        col("chars_total"),
        (col("chars_clustered") - col("chars_kept")).as("chars_dropped"),
        round((col("chars_clustered") - col("chars_kept")).cast("double") /
          col("chars_total").cast("double"), 6).as("savings_ratio"))
  }

  /** MINHASH ESTIMATOR CALIBRATION — the signature-level sketch graded
    * against its own ground truth (the third audit-family member after
    * [[lshRecallAudit]] and Similarity.annRecallAudit): per doc-pair,
    * the 16-component MinHash match-fraction estimate of Jaccard vs the
    * exact set Jaccard over the same word-3-gram shingles, bucketed by
    * exact-J decile into mean/max absolute error and signed bias. Pairs
    * cover the full J spectrum: a deterministic stride sample
    * (doc_b = doc_a + 1 + doc_a mod 29 — mostly unrelated docs, J≈0)
    * unioned with the VERIFIED near-dup pair set (banded-LSH candidates
    * exact-verified at τ=0.7 — equal to the exact pair set wherever
    * banding recall is 1, which the oracle SF pins; at 1 GB banding
    * recall is 0.978, so the high-J tail there samples recalled pairs).
    * Signatures use md5-derived 32-bit components (conv(md5-prefix), the
    * split/sampling oracles' cross-engine trick) rather than the
    * production xxhash64 — the ESTIMATOR THEORY under audit (P[min-hash
    * collision] = J) is hash-family-independent, and md5 is the one
    * 64-bit-free hash both engines evaluate identically. Everything is
    * exact-integer: permilles by BIGINT floor-division (all operands
    * non-negative except the bias, which is sign-split so Spark's
    * truncating `div` and DuckDB's flooring `//` agree). Scale shape:
    * signatures are MAP-ONLY per doc (array transforms, no explode);
    * the pair table drives two equi-joins against the signature table —
    * cost is |pairs|, not |corpus|². */
  def minhashEstimateError(docs: DataFrame, nearDupPairs: DataFrame,
      nComponents: Int = 16): DataFrame = {
    // STAGE the corpus-scale subtrees: `sh` fans out to the stride join
    // (twice) and the signature build, `sigs` to both pair sides —
    // unstaged, the tokenize + 16-way-md5 pipeline would run ~4× per
    // query (the zipfAlpha unstaged-fan-out lesson; review finding)
    val sh = Materialize.stage(docs
      .select(col("doc_id"),
        WordCount.tokenArray(docs).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(0), size(col("w")) - 3),
          i => concat(element_at(col("w"), i + 1), lit(" "),
            element_at(col("w"), i + 2), lit(" "),
            element_at(col("w"), i + 3)))).as("sh")))
    // min over the FIXED-WIDTH lowercase-hex prefix, conv hoisted OUTSIDE
    // the array_min (r15 optimization round): 8-char lowercase hex is
    // lexicographically ordered exactly as its numeric value (the
    // minhashes() comment's rule), so the per-gram conv+cast — 16 base
    // conversions per gram occurrence, the dominant stage of this query's
    // 12.8 s isolated CPU (StageAudit: 6.7 s in the signature build) —
    // collapses to 16 per DOC. Same argmin element, bit-identical h_j.
    def sigCol(j: Int): Column = conv(array_min(transform(col("sh"),
      g => substring(md5(concat(g, lit("#" + j))), 1, 8))), 16, 10)
      .cast("long").as(s"h$j")
    val sigs = Materialize.stage(sh.select(
      col("doc_id") +: col("sh") +: (0 until nComponents).map(sigCol): _*))
    val stride = sh.select(col("doc_id").as("doc_a"),
        (col("doc_id") + 1 + pmod(col("doc_id"), lit(29))).as("doc_b"))
      .join(sh.select(col("doc_id").as("doc_b")), Seq("doc_b"))
    val pairs = stride.select(col("doc_a"), col("doc_b"))
      .union(nearDupPairs.select(col("doc_a"), col("doc_b"))).distinct()
    def side(tag: String) = sigs.select(
      col("doc_id").as(s"doc_$tag") +: col("sh").as(s"sh_$tag") +:
        (0 until nComponents).map(j => col(s"h$j").as(s"h${j}_$tag")): _*)
    val matches = (0 until nComponents)
      .map(j => when(col(s"h${j}_a") === col(s"h${j}_b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val per = pairs.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
      .select(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("ni"),
        size(col("sh_a")).cast("long").as("na"),
        size(col("sh_b")).cast("long").as("nb"),
        matches.as("m"))
      .select(
        expr("1000 * ni div (na + nb - ni)").as("exact_pm"),
        expr(s"1000 * m div $nComponents").as("est_pm"))
    per.groupBy(expr("exact_pm div 100").as("jac_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("est_pm") - col("exact_pm"))).as("sum_abs"),
        max(abs(col("est_pm") - col("exact_pm"))).as("max_abs_err_permille"),
        sum(col("est_pm") - col("exact_pm")).as("sum_err"))
      .select(col("jac_bucket"), col("n_pairs"),
        expr("sum_abs div n_pairs").as("mean_abs_err_permille"),
        col("max_abs_err_permille"),
        expr("CASE WHEN sum_err < 0 THEN -((-sum_err) div n_pairs) " +
          "ELSE sum_err div n_pairs END").as("bias_permille"))
      .orderBy("jac_bucket")
  }

  /** LEAKAGE-FREE SPLIT — the repair for what [[splitLeakage]] detects:
    * train/val/test is assigned per near-dup CLUSTER, not per document
    * (every member takes the split of the cluster representative =
    * min doc_id), so no near-duplicate pair can straddle train and
    * eval by construction. Singletons keep their own id as rep, which
    * makes this a strict refinement of the naive per-doc split: `moved`
    * marks exactly the docs the repair re-assigned. Scale shape: one
    * doc_id equi-join (NO broadcast hint — the clustered-doc table is
    * tiny on a clean corpus but can be a large corpus fraction on a
    * crawl-heavy one, so AQE picks broadcast only when it actually
    * fits); the split label itself is a map-side md5 bucket. */
  def leakageFreeSplit(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val rep = coalesce(col("cluster_id"), col("doc_id"))
    docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), rep.as("cluster_rep"),
        TextAnalysis.splitOfKey(rep).as("split"),
        (TextAnalysis.splitOfKey(rep) =!= TextAnalysis.splitOf).as("moved"))
      .orderBy("doc_id")
  }

  def splitLeakage(clusters: DataFrame): DataFrame =
    clusters
      .withColumn("split", TextAnalysis.splitOf)
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(
        countDistinct(col("split")).as("n_splits"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      .filter(col("n_splits") >= 2)
      .orderBy("cluster_id")
}
