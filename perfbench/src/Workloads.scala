package perfbench

import graft.QueryDef
import graft.operators._

/** The registry queries each workload runs, and the operator family
  * (the `*Queries.defs` list) every query belongs to. */
object Workloads {

  /** registry_mix, served from an index: a BM25 search that reads the
    * postings and their per-document lengths. */
  val Served: Seq[String] = Seq("bm25_search")

  /** Index builds registry_mix must see rebuilt in every pass, named by
    * their build key up to the first ':' in Materialize.buildTimes. */
  val Builds: Seq[String] = Seq("postings", "postingsDl")

  /** registry_mix, short analytics: scans + aggregates (TPC-H q1, q6),
    * a join (q14), window functions, a statistics test, and a streamed
    * gate with its state store and write-ahead log beside its batch
    * twin. */
  val Analytics: Seq[String] = Seq("q1_pricing_summary", "q6_forecast_revenue",
    "q14_promo_revenue", "window_analytics", "welch_ttest", "window_tumbling",
    "window_tumbling_streamed")

  /** The tables registry_mix reads; the generator writes only these. */
  val Tables: Seq[String] = Seq("lineitem", "orders", "part", "events", "documents")

  val Families: Seq[(String, Seq[QueryDef])] = Seq(
    "RelationalQueries" -> RelationalQueries.defs,
    "TpchMoreQueries" -> TpchMoreQueries.defs,
    "StatsQueries" -> StatsQueries.defs,
    "TemporalQueries" -> TemporalQueries.defs,
    "SearchQueries" -> SearchQueries.defs)

  val familyOf: Map[String, String] =
    Families.flatMap { case (f, defs) => defs.map(_.name -> f) }.toMap

  def defs(names: Seq[String]): Seq[QueryDef] = {
    val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"not in the registry: $n")))
  }
}
