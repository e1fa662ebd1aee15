package graft.perfbench

/** What one op of a workload does. */
sealed trait Op { def name: String }

/** A `SparkEntry.queries` function, materialized through the noop sink. */
final case class EntryOp(name: String) extends Op

/** SQL text through the `Cli query` path: `Cli.validateReadOnly`, the
  * verb's `registerViews()`, then `spark.sql`, materialized through the
  * noop sink. */
final case class SqlOp(name: String, sql: String) extends Op

/** SQL text whose result is written into the lake's output area with
  * `Ingest.writeParquet`: the reference's materialize step. */
final case class MaterializeOp(name: String, sql: String) extends Op

/** One lake refresh cycle: JSONL batch -> `Ingest.readJsonl` ->
  * `CatalogOps.upsert` -> `Ingest.writeParquet` into a new version and a
  * swap -> `Lake.registerViews()` -> `spark.sql` read of a derived view. */
case object RefreshCycle extends Op { val name = "refresh_cycle" }

/** `minPasses`: measured passes a run makes even when `--seconds` have
  * elapsed before; more passes average out a shared machine's multi-second
  * noise windows where a single pass is short. */
final case class Workload(name: String, ops: Seq[Op], minPasses: Int)

object Workloads {
  val CoverageSql = "SELECT * FROM xref.coverage_by_year"

  val lakeSql = Workload(
    "lake_sql",
    Seq(
      "q01_pricing_summary", "q18_large_orders", "rel01_running_total",
      "xref04_priority_dedup", "nst01_order_history_unnest", "evt05_retention",
      "txt10_jaro_winkler", "sim01_topk_bruteforce"
    ).map(EntryOp) ++ Seq(
      SqlOp("sql_unified_sources",
        """SELECT has_profile, has_orders, has_events, COUNT(*) AS n_entities,
          |  SUM(n_orders) AS n_orders, ROUND(SUM(total_spent), 4) AS total_spent
          |FROM xref.unified_entities
          |GROUP BY has_profile, has_orders, has_events""".stripMargin),
      SqlOp("sql_trade_nation_revenue",
        """SELECT n.n_name, r.r_name, COUNT(*) AS n_lines,
          |  ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
          |FROM trade.lineitem l
          |JOIN trade.orders o ON l.l_orderkey = o.o_orderkey
          |JOIN trade.customer c ON o.o_custkey = c.c_custkey
          |JOIN trade.nation n ON c.c_nationkey = n.n_nationkey
          |JOIN trade.region r ON n.n_regionkey = r.r_regionkey
          |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY n.n_name, r.r_name""".stripMargin),
      MaterializeOp("mat_coverage_by_year", CoverageSql),
      RefreshCycle
    ),
    minPasses = 2
  )

  val trainFunnel = Workload(
    "train_funnel",
    Seq(
      EntryOp("pipe01_pretrain_corpus"),
      EntryOp("pipe02_weighted_corpus"),
      EntryOp("dedup03_ngram_jaccard"),
      EntryOp("dedup10_containment"),
      MaterializeOp("mat_dedup_corpus",
        "SELECT doc_id, source, lang, n_chars, text FROM xref.priority_dedup " +
          "JOIN corpus.documents USING (doc_id, source, n_chars)")
    ),
    minPasses = 1
  )

  val all: Map[String, Workload] =
    Seq(lakeSql, trainFunnel).map(w => w.name -> w).toMap
}
