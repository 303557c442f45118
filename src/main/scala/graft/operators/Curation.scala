package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] The composed training-data curation pipeline — the end-to-end
  * shape the individual LLM operators exist for:
  *
  *   quality gate (docs_quality.accepted)
  *     -> exact-dedup keeper (docs_fingerprint.keeper)
  *     -> near-dup removal (drop every doc whose signature matches its
  *        LSH-bucket representative at >= 0.9 — the linear loser-set
  *        formulation, see DedupOps.minhashLosers)
  *     -> surviving-corpus profile per language.
  *
  * Everything is semi/anti-join composition over the already-verified
  * operator outputs, so the whole pipeline stays one lazy plan: Catalyst
  * pushes the quality/keeper predicates into their subplans. This is the
  * query to scale-test: at 100 TB the three gates run as successive hash
  * semi/anti joins on doc_id — each a single key-only shuffle, with AQE
  * free to broadcast any side its runtime stats prove small.
  */
object Curation extends QueryModule {

  private val NEAR_DUP_CUTOFF = 0.9

  def curate(s: SparkSession, dir: String): DataFrame = {
    val accepted = TextOps.quality(s, dir).filter(col("accepted")).select("doc_id")
    val keepers = TextOps.fingerprint(s, dir).filter(col("keeper")).select("doc_id")
    // Loser-set formulation (round 4): candidates are per-bucket
    // (representative, member) pairs — linear in corpus size even for a
    // 10⁶-copy duplicate cluster — instead of the pairwise band self-join,
    // whose output is quadratic in cluster size. See DedupOps.minhashLosers.
    val nearDupLosers = DedupOps.minhashLosers(s, dir, NEAR_DUP_CUTOFF)
    Tables.load(s, dir, "documents")
      .join(accepted, Seq("doc_id"), "left_semi")
      .join(keepers, Seq("doc_id"), "left_semi")
      // No broadcast hint: the loser set scales with corpus duplication
      // (web corpora run 30%+ duplicates), so forcing a broadcast is
      // unbounded at 100 TB. Unhinted, AQE broadcasts when runtime stats
      // say it's small and falls back to a key-only shuffled anti join
      // when they don't — exactly the size-aware behavior we want.
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"))
      .orderBy(col("lang"))
  }

  val curateSql: String =
    s"""WITH q AS (${TextOps.qualitySql}),
      |fp AS (${TextOps.fingerprintSql}),
      |losers AS (${DedupOps.minhashLosersSql(NEAR_DUP_CUTOFF)})
      |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents d
      |WHERE EXISTS (SELECT 1 FROM q WHERE q.doc_id = d.doc_id AND q.accepted)
      |  AND EXISTS (SELECT 1 FROM fp WHERE fp.doc_id = d.doc_id AND fp.keeper)
      |  AND NOT EXISTS (SELECT 1 FROM losers WHERE losers.doc_id = d.doc_id)
      |GROUP BY lang ORDER BY lang""".stripMargin

  val queries: Map[String, Query] = Map(
    "pipeline_curation" -> Query(curate _, curateSql))
}
