package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Snapshot/CDC surface: what changed between two corpus snapshots,
  * and incremental maintenance of aggregates from that change feed —
  * the compute half of the refresh loop whose storage half is
  * [[graft.sources.IO.upsertSnapshot]].
  *
  * The two snapshots are derived DETERMINISTICALLY from the documents
  * table (no side files, so the DuckDB oracle sees the same inputs):
  *   old = docs with doc_id % 10 != 9
  *   new = docs with doc_id % 10 != 0, where docs with doc_id % 7 == 3
  *         carry a re-crawl edit (text || ' revised', n_chars + 8)
  * so the feed contains inserts (% 10 == 9), deletes (% 10 == 0),
  * updates (% 7 == 3, surviving both) and unchanged rows.
  *
  * Reference analog: none (SURVEY §2.3 — the reference is batch-only,
  * single-shot); beyond-reference pipeline surface.
  */
object SnapshotOps {

  private[graft] def oldSnap(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))

  private def newSnap(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 3, concat(col("text"), lit(" revised")))
          .otherwise(col("text")).as("text"),
        when(col("doc_id") % 7 === 3, col("n_chars") + 8)
          .otherwise(col("n_chars")).as("n_chars"))

  /** The classified change feed: one full-outer hash join keyed on
    * doc_id — the one shuffle a snapshot diff needs at any scale (at
    * 100 TB both sides cluster on doc_id via writeClustered, so the
    * join is a co-located sort-merge with no skew: doc_id is unique
    * per side). Classification is a projection over the joined row. */
  private[graft] def changeFeed(s: SparkSession, d: String): DataFrame = {
    val o = oldSnap(s, d)
    val n = newSnap(s, d)
    o.as("o").join(n.as("n"), o("doc_id") === n("doc_id"), "full_outer")
      .select(
        coalesce(col("o.doc_id"), col("n.doc_id")).as("doc_id"),
        coalesce(col("o.source"), col("n.source")).as("source"),
        when(col("o.doc_id").isNull, lit("insert"))
          .when(col("n.doc_id").isNull, lit("delete"))
          .when(col("o.text") =!= col("n.text"), lit("update"))
          .otherwise(lit("unchanged")).as("change_type"),
        (coalesce(col("n.n_chars"), lit(0L))
          - coalesce(col("o.n_chars"), lit(0L))).as("chars_delta"))
  }

  /** Per-(source, change_type) rollup of the change feed — the audit
    * report a pipeline emits per refresh (how much of each source
    * churned, and the byte movement). */
  def snapshotDiff(s: SparkSession, d: String): DataFrame =
    changeFeed(s, d)
      .groupBy(col("source"), col("change_type"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars_delta")).as("chars_delta"))
      .orderBy(col("source"), col("change_type"))

  val snapshotDiffSql: String =
    s"""WITH old_snap AS (
       |  SELECT doc_id, source, text, n_chars FROM documents
       |  WHERE doc_id % 10 <> 9),
       |new_snap AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 7 = 3 THEN text || ' revised' ELSE text END AS text,
       |    CASE WHEN doc_id % 7 = 3 THEN n_chars + 8 ELSE n_chars END AS n_chars
       |  FROM documents WHERE doc_id % 10 <> 0),
       |feed AS (
       |  SELECT COALESCE(o.source, n.source) AS source,
       |    CASE WHEN o.doc_id IS NULL THEN 'insert'
       |         WHEN n.doc_id IS NULL THEN 'delete'
       |         WHEN o.text <> n.text THEN 'update'
       |         ELSE 'unchanged' END AS change_type,
       |    COALESCE(n.n_chars, 0) - COALESCE(o.n_chars, 0) AS chars_delta
       |  FROM old_snap o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id)
       |SELECT source, change_type, COUNT(*) AS n_docs,
       |  CAST(SUM(chars_delta) AS BIGINT) AS chars_delta
       |FROM feed GROUP BY source, change_type
       |ORDER BY source, change_type""".stripMargin

  /** Incremental view maintenance: per-source (n_docs, total_chars)
    * over the NEW snapshot, computed WITHOUT scanning the new corpus —
    * old stats + the change feed's delta. COUNT/SUM are abelian, so
    * the maintenance is exact:
    *   n_docs      += (+1 per insert, -1 per delete)
    *   total_chars += chars_delta  (inserts add, deletes subtract,
    *                                updates move by the edit size)
    * The ORACLE aggregates the new snapshot directly — a green hash
    * IS the proof the delta algebra reproduces the full recompute.
    *
    * Scale shape: the delta agg partial-combines map-side to one row
    * per source; the merge is a full-outer sort-merge join over
    * |sources| rows (full outer cannot broadcast — both sides are
    * already tiny post-agg). At 100 TB this replaces a full-corpus
    * rescan with a scan of the day's changes. */
  def incrementalStats(s: SparkSession, d: String): DataFrame = {
    val oldStats = oldSnap(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n0"), sum(col("n_chars")).as("c0"))
    val delta = changeFeed(s, d)
      .groupBy(col("source"))
      .agg(
        sum(when(col("change_type") === "insert", 1L)
          .when(col("change_type") === "delete", -1L)
          .otherwise(0L)).as("dn"),
        sum(col("chars_delta")).as("dc"))
    oldStats.join(delta, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("c0"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("total_chars"))
      .filter(col("n_docs") > 0) // a fully-deleted source leaves the view
      .orderBy(col("source"))
  }

  /** Direct recompute over the new snapshot — the IVM correctness bar. */
  val incrementalStatsSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN n_chars + 8 ELSE n_chars END)
      |    AS BIGINT) AS total_chars
      |FROM documents WHERE doc_id % 10 <> 0
      |GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, Query] = Map(
    "doc_snapshot_diff" -> Query(snapshotDiff, snapshotDiffSql),
    "doc_incremental_stats" -> Query(incrementalStats, incrementalStatsSql))
}
