package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Data-layout planning: the Z-order (Morton-curve) clustering
  * diagnostic a lakehouse pipeline runs before rewriting a 100 TB
  * table for multi-dimension data skipping (Delta OPTIMIZE ZORDER /
  * Iceberg sort-order compaction). A 1-D sort zeroes one dimension's
  * per-file span and leaves the other at full range; interleaving the
  * bits of both dimensions gives every file a span of ~range/√buckets
  * on EACH dimension, so min/max file pruning works for filters on
  * either column.
  *
  * Reference analog: none (the reference engine has no notion of data
  * layout — SURVEY §2.3); this is beyond-reference scale surface.
  */
object DataLayout {

  /** 2-D Morton bit spread (…b2 b1 b0 → …b2 0 b1 0 b0): the standard
    * binary-magic-number ladder — five shift/mask steps, all plain
    * long bitwise ops, so the whole key computation stays inside
    * whole-stage codegen (a higher-order `aggregate` over a 21-element
    * sequence computes the same key ~8× slower, interpreted per
    * element). Equality of the two forms is property-checked in
    * LayoutTransitionsSpec. */
  private def spread21(c: org.apache.spark.sql.Column) = {
    val s1 = c.bitwiseOR(shiftleft(c, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val s4 = s3.bitwiseOR(shiftleft(s3, 2)).bitwiseAND(lit(0x3333333333333333L))
    s4.bitwiseOR(shiftleft(s4, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Test hook: the spread ladder, exposed for the equality pin in
    * LayoutTransitionsSpec. */
  private[queries] def spread21Test(c: org.apache.spark.sql.Column) =
    spread21(c)

  /** The 42-bit Morton key over two 21-bit grid coordinates — shared
    * by the stats audit below and [[graft.sources.IO.writeZOrdered]]
    * (ONE key definition, so the written layout and its audit can
    * never disagree about the curve). */
  private[graft] def mortonKey(xs: org.apache.spark.sql.Column,
      ys: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftleft(spread21(xs), 1).bitwiseOR(spread21(ys))

  // ---------------------------------------------- z-order stats
  /** Per-bucket dimension spans under Z-order space partitioning of
    * lineitem on (l_partkey, l_suppkey): normalize both dims onto a
    * 21-bit grid (exact integer scaling by the data max, so the curve
    * adapts to any scale factor), interleave bits into a 42-bit Morton
    * key, space-partition by the key's top 6 bits (64 buckets = an 8×8
    * grid over the normalized plane), and report per-bucket row count
    * + min/max/span of each raw dimension. The spans ARE the proof of
    * skipping: each bucket covers ~1/8 of each dimension's range, so a
    * point filter on either column prunes ~7/8 of the files.
    *
    * All integer algebra (scaled grid, shifts, spans) — bit-identical
    * across engines. Scale shape: a 1-row max() stats agg broadcast
    * back, ONE linear projection pass computing the key (the spread21
    * shift/mask ladder — plain bitwise ops in whole-stage codegen, no
    * UDF, no per-row array), and a hash-agg onto 64 rows. No global sort anywhere: the curve position is a
    * pure function of the row, so at a real rewrite the same key feeds
    * `repartitionByRange(zkey)` + write, and THIS query is the
    * shuffle-free audit of what that layout buys. */
  def zorderStats(s: SparkSession, d: String): DataFrame = {
    val mx = lineitem(s, d).agg(
      max(col("l_partkey")).cast("long").as("xm"),
      max(col("l_suppkey")).cast("long").as("ym"))
    lineitem(s, d)
      .select(col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"))
      .crossJoin(broadcast(mx))
      // 21-bit normalized grid coordinates, exact integer division
      .withColumn("xs", expr("(x * 2097152) DIV (xm + 1)"))
      .withColumn("ys", expr("(y * 2097152) DIV (ym + 1)"))
      // Morton interleave: x bits land at odd positions, y at even
      .withColumn("zkey", mortonKey(col("xs"), col("ys")))
      .groupBy(expr("shiftright(zkey, 36)").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .withColumn("x_span", col("x_max") - col("x_min"))
      .withColumn("y_span", col("y_max") - col("y_min"))
      .orderBy(col("bucket"))
  }

  val zorderStatsSql: String =
    """WITH mx AS (
      |  SELECT MAX(l_partkey) AS xm, MAX(l_suppkey) AS ym FROM lineitem),
      |g AS (
      |  SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y,
      |    (CAST(l_partkey AS BIGINT) * 2097152) // (xm + 1) AS xs,
      |    (CAST(l_suppkey AS BIGINT) * 2097152) // (ym + 1) AS ys
      |  FROM lineitem CROSS JOIN mx),
      |z AS (
      |  SELECT x, y,
      |    list_sum([(((xs >> i) & 1) << (2*i+1)) + (((ys >> i) & 1) << (2*i))
      |              FOR i IN range(0, 21)]) AS zkey
      |  FROM g)
      |SELECT CAST(zkey >> 36 AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max,
      |  MAX(x) - MIN(x) AS x_span, MAX(y) - MIN(y) AS y_span
      |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin

  // ------------------------------------------- compaction planner
  /** Small-file compaction plan: the OPTIMIZE/rewrite planning pass a
    * lakehouse runs when streaming ingest has fragmented a table into
    * per-micro-batch files. The "file inventory" is derived
    * deterministically from the events stream itself — one file per
    * (event_type partition, 15-minute ingest window), sized as
    * Σ(32 B row overhead + payload length) — then files are packed
    * IN INGEST ORDER into target-size bins with a running-sum window:
    * bin = exclusive-prefix-bytes DIV target (the standard sequential
    * bin-fill estimate; a bin can overshoot by at most one file,
    * which is exactly how sequential compaction behaves). Output is
    * the per-bin plan (file count, bytes, row count, window range) —
    * the work list a rewrite job would execute.
    *
    * Scale shape: inventory is one hash-agg (shuffle keyed on
    * partition+window — the table's own layout key); the pack is one
    * window per PARTITION (event_type), never a global sort; the plan
    * summary is a second hash-agg onto O(bins) rows. All integer
    * algebra (epoch-micros DIV window, byte sums) — engine-exact.
    * At 100 TB the inventory comes from the table metadata layer
    * (file listings) instead of a scan, and the same plan shape
    * applies unchanged. */
  def compactionBins(s: SparkSession, d: String): DataFrame = {
    val target = 65536L // planning target: 64 KiB per compacted file
    val files = events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 900000000").as("ingest_win"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("props")) + lit(32)).cast("long").as("bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ingest_win"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before",
        coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before DIV $target"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).cast("long").as("bin_bytes"),
        sum(col("n_rows")).cast("long").as("n_rows"),
        min(col("ingest_win")).as("win_min"),
        max(col("ingest_win")).as("win_max"))
      .orderBy(col("event_type"), col("bin"))
  }

  val compactionBinsSql: String =
    """WITH f AS (
      |  SELECT event_type, epoch_us(ts) // 900000000 AS ingest_win,
      |    COUNT(*) AS n_rows,
      |    CAST(SUM(LENGTH(props) + 32) AS BIGINT) AS bytes
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, ingest_win, n_rows, bytes,
      |    COALESCE(SUM(bytes) OVER (PARTITION BY event_type
      |      ORDER BY ingest_win
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_before
      |  FROM f)
      |SELECT event_type, CAST(cum_before // 65536 AS BIGINT) AS bin,
      |  COUNT(*) AS n_files,
      |  CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
      |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
      |  MIN(ingest_win) AS win_min, MAX(ingest_win) AS win_max
      |FROM p GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin

  // --------------------------------------------- shard balance
  /** Writer-side shard planning audit: hash-assign documents to 16
    * shards (md5 of doc_id — the same engine-portable key the dedup
    * tier samples with) and report each shard's doc count, token
    * mass, and balance vs the ideal uniform share in permille. The
    * pre-write check behind output partitioning decisions: token-mass
    * skew above ~10% means downstream training readers stall on the
    * fat shard, and the fix (salt, or split by token budget —
    * doc_token_budget_select) is cheap before the write and a rewrite
    * after.
    *
    * Scale shape: one stateless projection (hash + token count) into
    * a 16-group hash-agg with map-side combine; the totals row
    * broadcasts back. One linear pass regardless of corpus size. */
  def shardBalance(s: SparkSession, d: String): DataFrame = {
    val Shards = 16
    val t = documents(s, d).select(
      (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % Shards).as("shard"),
      size(Documents.tokens(col("text"))).cast("long").as("toks"))
    val shards = t.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val tot = shards.agg(sum(col("n_docs")).as("td"),
      sum(col("n_tokens")).as("tt"))
    shards.crossJoin(broadcast(tot))
      .withColumn("doc_share_pm", expr(s"1000 * $Shards * n_docs DIV td"))
      .withColumn("token_share_pm", expr(s"1000 * $Shards * n_tokens DIV tt"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("doc_share_pm"), col("token_share_pm"))
      .orderBy(col("shard"))
  }

  val shardBalanceSql: String =
    """WITH t AS (
      |  SELECT ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
      |       + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
      |       + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
      |       + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 16
      |      AS shard,
      |    CAST(len(list_filter(string_split_regex(text, '[^\p{L}]+'),
      |      w -> w <> '')) AS BIGINT) AS toks
      |  FROM documents),
      |s AS (
      |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(toks) AS BIGINT) AS n_tokens
      |  FROM t GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
      |          CAST(SUM(n_tokens) AS BIGINT) AS tt FROM s)
      |SELECT shard, n_docs, n_tokens,
      |  1000 * 16 * n_docs // td AS doc_share_pm,
      |  1000 * 16 * n_tokens // tt AS token_share_pm
      |FROM s, tot ORDER BY shard""".stripMargin

  val queries: Map[String, Query] = Map(
    "layout_zorder_stats" -> Query(zorderStats, zorderStatsSql),
    "layout_compaction_bins" -> Query(compactionBins, compactionBinsSql),
    "layout_shard_balance" -> Query(shardBalance, shardBalanceSql))
}
