package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** The composed end-to-end corpus-build pipeline: every curation
  * stage the standalone queries verify one-by-one, chained as ONE
  * plan — the strongest proof the operators compose without driver
  * round-trips (the reference's whole-job harness pattern,
  * `/root/reference/mr-main/test-mr.sh:36-66`, lifted to the LLM
  * tier).
  *
  * Stages (each is a registered standalone operator's shape):
  *   1. ingest gate — null/empty text quarantined (sources.IO's
  *      quarantine contract restated over the parquet fixture);
  *   2. exact dedup — min doc_id per md5(text) (dedup_exact /
  *      dedup_survivorship's window);
  *   3. near-dup survivorship — minhash-LSH band candidates
  *      (dedup_lsh_pairs' banding), exact-Jaccard CONFIRM at
  *      ≥ 0.85 over an md5-ordered candidate cap (16/doc), drop
  *      any doc with a confirmed earlier duplicate;
  *   4. decontamination — drop train-split docs sharing a word
  *      8-gram with any val/test doc (doc_decontaminate's shape;
  *      8 instead of 3 is the production n-gram constant);
  *   5. quality filter — stopword-rate score_pm ∈ [20, 200]
  *      (doc_quality_deciles' integer score);
  *   6. token-budget select — per-source greedy best-first under a
  *      250-token budget (doc_token_budget_select's window);
  *   7. packing — greedy 256-token sequences per shard
  *      (doc_pack_sequences' flatMapSortedGroups fold).
  *
  * Output: one row per packed sequence (shard, seq_id, n_docs,
  * seq_tokens) with the full FUNNEL as constant audit columns
  * (n_input → n_selected), so the artifact records what every stage
  * dropped — including the `n_cand_capped` honesty column for the
  * confirm cap.
  *
  * Scale shape: every stage is hash-partitioned or windowed on a
  * per-doc/per-source/per-shard key; the one quadratic risk — LSH
  * candidate confirm on this deliberately dense fixture graph — is
  * bounded to O(docs · 16 · tokens) by the md5-ordered cap (the
  * ev_copresence_affinity discipline: deterministic, oracle-
  * mirrored, honesty-columned; on a real sparse corpus the cap is
  * ~identity). The confirm bias is conservative-KEEP: an uncapped
  * run can only drop MORE docs, never fewer. Funnel constants are
  * broadcast 1-row aggregates; the pack fold is one sorted
  * streaming pass per shard; no collect anywhere. */
object PipelineE2E {

  private[queries] val JacConfirmPm = 850L
  private[queries] val CandCap = 16L
  private[queries] val QualityLoPm = 20L
  private[queries] val QualityHiPm = 200L
  private[queries] val SourceBudget = 250L
  private[queries] val SeqBudget = 256L
  private[queries] val NShards = 8L

  def corpusBuild(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def eager(df: DataFrame) = graft.operators.Materialize.eager(df)
    val all = documents(s, d)

    // 1. ingest gate
    val base = eager(all
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("source"), col("text")))

    // 2. exact dedup (min doc_id per text hash; one digest-keyed
    // window shuffle, clusters land whole on one task)
    val wE = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val exact = eager(base.withColumn("h", md5(col("text")))
      .withColumn("rk", row_number().over(wE))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("source"), col("text")))

    // 3. near-dup survivorship: banded candidates, capped confirm.
    // The token table and the candidate pairs are built over the FULL
    // corpus (Documents.tokDistinct / lshCandidatePairs) and then
    // restricted: a doc's minhash signature depends only on its own
    // tokens, so the full table's pairs restricted to exact-dedup
    // survivors equal the pairs computed among the survivors (the
    // dedup_lsh_recall equivalence, proven by its oracle every run).
    // No restriction is needed on the token side at all: `inter` only
    // looks up doc ids the restricted pairs carry, and a doc's token
    // count is the same number in the full table.
    // size-gated broadcast of the survivor id list (r13): the un-hinted
    // semi-joins SMJ-planned and shuffle-wrote the full candidate-pair
    // table twice before AQE's broadcast rewrite (the LPA-core leftover-
    // exchange class); hintSmall hints only while the MEASURED stored
    // size of the exact-dedup output is under the broadcast threshold,
    // so the scale fallback the old comment wanted is kept — just
    // decided from real bytes instead of never
    val exactIds = graft.operators.Materialize.hintSmall(exact)
      .select(col("doc_id"))
    // materialized: card and both intersection joins read it
    val tok = eager(Documents.tokDistinct(s, d))
    val cand = Documents.lshCandidatePairs(s, d)
      .join(exactIds.select(col("doc_id").as("doc_a")), Seq("doc_a"),
        "left_semi")
      .join(exactIds.select(col("doc_id").as("doc_b")), Seq("doc_b"),
        "left_semi")
    // ONE window pass serves both the cap and its honesty count: a
    // doc_b with a rank-(CandCap+1) row is by definition capped, so
    // the multi-M-pair candidate stream is shuffled/sorted exactly
    // once (an earlier draft materialized the raw pairs AND
    // re-aggregated them for the count — two extra full passes,
    // A/B'd away)
    val wCap = Window.partitionBy(col("doc_b")).orderBy(
      md5(concat(col("doc_a").cast("string"), lit("_"),
        col("doc_b").cast("string"))))
    val ranked = eager(cand.withColumn("rk", row_number().over(wCap))
      .filter(col("rk") <= CandCap + 1))
    // capped is a filter over the materialized ranked table (≤17 rows
    // per doc) — measured-small, so the confirm join builds IT as the
    // hash side and the O(Σ tokens) stream is never exchanged for the
    // first leg (r13)
    val capped = graft.operators.Materialize.hintSmall(ranked)
      .filter(col("rk") <= CandCap)
      .select(col("doc_a"), col("doc_b"))
    val card = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
    val inter = capped
      .join(tok.select(col("doc_id").as("doc_a"), col("word")), "doc_a")
      .join(tok.select(col("doc_id").as("doc_b"), col("word")),
        Seq("doc_b", "word"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    val dupped = inter
      .join(card.select(col("doc_id").as("doc_a"), col("nw").as("nwa")),
        "doc_a")
      .join(card.select(col("doc_id").as("doc_b"), col("nw").as("nwb")),
        "doc_b")
      .filter(expr(s"(ni * 1000) DIV (nwa + nwb - ni) >= $JacConfirmPm"))
      .select(col("doc_b").as("doc_id")).distinct()
    val nearsurv = eager(exact.join(dupped, Seq("doc_id"), "left_anti"))

    // 4. decontamination (8-gram shingles; eval shingles come from
    // the FULL ingested corpus — eval sets are never deduped)
    val sw = eager(base.select(col("doc_id"),
      TextPipeline.splitCol.as("split"),
      Documents.tokens(col("text")).as("ws")))
    val shingled = eager(sw.select(col("doc_id"), col("split"),
      explode(expr(
        """CASE WHEN size(ws) >= 8
          |THEN transform(sequence(1, size(ws) - 7),
          |       i -> array_join(slice(ws, i, 8), ' '))
          |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .as("sh")).distinct())
    val evalSh = shingled.filter(col("split") =!= "train")
      .select(col("sh")).distinct()
    val contaminated = eager(shingled.filter(col("split") === "train")
      .join(evalSh, "sh").select(col("doc_id")).distinct())
    val trainIds = sw.filter(col("split") === "train").select(col("doc_id"))
    val decon = nearsurv.join(trainIds, "doc_id")
      .join(graft.operators.Materialize.hintSmall(contaminated),
        Seq("doc_id"), "left_anti")

    // 5. quality filter (integer stopword-rate score)
    val toks = Documents.tokens(col("text"))
    val quality = eager(decon
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isin("the", "a", "of", "and", "to")))
          .cast("long").as("stw"))
      .filter(col("n_tokens") > 0)
      .withColumn("score_pm", expr("(stw * 1000) DIV n_tokens"))
      .filter(col("score_pm").between(QualityLoPm, QualityHiPm)))

    // 6. per-source token budget, best-score-first
    val wB = Window.partitionBy(col("source"))
      .orderBy(col("score_pm").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val selected = eager(quality
      .withColumn("cum", sum(col("n_tokens")).over(wB))
      .filter(col("cum") <= SourceBudget)
      .select(col("doc_id"), col("n_tokens")))

    // 7. greedy sequence packing, one sorted pass per shard
    val packed = selected
      .select(col("doc_id"), (col("doc_id") % NShards).as("shard"),
        col("n_tokens"))
      .as[(Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapSortedGroups($"doc_id".asc) { (_, it) =>
        var seq = 0L; var acc = 0L
        it.map { case (_, sh, t) =>
          if (acc > 0 && acc + t > SeqBudget) { seq += 1; acc = 0L }
          acc += t
          (sh, seq, t)
        }
      }
      .toDF("shard", "seq_id", "n_tokens")
    val perSeq = packed.groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))

    // funnel audit constants — 1-row aggregates, broadcast
    val nCapped = ranked.filter(col("rk") === CandCap + 1)
      .agg(count(lit(1)).as("n_cand_capped"))
    val funnel = all.agg(count(lit(1)).as("n_input"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n_base"))))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_after_exact"))))
      .crossJoin(broadcast(nearsurv.agg(count(lit(1)).as("n_after_neardup"))))
      .crossJoin(broadcast(nCapped))
      .crossJoin(broadcast(
        contaminated.agg(count(lit(1)).as("n_contaminated"))))
      .crossJoin(broadcast(quality.agg(count(lit(1)).as("n_after_quality"))))
      .crossJoin(broadcast(selected.agg(count(lit(1)).as("n_selected"))))
      .withColumn("n_quarantined", col("n_input") - col("n_base"))

    perSeq.crossJoin(broadcast(funnel))
      .select(col("shard"), col("seq_id"), col("n_docs"), col("seq_tokens"),
        col("n_input"), col("n_quarantined"), col("n_after_exact"),
        col("n_after_neardup"), col("n_cand_capped"), col("n_contaminated"),
        col("n_after_quality"), col("n_selected"))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** Oracle: the identical funnel in one DuckDB statement — the pack
    * fold as a recursive CTE (doc_pack_sequences' oracle pattern). */
  val corpusBuildSql: String =
    s"""WITH RECURSIVE
       |base AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE text IS NOT NULL AND length(text) > 0),
       |exact AS (
       |  SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text,
       |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
       |    FROM base) t
       |  WHERE rk = 1),
       |tok AS (
       |  SELECT DISTINCT doc_id, w AS word FROM (
       |    SELECT doc_id, UNNEST(string_split_regex(text, '[^\\p{L}]+')) AS w
       |    FROM exact) t WHERE w <> ''),
       |sig AS (
       |  SELECT doc_id,
       |    MIN(md5('0' || '|' || word)) AS mh0,
       |    MIN(md5('1' || '|' || word)) AS mh1,
       |    MIN(md5('2' || '|' || word)) AS mh2,
       |    MIN(md5('3' || '|' || word)) AS mh3
       |  FROM tok GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL SELECT doc_id, 'b1_' || mh2 || '_' || mh3 FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b ON a.band = b.band
       |    AND a.doc_id < b.doc_id),
       |card AS (SELECT doc_id, COUNT(*) AS nw FROM tok GROUP BY doc_id),
       |capped AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b, ROW_NUMBER() OVER (PARTITION BY doc_b
       |      ORDER BY md5(CAST(doc_a AS VARCHAR) || '_' ||
       |                   CAST(doc_b AS VARCHAR))) AS rk
       |    FROM pairs) t WHERE rk <= $CandCap),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
       |  FROM capped p JOIN tok a ON a.doc_id = p.doc_a
       |  JOIN tok b ON b.doc_id = p.doc_b AND a.word = b.word
       |  GROUP BY 1, 2),
       |dupped AS (
       |  SELECT DISTINCT i.doc_b AS doc_id
       |  FROM inter i JOIN card ca ON ca.doc_id = i.doc_a
       |  JOIN card cb ON cb.doc_id = i.doc_b
       |  WHERE (i.ni * 1000) // (ca.nw + cb.nw - i.ni) >= $JacConfirmPm),
       |nearsurv AS (
       |  SELECT e.doc_id, e.source, e.text FROM exact e
       |  WHERE e.doc_id NOT IN (SELECT doc_id FROM dupped)),
       |sw AS (
       |  SELECT doc_id,
       |    ${TextPipeline.splitCaseSql} AS split,
       |    list_filter(string_split_regex(text, '[^\\p{L}]+'),
       |                w -> w <> '') AS ws
       |  FROM base),
       |shingled AS (
       |  SELECT DISTINCT doc_id, split,
       |    array_to_string(ws[i:i+7], ' ') AS sh
       |  FROM sw, UNNEST(range(1, len(ws) - 6)) AS u(i)
       |  WHERE len(ws) >= 8),
       |eval_sh AS (SELECT DISTINCT sh FROM shingled WHERE split <> 'train'),
       |contaminated AS (
       |  SELECT DISTINCT s.doc_id FROM shingled s
       |  JOIN eval_sh e ON s.sh = e.sh
       |  WHERE s.split = 'train'),
       |decon AS (
       |  SELECT n.doc_id, n.source, n.text FROM nearsurv n
       |  JOIN sw ON sw.doc_id = n.doc_id
       |  WHERE sw.split = 'train'
       |    AND n.doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |scored AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split_regex(text, '[^\\p{L}]+'),
       |         w -> w <> '')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split_regex(text, '[^\\p{L}]+'),
       |         w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS stw
       |  FROM decon),
       |quality AS (
       |  SELECT doc_id, source, n_tokens, (stw * 1000) // n_tokens AS score_pm
       |  FROM scored
       |  WHERE n_tokens > 0 AND (stw * 1000) // n_tokens
       |    BETWEEN $QualityLoPm AND $QualityHiPm),
       |budgeted AS (
       |  SELECT doc_id, source, n_tokens, score_pm,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source
       |      ORDER BY score_pm DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM quality),
       |selected AS (
       |  SELECT doc_id, n_tokens, doc_id % $NShards AS shard,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id % $NShards
       |                       ORDER BY doc_id) AS rn
       |  FROM budgeted WHERE cum <= $SourceBudget),
       |packrec AS (
       |  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS seq_id,
       |    CAST(n_tokens AS BIGINT) AS acc
       |  FROM selected WHERE rn = 1
       |  UNION ALL
       |  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
       |    CASE WHEN r.acc > 0 AND r.acc + t.n_tokens > $SeqBudget
       |         THEN r.seq_id + 1 ELSE r.seq_id END,
       |    CASE WHEN r.acc > 0 AND r.acc + t.n_tokens > $SeqBudget
       |         THEN CAST(t.n_tokens AS BIGINT) ELSE r.acc + t.n_tokens END
       |  FROM packrec r JOIN selected t ON t.shard = r.shard
       |    AND t.rn = r.rn + 1),
       |funnel AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM documents) AS n_input,
       |    (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM base)
       |      AS n_quarantined,
       |    (SELECT COUNT(*) FROM exact) AS n_after_exact,
       |    (SELECT COUNT(*) FROM nearsurv) AS n_after_neardup,
       |    (SELECT COUNT(*) FROM (SELECT doc_b FROM pairs GROUP BY doc_b
       |       HAVING COUNT(*) > $CandCap) t) AS n_cand_capped,
       |    (SELECT COUNT(*) FROM contaminated) AS n_contaminated,
       |    (SELECT COUNT(*) FROM quality) AS n_after_quality,
       |    (SELECT COUNT(*) FROM selected) AS n_selected)
       |SELECT p.shard, p.seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(p.n_tokens) AS BIGINT) AS seq_tokens,
       |  f.n_input, f.n_quarantined, f.n_after_exact, f.n_after_neardup,
       |  f.n_cand_capped, f.n_contaminated, f.n_after_quality, f.n_selected
       |FROM packrec p, funnel f
       |GROUP BY ALL
       |ORDER BY p.shard, p.seq_id""".stripMargin

  val queries: Map[String, Query] = Map(
    "pipeline_corpus_build" -> Query(corpusBuild, corpusBuildSql))
}
