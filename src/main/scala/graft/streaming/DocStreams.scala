package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingestion over the documents table: the arriving-corpus
  * side of the curation pipeline. The key operator is the
  * STREAM-STATIC join — each micro-batch of new documents checked
  * against the existing corpus' signature table without any streaming
  * state at all (the static side is just a DataFrame; Spark re-plans
  * it per micro-batch, so a periodically-refreshed corpus snapshot
  * works unchanged).
  *
  * This is only possible because MinHash signatures are computable as
  * a per-row PROJECTION (queries.Documents.bandedSignatureProjection
  * — ONE shared definition with the batch tier, so the tokenizer or
  * band convention can never fork between batch and stream): no
  * explode/groupBy means no streaming aggregation, no watermark
  * bookkeeping, and append output mode — each arriving doc's
  * candidate pairs are emitted exactly once, in its own micro-batch. */
object DocStreams {

  /** File-source stream over a documents parquet path (shared
    * staging/trigger conventions: EventStreams.readParquetStream). */
  def readDocStream(spark: SparkSession, path: String): DataFrame =
    EventStreams.readParquetStream(spark, path)

  /** Stream-static incremental dedup: arriving docs (stream) banded
    * and joined against the corpus signature table (static). Returns
    * the raw candidate PAIRS — one row (doc_id, old_id) per arriving
    * doc × colliding corpus doc, each counted exactly once by the
    * disjoint-band union (the band-1 term requires band-0 to differ).
    * Callers wanting per-doc verdicts (dup_of = min old_id, candidate
    * counts) aggregate these pairs per micro-batch in foreachBatch or
    * post-hoc over the sink table (DocStreamsSpec does the latter);
    * a global streaming groupBy would need a watermark column this
    * table does not carry.
    *
    * The static side is banded ONCE and materialized
    * (Materialize.eager): without that, Spark re-runs the full-corpus
    * tokenize+minhash projection for EVERY join arm of EVERY
    * micro-batch — 2F corpus passes for F arriving files. */
  def incrementalDedupStream(streamDocs: DataFrame, corpus: DataFrame)
      : DataFrame = {
    val neu = graft.queries.Documents.bandedSignatureProjection(streamDocs)
    val old = graft.operators.Materialize.eager(
      graft.queries.Documents.bandedSignatureProjection(corpus))
      .select(col("doc_id").as("old_id"),
        col("b0").as("ob0"), col("b1").as("ob1"))
    val onB0 = neu.join(old, col("b0") === col("ob0"))
    val onB1Only = neu.join(old,
      col("b1") === col("ob1") && col("b0") =!= col("ob0"))
    onB0.union(onB1Only)
      .select(col("doc_id"), col("old_id"))
  }

  /** Stream-static quality scoring: each arriving document's tokens
    * scored against the EXISTING corpus's unigram model — the
    * admission-control half of the batch `text_unigram_surprisal`
    * query (new data is scored by the old model; the model refreshes
    * when the corpus snapshot does). Stateless: token explode is a
    * per-row generator, the model lookup is a stream-static equi-join
    * on the word, so append mode needs no watermark and each token
    * scores exactly once.
    *
    * Emits (doc_id, word, bits) rows; per-doc roll-ups happen in
    * foreachBatch or over the sink table (the same pairs-not-verdicts
    * contract as [[incrementalDedupStream]], and for the same reason —
    * a global streaming groupBy would demand a watermark column the
    * documents table does not carry).
    *
    * Counts are Laplace-shifted (+1 for every word) so corpus-unseen
    * words score finitely instead of crashing the bit-length — same
    * convention as the batch importance scorer's target model. The
    * model tables materialize ONCE (Materialize.eager) — otherwise
    * every micro-batch would re-tokenize the whole corpus. */
  def surprisalScoreStream(streamDocs: DataFrame, corpus: DataFrame)
      : DataFrame = {
    val toks = (c: org.apache.spark.sql.Column) =>
      graft.queries.Documents.tokens(c)
    val cnts = graft.operators.Materialize.eager(
      corpus.select(explode(toks(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c")))
    val tot = graft.operators.Materialize.eager(
      cnts.agg(sum(col("c")).as("n")))
    streamDocs
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .join(cnts, Seq("word"), "left")
      .crossJoin(tot)
      .select(col("doc_id"), col("word"),
        (length(bin(col("n"))) -
          length(bin(coalesce(col("c"), lit(0L)) + 1))).cast("long")
          .as("bits"))
  }

  /** Streaming exact dedup with BOUNDED state: suppress re-arrivals of
    * already-seen content, but only remember keys for `horizon` of
    * event time (`dropDuplicatesWithinWatermark`). This is the only
    * shape of streaming dedup that survives 100 TB ingestion: plain
    * `dropDuplicates` on a stream keys state by every content hash
    * EVER seen (state grows with the corpus, executors eventually
    * OOM), while the watermark form holds one state row per distinct
    * key per horizon window and the store evicts behind the watermark
    * — the same state-lifetime discipline as the interval join.
    *
    * Trade-off the caller signs up for (spec-pinned): a duplicate
    * re-arriving AFTER the watermark passes its predecessor's
    * expiry is re-emitted — full-horizon exactness, best-effort
    * beyond. Note the expiry is SLIDING: every suppressed duplicate
    * extends its key's lifetime to its own ts + horizon, so a key
    * that keeps re-arriving is deduped indefinitely; only a horizon
    * of true silence lets it expire. Downstream, the batch dedup tier (dedup_exact's md5
    * hash-agg) remains the global backstop; this operator's job is
    * cutting the ingest-time duplicate mass cheaply.
    *
    * `stampedDocs` must carry (doc_id, text, ts) — an ARRIVAL-time
    * stamp from the ingestion envelope (the documents table itself has
    * no event time; CDC/staging streams stamp one). All input columns
    * pass through plus the `content_md5` key, so downstream stages
    * ([[ingestVerdictStream]]) keep the text without re-implementing
    * the dedup contract — ONE definition of the key and horizon. */
  def dedupWithinWatermarkStream(stampedDocs: DataFrame,
      horizon: String = "10 minutes"): DataFrame =
    stampedDocs
      .withColumn("content_md5", md5(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_md5")

  /** Composed streaming ingest pipeline — the streaming counterpart of
    * pipeline_corpus_build's admission gates, emitting one VERDICT row
    * per first-arrival document (verdicts, not silent filtering: the
    * downstream writer decides, and rejected docs stay auditable):
    *
    *   1. bounded-state exact dedup ([[dedupWithinWatermarkStream]]'s
    *      `dropDuplicatesWithinWatermark` on the content md5, text
    *      kept flowing);
    *   2. stream-static decontamination — arriving docs' word 3-gram
    *      shingles (queries.Documents.shingles3, the ONE shared
    *      definition with the batch tier) left-joined against the
    *      static eval split's shingle set, so `n_contaminated` counts
    *      benchmark-leak shingles per doc;
    *   3. stateless quality gate (token floor + stopword floor — the
    *      per-row Gopher subset; the full ladder is the batch tier's
    *      job).
    *
    * The per-doc roll-up of shingle hits is a WINDOWED streaming
    * aggregation (1-minute tumbling on the arrival stamp): append
    * mode, verdicts finalize once the watermark passes the doc's
    * window, and this is the chained-stateful shape — dedup state
    * then agg state under one watermark — whose state both evicts
    * behind the horizon (spec-pinned). Static side materialized once
    * (eval shingle set), never recomputed per micro-batch.
    *
    * Scale shape: dedup state = one row per distinct content hash per
    * horizon; agg state = one row per in-flight (window, doc); the
    * eval shingle table is a static hash-join side sized by the eval
    * split, not the stream. Nothing grows with total stream history. */
  def ingestVerdictStream(stampedDocs: DataFrame, evalDocs: DataFrame,
      horizon: String = "10 minutes", minTokens: Long = 50L): DataFrame =
    ingestVerdictStreamReleasable(stampedDocs, evalDocs, horizon,
      minTokens)._1

  /** [[ingestVerdictStream]] plus a release handle for its static
    * side. The eval shingle set is materialized for the life of the
    * streaming query; without the handle it is dropped by
    * `Materialize.freeAll` (which frees every other materialization
    * too) or once the stream's plan is GC'd. Call the handle after the
    * stream STOPS — releasing under a live stream is safe but degrades
    * later micro-batches to a recompute; calling it twice is a
    * no-op. */
  def ingestVerdictStreamReleasable(stampedDocs: DataFrame,
      evalDocs: DataFrame, horizon: String = "10 minutes",
      minTokens: Long = 50L): (DataFrame, () => Unit) = {
    val deduped = dedupWithinWatermarkStream(
      stampedDocs.select(col("doc_id"), col("ts"), col("text")), horizon)
    // this frame lives as long as the caller's streaming query; a
    // concurrent Materialize.freeAll (harnesses call it between
    // queries) only costs later micro-batches a recompute from lineage
    val evalBase = graft.operators.Materialize.eager(
        evalDocs.select(
          explode(graft.queries.Documents.shingles3(col("text"))).as("sh"))
        .distinct())
    val evalSh = evalBase.withColumn("hit", lit(1L))
    val toks = graft.queries.Documents.tokens(col("text"))
    val exploded = deduped
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("n_stop", size(filter(toks,
        t => t.isin("the", "a", "of", "and", "to"))).cast("long"))
      // explode_outer: a doc too short for any shingle still needs a
      // verdict row (n_contaminated 0), not silent disappearance
      .select(col("doc_id"), col("ts"), col("n_tok"), col("n_stop"),
        explode_outer(graft.queries.Documents.shingles3(col("text")))
          .as("sh"))
    val verdicts = exploded.join(evalSh, Seq("sh"), "left")
      .groupBy(window(col("ts"), "1 minute"), col("doc_id"),
        col("n_tok"), col("n_stop"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col("doc_id"), col("n_tok"), col("n_stop"),
        col("n_contaminated"),
        (col("n_tok") >= minTokens && col("n_stop") >= 2 &&
          col("n_contaminated") === 0).as("admitted"))
    (verdicts, () => graft.operators.Materialize.free(evalBase))
  }

  /** Per-source stats snapshot, `upd_seq` = how many state updates
    * this source has seen (the max row per source is the final view). */
  case class SourceStats(source: String, n_docs: Long, total_chars: Long,
      upd_seq: Long)

  /** Streaming incremental view maintenance — the streaming twin of
    * queries.SnapshotOps.incrementalStats: a CDC stream of classified
    * changes (source, change_type, chars_delta) folds into per-source
    * (n_docs, total_chars) state with flatMapGroupsWithState, SEEDED
    * with the old snapshot's stats via the initial-state API. The
    * same abelian COUNT/SUM algebra as the batch query, so after the
    * stream drains, state == direct recompute over the new snapshot
    * (DocStreamsSpec pins the equality across multi-batch replay —
    * the fold is associative, so micro-batch boundaries can't change
    * the result).
    *
    * Scale shape: state is two longs per SOURCE (not per doc) — the
    * state store stays |sources|-sized no matter how many changes
    * stream through; each micro-batch shuffles only its own rows,
    * keyed on source. */
  def statsMaintenanceStream(spark: SparkSession, changes: DataFrame,
      initialStats: DataFrame): Dataset[SourceStats] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val init = initialStats
      .select(col("source"), col("n_docs"), col("total_chars"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3, 0L))
    changes
      .select(col("source"), col("change_type"), col("chars_delta"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), SourceStats](
        OutputMode.Update, GroupStateTimeout.NoTimeout, init) {
        (source, rows, state: GroupState[(Long, Long, Long)]) =>
          var (n, c, seq) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.foreach { case (_, ct, dc) =>
            n += (ct match {
              case "insert" => 1L
              case "delete" => -1L
              case _ => 0L
            })
            c += dc
          }
          seq += 1
          state.update((n, c, seq))
          Iterator.single(SourceStats(source, n, c, seq))
      }
  }
}
