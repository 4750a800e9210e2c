package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Tokenizer-training and LM-scoring passes over the documents table —
  * the corpus statistics a pipeline computes while BUILDING the
  * tokenizer/filter models, complementing the passes that APPLY them
  * (TextAnalysis, TextPipeline).
  *
  * Everything is exact-integer (weighted counts, bit-length surprisal,
  * permille ratios) or md5 strings — no floating point, so Spark and
  * DuckDB agree bit-for-bit.
  *
  * Reference analog: none (the reference engine's apps stop at word
  * count / inverted index — SURVEY §2.2); beyond-reference surface.
  */
object TokenizerOps {

  private def toks(c: Column): Column = Documents.tokens(c)

  private val toksSql =
    """list_filter(string_split_regex(text, '[^\p{L}]+'), w -> w <> '')"""

  // ------------------------------------------- BPE merge round
  /** One byte-pair-encoding merge iteration, distributed: count
    * adjacent SYMBOL pairs across the corpus weighted by word
    * frequency and emit the top merge candidates — the inner loop of
    * tokenizer training (BPE/WordPiece pick argmax and repeat).
    *
    * Scale shape: the corpus-sized work is ONE hash-agg (word counts,
    * map-side partial); everything after runs on the DISTINCT VOCAB —
    * the pair explode is |vocab|·avg_len rows regardless of corpus
    * row count, so 100× the corpus with the same vocabulary costs
    * only the first agg. Top-k is TakeOrderedAndProject (per-partition
    * heads, no global sort); the rank window sees 20 rows.
    *
    * Symbols here are single characters (round 0 of BPE); later
    * rounds would re-segment with the learned merges — the per-round
    * plan shape is identical. */
  def bpeMergeRound(s: SparkSession, d: String): DataFrame = {
    val TopK = 20
    val wc = documents(s, d)
      .select(explode(toks(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .filter(length(col("word")) >= 2)
    val pairs = wc
      .select(col("word"), col("c"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(expr("substring(word, i, 1)").as("sym_a"),
        expr("substring(word, i + 1, 1)").as("sym_b"), col("c"))
    val cnt = pairs.groupBy(col("sym_a"), col("sym_b"))
      .agg(sum(col("c")).as("pair_count"))
    // global top-k via limit (TakeOrderedAndProject), then rank the
    // k survivors with a window that only ever sees k rows
    val w = Window.orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
    cnt.orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
      .limit(TopK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("sym_a"), col("sym_b"), col("pair_count"))
      .orderBy(col("rank"))
  }

  val bpeMergeRoundSql: String =
    s"""WITH wc AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT UNNEST($toksSql) AS word FROM documents)
       |  GROUP BY word HAVING length(word) >= 2),
       |pairs AS (
       |  SELECT substring(word, CAST(i AS INT), 1) AS sym_a,
       |         substring(word, CAST(i AS INT) + 1, 1) AS sym_b, c
       |  FROM wc, UNNEST(range(1, length(word))) AS t(i)),
       |cnt AS (
       |  SELECT sym_a, sym_b, CAST(SUM(c) AS BIGINT) AS pair_count
       |  FROM pairs GROUP BY sym_a, sym_b)
       |SELECT CAST(ROW_NUMBER() OVER
       |    (ORDER BY pair_count DESC, sym_a, sym_b) AS INT) AS rank,
       |  sym_a, sym_b, pair_count
       |FROM cnt
       |ORDER BY pair_count DESC, sym_a, sym_b LIMIT 20""".stripMargin

  // ---------------------------------------- bigram LM surprisal
  /** Bigram-LM quality scoring (the CCNet/KenLM filter reduced to its
    * distributable core): score each document by the mean conditional
    * surprisal −log₂ p(b|a) of its word bigrams under the corpus's own
    * bigram MLE. Low = boilerplate (every transition predictable),
    * high = garbled text; both tails get cut in a real pipeline. The
    * conditional upgrade over [[TextAnalysis.unigramSurprisal]]: a doc
    * of common words in an uncommon ORDER now scores high.
    *
    * Portability: −log₂(cab/ca) is DEFINED on the integer bit-length
    * grid — bits(ca) − bits(cab), bits(x) = len(bin(x)) — exact ⌊log₂⌋
    * distances on both engines, summed as longs (same device as
    * unigramSurprisal).
    *
    * Scale shape: bigram counts and context counts are map-side
    * partial hash-aggs; the occurrence→count joins shuffle on the
    * bigram / the context word (vocab² not assumed broadcastable —
    * same topology as collocations); per-doc roll-up keys on doc_id.
    * Linear end to end, no doc × doc stage. */
  def bigramPerplexity(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
    val len2 = greatest(size(col("ws")) - 1, lit(0))
    val bi = base.select(col("doc_id"),
        explode(zip_with(
          slice(col("ws"), lit(1), len2), slice(col("ws"), lit(2), len2),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val ctx = bi.groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val bc = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    bi.join(bc, Seq("a", "b")).join(ctx, Seq("a"))
      .withColumn("bits",
        (length(bin(col("ca"))) - length(bin(col("cab")))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("surprisal_bits"))
      .withColumn("mean_millibits",
        expr("(1000 * surprisal_bits) DIV n_bigrams"))
      .orderBy(col("doc_id"))
  }

  val bigramPerplexitySql: String =
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |bi AS (
       |  SELECT doc_id, ws[i] AS a, ws[i+1] AS b
       |  FROM base, UNNEST(range(1, len(ws))) AS t(i)),
       |ctx AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ca FROM bi GROUP BY a),
       |bc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
       |       FROM bi GROUP BY a, b)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(SUM(length(bin(ca)) - length(bin(cab))) AS BIGINT)
       |    AS surprisal_bits,
       |  (1000 * CAST(SUM(length(bin(ca)) - length(bin(cab))) AS BIGINT))
       |    // COUNT(*) AS mean_millibits
       |FROM bi JOIN bc USING (a, b) JOIN ctx USING (a)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------- duplicate-span removal
  /** The REMOVAL half of span-level dedup ("Deduplicating Training
    * Data Makes Language Models Better"): drop every token position
    * covered by a cross-document duplicate 3-gram and emit the
    * rewritten document (kept-token count + md5 of the re-joined
    * text). [[CorpusCuration.duplicateSpans]] measures the damage;
    * this pass applies the cut. Docs can come back EMPTY (all tokens
    * copied) — they stay in the output with kept_tokens = 0, the
    * rows a pipeline would route to the discard sink.
    *
    * Scale shape: the gram table is one explode; dup grams are a
    * hash-agg keyed on the gram (min≠max doc test, no distinct-count
    * rewrite); covered positions are an explode of 3 per hit,
    * deduped per (doc, pos); the keep filter is a LEFT ANTI join
    * keyed on (doc, pos). Every stage is keyed on gram or (doc,pos)
    * — nothing touches doc × doc, and the rewrite per doc is a
    * doc-local sort inside one hash-agg group. */
  def spanRewrite(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    // materialized: the dup-gram agg and the covered join both read it
    val grams = graft.operators.Materialize.eager(Documents.shingles3Pos(s, d))
    val dup = Documents.dupGrams3(grams)
    val covered = grams.join(dup, "g")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 2)).as("cp"))
      .distinct()
    val tok = base.select(col("doc_id"),
        posexplode(toks(col("text"))).as(Seq("tp", "tok")))
      .withColumn("pos", (col("tp") + 1).cast("int"))
    val kept = tok.join(covered,
      tok("doc_id") === covered("doc_id") && tok("pos") === covered("cp"),
      "left_anti")
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        md5(array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ")).as("kept_md5"))
    val n = base
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    n.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  val spanRewriteSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |grams AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
       |  FROM base, UNNEST(range(1, len(ws) - 1)) AS t(i)),
       |dup AS (SELECT g FROM grams GROUP BY g
       |        HAVING MIN(doc_id) <> MAX(doc_id)),
       |covered AS (
       |  SELECT DISTINCT doc_id, CAST(cp AS INT) AS cp
       |  FROM (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
       |       UNNEST(range(pos, pos + 3)) AS t(cp)),
       |tok AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos, ws[i] AS tok
       |  FROM base, UNNEST(range(1, len(ws) + 1)) AS t(i)),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok FROM tok t
       |  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.cp
       |  WHERE c.doc_id IS NULL),
       |ka AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
       |    md5(array_to_string(list(tok ORDER BY pos), ' ')) AS kept_md5
       |  FROM kept GROUP BY doc_id),
       |n AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens
       |      FROM base WHERE len(ws) > 0)
       |SELECT n.doc_id, n.n_tokens,
       |  COALESCE(ka.kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens,
       |  COALESCE(ka.kept_md5, md5('')) AS kept_md5
       |FROM n LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin

  // ------------------------------------------- multi-round BPE trainer
  /** Full BPE TRAINING loop, distributed: R=8 merge rounds, each
    * picking the globally most frequent adjacent symbol pair
    * (weighted by word frequency, ties broken lexicographically) and
    * rewriting the vocabulary with that merge — the actual tokenizer-
    * training algorithm, where [[bpeMergeRound]] is a single
    * iteration. Output: the learned merge table (round, sym_a, sym_b,
    * pair_count), 8 rows.
    *
    * Scale shape: the corpus-sized work is ONE word-count hash-agg;
    * all 8 rounds run on the DISTINCT VOCAB (|vocab|·avg_len rows per
    * round, independent of corpus row count). Each round collects
    * exactly ONE row to the driver (the argmax pair — same bounded-
    * driver-state discipline as KMeans' SSE scalar) and rewrites
    * symbols with a left-to-right greedy fold (higher-order aggregate
    * — off the corpus path, per-word bounded). The vocab frame is
    * re-materialized per round so plans stay flat instead of nesting
    * 8 fold expressions (PageRank's checkpoint discipline).
    *
    * Exact SQL oracle: the 8 data-dependent argmax rounds ARE
    * expressible as one DuckDB statement — see [[bpeTrainSql]] —
    * so the harness hash-checks this end to end; TokenizerOpsSpec's
    * differential test against an in-memory sequential BPE (the
    * mrsequential.go pattern) additionally pins the semantics on
    * adversarial corpora the fixture doesn't exercise. */
  /** Shared training loop: runs the merge rounds and returns BOTH the
    * learned merge table and the final vocabulary frame (word →
    * merged symbol list) — [[bpeTrain]] emits the former,
    * [[bpeApply]] joins documents against the latter (a trained
    * tokenizer IS this word→segmentation map for in-vocab words). */
  private def trainedVocab(s: SparkSession, d: String, rounds: Int)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    // merge adjacent (a, b) occurrences left-to-right, non-overlapping
    def mergeAdj(sym: Column, a: String, b: String): Column =
      aggregate(sym, array().cast("array<string>"), (acc, x) =>
        when(try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))
    var vocab = graft.operators.Materialize.eager(
      documents(s, d)
        .select(explode(toks(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
        .select(col("word"),
          filter(split(col("word"), ""), x => x =!= lit(""))
            .as("sym"), col("c")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val pairs = vocab
        .filter(size(col("sym")) >= 2)
        .select(col("sym"), col("c"),
          explode(sequence(lit(1), size(col("sym")) - 1)).as("i"))
        .select(expr("sym[i - 1]").as("a"), expr("sym[i]").as("b"),
          col("c"))
      val top = pairs.groupBy(col("a"), col("b"))
        .agg(sum(col("c")).as("pc"))
        .orderBy(col("pc").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, pc) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((r, a, b, pc))
        val next = graft.operators.Materialize.eager(
          vocab.select(col("word"), mergeAdj(col("sym"), a, b).as("sym"),
            col("c")))
        vocab = next
      }
    }
    (vocab, merges.result())
  }

  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainedVocab(s, d, 8)._2
      .toDF("round", "sym_a", "sym_b", "pair_count")
      .orderBy(col("round"))
  }

  // ------------------------------------------- BPE apply (encode)
  /** APPLY the trained tokenizer: segment a bounded document set with
    * the 8-round merge table and report per-doc compression — word
    * count, character count, BPE token count, and tokens-per-1000-
    * chars. The encode half of the tokenizer lifecycle ([[bpeTrain]]
    * learns the merges; this is what a pipeline runs over every
    * shard afterward): for in-vocab words the trained tokenizer IS
    * the word→segmentation map the trainer already produced, so
    * apply is one equi-join on the word — no per-row re-merging.
    *
    * Scale shape: training cost is bpeTrain's (corpus-sized work =
    * one word-count agg); apply is a words→vocab equi-join (vocab
    * broadcastable at any realistic size) + a doc-keyed hash-agg.
    * The doc_id < 100 bound keeps the oracle comparison small; the
    * plan is the full-corpus plan. */
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val (vocab, _) = trainedVocab(s, d, 8)
    val tok = documents(s, d).filter(col("doc_id") < 100)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
    tok.join(vocab.select(col("word"), size(col("sym")).cast("long")
        .as("n_sym")), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_sym")).as("n_tokens_bpe"))
      .withColumn("compression_permille",
        expr("n_tokens_bpe * 1000 DIV n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Generated DuckDB oracle for [[bpeTrain]]: the 8 rounds unrolled
    * into chained CTEs. Each round r is (pair explode p_r over the
    * previous vocab) → (argmax m_r, the same (count DESC, a, b)
    * tie-break) → (rewrite f_r/v_r). The rewrite encodes each word's
    * symbol list as a space-joined string with sentinel spaces and
    * iterates replace-all of ' a b '→' ab ' to a FIXPOINT via a
    * recursive CTE. That fixpoint equals bpeTrain's left-to-right
    * greedy fold exactly: a merged symbol a+b is strictly longer than
    * a and than b, so a replacement can never CREATE a new (a,b)
    * occurrence, and replace-all is itself leftmost-first
    * non-overlapping — each pass performs a prefix of the fold's
    * merges and the fixpoint completes the rest (adjacent occurrences
    * that share a boundary space land in the next pass). Termination:
    * every pass strictly reduces occurrence count; iterations are
    * bounded by max occurrences per word. */
  /** The shared CTE chain v0..v{rounds}/m1..m{rounds}; vN carries each
    * word's ORIGINAL form (w) alongside its current segmentation so
    * the apply oracle can join documents against the final vocab. */
  private def bpeCtes(rounds: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += s"""v0 AS (
      |  SELECT word AS w,
      |    ' ' || array_to_string(list_transform(range(1, length(word) + 1),
      |      i -> substring(word, CAST(i AS INT), 1)), ' ') || ' ' AS s, c
      |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |          SELECT UNNEST($toksSql) AS word FROM documents)
      |        GROUP BY word))""".stripMargin
    for (r <- 1 to rounds) {
      val p = r - 1
      parts += s"""p$r AS (
        |  SELECT sym[i] AS a, sym[i + 1] AS b, c
        |  FROM (SELECT string_split(trim(s), ' ') AS sym, c FROM v$p) t,
        |       UNNEST(range(1, len(sym))) AS u(i))""".stripMargin
      parts += s"""m$r AS (
        |  SELECT a, b, CAST(SUM(c) AS BIGINT) AS pc FROM p$r GROUP BY a, b
        |  ORDER BY pc DESC, a, b LIMIT 1)""".stripMargin
      parts += s"""f$r AS (
        |  SELECT v.w, v.s, v.c, m.a, m.b FROM v$p v, m$r m
        |  UNION ALL
        |  SELECT w, replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
        |    c, a, b
        |  FROM f$r WHERE strpos(s, ' ' || a || ' ' || b || ' ') > 0)""".stripMargin
      parts += s"""v$r AS (
        |  SELECT w, s, c FROM f$r
        |  WHERE strpos(s, ' ' || a || ' ' || b || ' ') = 0)""".stripMargin
    }
    "WITH RECURSIVE\n" + parts.result().mkString(",\n")
  }

  val bpeTrainSql: String = {
    val rounds = 8
    val union = (1 to rounds).map(r =>
      s"SELECT CAST($r AS INT) AS round, a AS sym_a, b AS sym_b," +
        s" pc AS pair_count FROM m$r").mkString("\nUNION ALL\n")
    bpeCtes(rounds) + s"\nSELECT * FROM (\n$union\n) ORDER BY round"
  }

  val bpeApplySql: String =
    bpeCtes(8) + s""",
      |seg AS (
      |  SELECT w AS word, CAST(len(string_split(trim(s), ' ')) AS BIGINT)
      |    AS n_sym
      |  FROM v8),
      |tok AS (
      |  SELECT doc_id, UNNEST($toksSql) AS word
      |  FROM documents WHERE doc_id < 100)
      |SELECT doc_id, COUNT(*) AS n_words,
      |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
      |  CAST(SUM(n_sym) AS BIGINT) AS n_tokens_bpe,
      |  (CAST(SUM(n_sym) AS BIGINT) * 1000)
      |    // CAST(SUM(length(word)) AS BIGINT) AS compression_permille
      |FROM tok JOIN seg USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------- tokenizer fertility
  /** Tokenizer FERTILITY by source: pieces-per-word (milli) and
    * chars-per-piece (milli) of the 8-round trained BPE vocabulary,
    * per provider — the tokenizer-evaluation metric behind "which
    * sources will inflate my token bill / context usage". A source
    * whose fertility is far above the corpus norm is poorly served
    * by the vocabulary (different domain, different language) — the
    * signal that routes it to vocab retraining or re-weighting.
    * Every corpus word is in the trained vocab by construction, so
    * the join is total and no OOV branch is needed.
    *
    * Scale shape: training cost is bpe_train's (corpus-sized work =
    * one word-count agg; merges on the distinct vocab); the apply
    * side is one broadcast vocab equi-join + a per-source hash-agg —
    * text_bpe_apply's shape rolled up by provider instead of
    * per-doc. */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val (vocab, _) = trainedVocab(s, d, 8)
    val tok = documents(s, d)
      .select(col("source"), explode(toks(col("text"))).as("word"))
    tok.join(vocab.select(col("word"),
        size(col("sym")).cast("long").as("n_sym")), "word")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_pieces"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .withColumn("fertility_milli", expr("n_pieces * 1000 DIV n_words"))
      .withColumn("chars_per_piece_milli",
        expr("n_chars * 1000 DIV n_pieces"))
      .orderBy(col("source"))
  }

  val tokenizerFertilitySql: String =
    bpeCtes(8) + s""",
      |seg AS (
      |  SELECT w AS word, CAST(len(string_split(trim(s), ' ')) AS BIGINT)
      |    AS n_sym
      |  FROM v8),
      |tok AS (
      |  SELECT source, UNNEST($toksSql) AS word FROM documents)
      |SELECT source, COUNT(*) AS n_words,
      |  CAST(SUM(n_sym) AS BIGINT) AS n_pieces,
      |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
      |  (CAST(SUM(n_sym) AS BIGINT) * 1000) // CAST(COUNT(*) AS BIGINT)
      |    AS fertility_milli,
      |  (CAST(SUM(length(word)) AS BIGINT) * 1000)
      |    // CAST(SUM(n_sym) AS BIGINT) AS chars_per_piece_milli
      |FROM tok JOIN seg USING (word)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Sequential in-memory BPE twin for the differential spec: same
    * argmax/tie-break/merge semantics over a (word, count) list. */
  def bpeTrainSequential(wordCounts: Seq[(String, Long)],
      rounds: Int = 8): Seq[(Int, String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (sym, c) =>
        sym.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ => ()
        }
      }
      if (counts.nonEmpty) {
        val ((a, b), pc) = counts.minBy { case ((a, b), pc) => (-pc, a, b) }
        out += ((r, a, b, pc))
        vocab = vocab.map { case (sym, c) =>
          val merged = sym.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b)
              acc.init :+ (a + b)
            else acc :+ x
          }
          (merged, c)
        }
      }
    }
    out.result()
  }

  val queries: Map[String, Query] = Map(
    "text_tokenizer_fertility" -> Query(tokenizerFertility, tokenizerFertilitySql),
    "text_bpe_train" -> Query(bpeTrain, bpeTrainSql),
    "text_bpe_apply" -> Query(bpeApply, bpeApplySql),
    "text_bpe_merge_round" -> Query(bpeMergeRound, bpeMergeRoundSql),
    "text_bigram_perplexity" -> Query(bigramPerplexity, bigramPerplexitySql),
    "text_dedup_span_rewrite" -> Query(spanRewrite, spanRewriteSql))
}
