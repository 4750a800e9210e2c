package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** Typed public facade over the graft engine (round-11 verdict #6).
  *
  * The engine's full surface is the 285-query registry behind
  * [[graft.SparkEntry.queries]] — the driver/benchmark contract, keyed
  * by string and bound to the test-data directory layout. This
  * namespace is the LIBRARY way in: a curated set of entry points
  * taking caller-supplied DataFrames, grouped by task, each delegating
  * to the exact implementation the oracle-checked query of the same
  * shape runs — the facade adds no second code path to diverge.
  *
  * == Session contract ==
  *
  * Build sessions with [[GraftSession.create]] (or install
  * [[graft.functions.GraftExtensions]] yourself): the native Catalyst
  * expressions (`simhash64`, `minhash`, `cosine_sim_f`, `sq_dist_f`,
  * …) and the as-of join planner strategy are session extensions, and
  * several entry points depend on them.
  *
  * Intermediates: multi-consumer tables are materialized through
  * [[graft.operators.Materialize]], the one policy: persisted blocks
  * behind a plan leaf that keeps its lineage, outside the
  * `CacheManager`, freed when their consumers are GC'd. A lost or
  * freed block is silently recomputed; there is no other policy and
  * no switch. Nothing is cached across calls: every query builds its
  * own intermediates from its input files, so rewriting a data
  * directory mid-session needs no release call.
  * [[GraftSession.releaseShared]] is optional: it frees every
  * materialization now instead of at GC.
  */
object GraftSession {
  /** A SparkSession wired for graft: GraftExtensions (native
    * expressions + as-of join strategy), AQE with skew-join splitting,
    * core-sized shuffle partitions, ANSI mode, UTC. */
  def create(appName: String = "graft",
      master: String = s"local[${graft.Session.cpus}]"): SparkSession =
    graft.Session.build(appName, master)

  /** Optional: free every materialization of this session now
    * ([[graft.operators.Materialize.freeAll]]) instead of at GC. A frame
    * still in use, such as a live ingest stream's static side, is
    * recomputed on its next read. Rewriting a data directory does not
    * need it. */
  def releaseShared(spark: SparkSession): Unit =
    graft.operators.Materialize.freeAll(spark)
}

/** Near-duplicate and exact deduplication over a document table
  * (`doc_id: Long`, `text: String`). */
object Dedup {
  /** MinHash-LSH candidate pairs among `docs` — banded (2 bands × 2
    * sigs), cost Σ bucket², never n². Columns: doc_a, doc_b. */
  def candidatePairs(docs: DataFrame): DataFrame =
    graft.queries.Documents.lshCandidatePairsAmong(docs)

  /** Transitive near-dup clusters for a data directory's `documents`
    * table: every doc labeled with its component's min doc id
    * (doc_id, cluster_rep). Hub-contracted connected components over
    * the banded candidate graph. */
  def clusters(spark: SparkSession, dataDir: String): DataFrame =
    graft.queries.Documents.dedupClusters(spark, dataDir)

  /** Exact-dup survivorship for a data directory's `documents` table:
    * one row per distinct content hash with the surviving (min) doc id
    * and the duplicate count. */
  def exact(spark: SparkSession, dataDir: String): DataFrame =
    graft.queries.Documents.dedupExact(spark, dataDir)

  /** Embedding-space semantic dedup (SemDeDup): k-means cells, then
    * per-cell cosine near-dup pruning at threshold `tau`.
    * `embeddings` needs (id: Long, vec: Array[Float]). */
  def semantic(spark: SparkSession, embeddings: DataFrame,
      tau: Double): DataFrame =
    graft.queries.Embeddings.semanticDedupOn(spark, embeddings, tau)
}

/** Graph analytics over an undirected candidate-pair edge list
  * (doc_a: Long, doc_b: Long) — e.g. [[Dedup.candidatePairs]]' output. */
object Graph {
  def triangleCount(pairs: DataFrame): DataFrame =
    graft.queries.GraphRank.triangleCountOn(pairs)
  def localClustering(pairs: DataFrame): DataFrame =
    graft.queries.GraphRank.localClusteringOn(pairs)
  def kcore(pairs: DataFrame, k: Int, maxRounds: Int = 32): DataFrame =
    graft.queries.GraphRank.kcoreOn(pairs, k, maxRounds)
  def neighborJaccard(pairs: DataFrame): DataFrame =
    graft.queries.GraphRank.neighborJaccardOn(pairs)
  /** PageRank over directed edges (src, dst), `nIter` power rounds.
    * Integer fixed-point — deterministic across engines. */
  def pageRank(edges: DataFrame, nIter: Int): DataFrame =
    graft.operators.PageRank.run(edges, nIter)
  /** HITS hubs/authorities over directed edges (src, dst). */
  def hits(edges: DataFrame, nIter: Int): DataFrame =
    graft.operators.Hits.run(edges, nIter)
}

/** Entity resolution over two registries (the customer/supplier
  * shapes: key, name, nation). */
object EntityResolution {
  /** Blocked fuzzy pair scoring: per-block Levenshtein + nation guard.
    * Cost is Σ per-block |A|·|B|, never n². */
  def linkPairs(left: DataFrame, right: DataFrame): DataFrame =
    graft.queries.DataAudit.linkBlockedFuzzyOn(left, right)
  /** Golden records: linked pairs folded into entity clusters
    * (bounded min-label rounds) with survivorship counts and a
    * per-cluster `converged` honesty flag — false means the round
    * budget truncated this cluster's grain (it would still lose OR
    * absorb members); do not trust its counts. */
  def goldenRecords(left: DataFrame, right: DataFrame): DataFrame =
    graft.queries.DataAudit.linkEntityClustersOn(left, right)
}

/** Privacy / re-identification audits over a registry. */
object Privacy {
  def kAnonymity(registry: DataFrame): DataFrame =
    graft.queries.DataAudit.kAnonymityOn(registry)
  def lDiversity(registry: DataFrame): DataFrame =
    graft.queries.DataAudit.lDiversityOn(registry)
  def tCloseness(registry: DataFrame): DataFrame =
    graft.queries.DataAudit.tClosenessOn(registry)
}

/** Skew- and scale-aware join helpers. */
object Joins {
  /** Salted equi-join for a skewed key: the big side's hot keys are
    * split across `buckets` salt lanes, the small side replicated. */
  def salted(big: DataFrame, small: DataFrame, key: String,
      buckets: Int): DataFrame =
    graft.operators.SkewJoin.saltedJoin(big, small, key, buckets)
  /** Bloom-prefiltered probe: build a bloom filter over `corpusKey`
    * (native bloom_filter_agg), cut `batch` with codegen
    * `might_contain` BEFORE the shuffle a real join would pay. */
  def bloomPrefilter(batch: DataFrame, batchKey: Column,
      corpus: DataFrame, corpusKey: Column,
      expectedItems: Long, fpp: Double = 0.01): DataFrame =
    graft.operators.BloomPrefilter.prefilter(
      batch, batchKey, corpus, corpusKey, expectedItems, fpp)
}

/** Structured-Streaming ingestion operators (see graft.streaming). */
object Streams {
  /** Bounded-state exact dedup on content md5 within a watermark
    * horizon; all input columns pass through plus `content_md5`.
    * Input must carry (doc_id, text, ts). */
  def dedupWithinWatermark(stampedDocs: DataFrame,
      horizon: String = "10 minutes"): DataFrame =
    graft.streaming.DocStreams.dedupWithinWatermarkStream(stampedDocs, horizon)

  /** Composed ingest pipeline: watermark dedup → stream-static
    * decontamination against `evalDocs` → quality gate → one VERDICT
    * row per first-arrival doc (append mode, finalized per 1-minute
    * window). The static eval side is materialized with lineage kept,
    * so harness frees mid-stream degrade to a recompute; its blocks
    * are dropped by [[GraftSession.releaseShared]] or at GC. */
  def ingestVerdicts(stampedDocs: DataFrame, evalDocs: DataFrame,
      horizon: String = "10 minutes", minTokens: Long = 50L): DataFrame =
    graft.streaming.DocStreams.ingestVerdictStream(
      stampedDocs, evalDocs, horizon, minTokens)

  /** [[ingestVerdicts]] plus the static side's release handle: call
    * it after the stream stops to free THIS stream's eval shingle set
    * without dropping the session's other materializations (the
    * alternative, [[GraftSession.releaseShared]], frees them all).
    * Idempotent; safe under a live stream (later micro-batches
    * recompute). */
  def ingestVerdictsReleasable(stampedDocs: DataFrame, evalDocs: DataFrame,
      horizon: String = "10 minutes", minTokens: Long = 50L)
      : (DataFrame, () => Unit) =
    graft.streaming.DocStreams.ingestVerdictStreamReleasable(
      stampedDocs, evalDocs, horizon, minTokens)

  /** CDC-driven incremental per-source stats, seeded with a prior
    * snapshot's stats — state is two longs per source. */
  def statsMaintenance(spark: SparkSession, changes: DataFrame,
      initialStats: DataFrame)
      : Dataset[graft.streaming.DocStreams.SourceStats] =
    graft.streaming.DocStreams.statsMaintenanceStream(
      spark, changes, initialStats)
}
