package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** `dedup_clusters` on a hand-built table with several near-duplicate
  * clusters: star clusters, two stars chained through a shared band
  * (the min label has to cross two hub edges), exact duplicates,
  * singletons and token-less docs. The reference is plain Scala: md5
  * MinHash signatures from `java.security.MessageDigest`, string bands
  * and a union-find, with no Spark in it. */
class DedupClustersSpec extends AnyFunSuite {
  import graft.SparkTestSession._
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  private def tokens(text: String): Seq[String] =
    if (text == null) Nil else text.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)

  private def h(j: Int, t: String) = md5hex(s"$j|$t")

  private def sig(text: String): Option[Seq[String]] = {
    val ts = tokens(text)
    if (ts.isEmpty) None else Some((0 until 4).map(j => ts.map(h(j, _)).min))
  }

  private def bands(text: String): Option[(String, String)] =
    sig(text).map(m => (s"b0_${m(0)}_${m(1)}", s"b1_${m(2)}_${m(3)}"))

  /** Union-find over docs sharing a band; rep = the component's min id. */
  private def reference(docs: Seq[(Long, String)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byBand = docs.flatMap { case (id, t) =>
      bands(t).toSeq.flatMap { case (b0, b1) => Seq(b0 -> id, b1 -> id) }
    }.groupBy(_._1).values
    byBand.foreach(ids => ids.map(_._2).reduce((a, b) => { union(a, b); a }))
    docs.map { case (id, _) => id -> find(id) }.toMap
  }

  /** Letter-only words (digits would split a token): w("x", 12) = "xbc". */
  private def w(prefix: String, k: Int): String =
    prefix + k.toString.map(c => ('a' + (c - '0')).toChar)

  /** The first word of `prefix`'s stream that beats (<) the base set's
    * min exactly at the positions in `beat`, and at no other. */
  private def pick(base: Seq[String], prefix: String, beat: Set[Int]): String = {
    val mins = (0 until 4).map(j => base.map(h(j, _)).min)
    Iterator.from(0).map(w(prefix, _)).find(t =>
      (0 until 4).forall(j => (h(j, t) < mins(j)) == beat(j))).get
  }

  private def vocab(prefix: String) = (0 until 12).map(w(prefix, _))

  /** A star: a base text and variants that share its band 0 and differ
    * in band 1 (each adds one word that wins permutation 2 only). */
  private def star(prefix: String, base: Long, variants: Seq[Long]) = {
    val s = vocab(prefix)
    (base -> s.mkString(" ")) +: variants.zipWithIndex.map { case (id, i) =>
      id -> (s :+ pick(s, s"${prefix}v$i", Set(2))).mkString(" ")
    }
  }

  private val docs: Seq[(Long, String)] = {
    // chain: P and Q share the words t (which win permutations 2 and
    // 3, so both bases carry the same band 1) and differ in band 0
    val t = vocab("t")
    val p = t :+ pick(t, "p", Set(0))
    val q = t :+ pick(t, "q", Set(0))
    val pVar = p :+ pick(p, "pv", Set(2))
    val qVar = q :+ pick(q, "qv", Set(2))
    star("a", 1, Seq(5, 9)) ++ star("b", 20, Seq(21, 22)) ++
      star("c", 30, Seq(31, 32, 33)) ++
      Seq(40L -> p.mkString(" "), 44L -> pVar.mkString(" "),
        2L -> q.mkString(" "), 45L -> qVar.mkString(" ")) ++
      Seq(50L -> "exact copy here", 51L -> "exact copy here",
        52L -> "exact, copy here!",
        60L -> "lonely singleton text", 61L -> "another unrelated doc") ++
      Seq(70L -> "", 71L -> "123 456 ...", 72L -> null,
        73L -> " \t\n  ", 74L -> "caf\u00e9 \u00e9t\u00e9 \u65e5\u672c\u8a9e",
        75L -> "?!-- 3.14, 42; (7)")
  }

  /** The docs as a `documents` table in a fresh data directory. */
  private lazy val dir: String = {
    val dir = java.nio.file.Files.createTempDirectory("dedupclusters").toString
    docs.map { case (id, t) =>
      (id, t, "en", s"src$id", Option(t).map(_.length.toLong).getOrElse(0L))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("cluster_rep equals a plain-Scala union-find over md5 bands, " +
      "across several clusters") {
    val want = reference(docs)
    // the table is as designed: four multi-doc clusters besides the
    // exact pair, and 44 reaches rep 2 only through 40's shared band 1
    val sizes = want.groupBy(_._2).map { case (r, m) => r -> m.size }
    assert(sizes.count(_._2 >= 2) >= 5, s"clusters: $sizes")
    assert(Seq(1L, 20L, 30L, 2L, 50L).forall(sizes(_) >= 2), s"clusters: $sizes")
    assert(want(44L) == 2L && want(40L) == 2L && want(45L) == 2L)
    val (b44, b2) = (bands(docs.toMap.apply(44L)).get, bands(docs.toMap.apply(2L)).get)
    assert(b44._1 != b2._1 && b44._2 != b2._2, "44 must reach 2 transitively")
    assert((Seq(60L, 61L) ++ (70L to 75L)).forall(id => want(id) == id))
    assert(bands(docs.toMap.apply(74L)).isDefined, "74's letters are all non-ASCII")

    // exactly one row per doc: the token-less rows are the exact
    // complement of the signature rows, so no doc is lost or doubled
    val rows = Documents.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(rows.size == docs.size, s"${rows.size} rows for ${docs.size} docs")
    assert(rows.map(_._1).distinct.size == rows.size, "duplicate doc_id")
    assert(rows.toMap == want)

    // cluster_density's n_nodes are the same clusters' sizes
    val density = Documents.clusterDensity(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(density == sizes.filter(_._2 >= 2).map { case (r, n) => r -> n.toLong })
  }

  /** Spark jobs one `dedup_clusters` build + collect launches on this
    * table (local[4], AQE on). */
  private val jobBudget = 22

  test(s"job budget: dedup_clusters launches at most $jobBudget Spark jobs, " +
      "none of them a separate convergence probe") {
    import java.util.concurrent.ConcurrentHashMap
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val tag = "graft.spec.dedupJobs"
    val sites = new ConcurrentHashMap[Int, String]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null)
          sites.put(j.jobId, j.stageInfos.map(_.name).mkString(" / "))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (sites.containsKey(j.jobId)) ended.add(j.jobId)
    }
    val table = dir // write the table before counting
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try Documents.dedupClusters(spark, table).collect()
    finally sc.setLocalProperty(tag, null)
    // a job's start reaches the listener before its end; bounded wait
    val deadline = System.currentTimeMillis() + 10000
    while ((sites.isEmpty || ended.size < sites.size) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    sc.removeSparkListener(listener)
    assert(!sites.isEmpty && ended.size == sites.size, "job end never delivered")
    import scala.jdk.CollectionConverters._
    val listed = sites.asScala.toSeq.sortBy(_._1).map(_._2)
    info(s"${listed.size} jobs: ${listed.mkString("; ")}")
    assert(!listed.exists(c => c.contains("isEmpty") &&
      c.contains("ConnectedComponents")), s"a separate CC probe job: $listed")
    assert(listed.size <= jobBudget, s"${listed.size} jobs: $listed")
  }
}
