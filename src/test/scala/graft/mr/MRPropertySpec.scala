package graft.mr

import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests over the sequential semantics (SURVEY.md §5.1):
  * pure-driver, no Spark needed — the distributed path is pinned to
  * these semantics by MRDifferentialSpec. Plain ScalaCheck runner
  * (the scalatest-scalacheck bridge isn't in the offline cache). */
class MRPropertySpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString)
  private val doc: Gen[String] = for {
    ws <- Gen.listOf(word)
    sep <- Gen.listOfN(math.max(ws.size - 1, 0), Gen.oneOf(" ", "\n", " 42 ", ", "))
  } yield ws.zipAll(sep, "", "").map { case (w, s) => w + s }.mkString

  private val corpus: Gen[Seq[(String, String)]] =
    Gen.chooseNum(1, 5).flatMap { n =>
      Gen.sequence[Seq[(String, String)], (String, String)](
        (0 until n).map(i => doc.map(d => (s"f$i.txt", d))))
    }

  test("wc: counts sum to total token count") {
    check(Prop.forAll(corpus) { files =>
      val out = MRJob.sequential(Apps.WordCount, files)
      val sumCounts = out.map(_.split(' ').last.toLong).sum
      val nTokens = files.map(_._2.split("[^\\p{L}]+").count(_.nonEmpty)).sum
      sumCounts == nTokens.toLong
    })
  }

  test("indexer: doc lists are sorted and duplicate-free") {
    check(Prop.forAll(corpus) { files =>
      MRJob.sequential(Apps.Indexer, files).forall { line =>
        val docs = line.split(' ').last.split(',').toSeq
        docs == docs.sorted && docs.distinct == docs
      }
    })
  }

  test("credit: aggregation invariant under row shuffling") {
    val row: Gen[String] = for {
      uid <- Gen.chooseNum(0, 999)
      ag <- Gen.oneOf("Equifax", "Experian", "TransUnion")
      yr <- Gen.oneOf("2022", "2023", "bad")
      sc <- Gen.oneOf("399", "401", "850", "oops")
    } yield s"$uid,$ag,$yr,$sc"
    check(Prop.forAll(Gen.listOf(row), Gen.chooseNum(0L, 1L << 30)) { (rows, seed) =>
      val hdr = "user_id,agency,year,credit_score"
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      val a = MRJob.sequential(Apps.Credit, Seq(("a.csv", (hdr +: rows).mkString("\n"))))
      val b = MRJob.sequential(Apps.Credit, Seq(("a.csv", (hdr +: shuffled).mkString("\n"))))
      a == b
    })
  }

  /** The maps as they were written with the regex tokenizer. The
    * indexer's pairs are compared in key order: its regex form emitted
    * them in hash-set order. */
  private def regexWords(contents: String): Seq[String] =
    contents.split("[^\\p{L}]+").iterator.filter(_.nonEmpty).toSeq
  private def regexWordCount(f: String, contents: String): Seq[KV] =
    regexWords(contents).map(KV(_, "1"))
  private def regexIndexer(f: String, contents: String): Seq[KV] =
    regexWords(contents).toSet[String].map((w: String) => KV(w, f)).toSeq.sortBy(_.key)
  private def indexer(f: String, contents: String): Seq[KV] =
    Apps.Indexer.map(f, contents).sortBy(_.key)

  test("wc and indexer maps equal the regex tokenizer on edge texts") {
    for ((id, text) <- graft.functions.MinHashSpec.texts if text != null) {
      assert(Apps.WordCount.map("d", text) == regexWordCount("d", text), s"text $id")
      assert(indexer("d", text) == regexIndexer("d", text), s"text $id")
    }
  }

  test("wc and indexer maps equal the regex tokenizer on arbitrary strings") {
    check(Prop.forAll(Arbitrary.arbitrary[String]) { text =>
      Apps.WordCount.map("d", text) == regexWordCount("d", text) &&
        indexer("d", text) == regexIndexer("d", text)
    })
  }
}
