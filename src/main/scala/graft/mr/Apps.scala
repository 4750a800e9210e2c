package graft.mr

import graft.functions.TextKernel

/** The reference's application plugins re-expressed as MRApp instances.
  * Each has a DataFrame twin in graft.queries (tested to agree in
  * MRDifferentialSpec). Citations are into /root/reference. */
object Apps {

  /** reduce = number of values, as a monoid over per-value 1s. */
  abstract class Count extends IncrementalApp[Long] {
    def zero: Long = 0L
    def lift(value: String): Long = 1L
    def combine(a: Long, b: Long): Long = a + b
    def finish(key: String, buf: Long): String = buf.toString
  }

  /** The words of `contents`: maximal runs of letters (unicode.IsLetter
    * ≈ \p{L}), case-sensitive — the tokens of `split("[^\\p{L}]+")`
    * without the regex ([[TextKernel.foreachToken]]). */
  private def words(contents: String)(f: String => Unit): Unit =
    TextKernel.foreachToken(contents)((start, end) => f(contents.substring(start, end)))

  /** Word count (mr-main/mrapps/wc.go:21-42): emit (word,"1") per word,
    * reduce = count, combined map-side (§4.3). */
  object WordCount extends Count {
    def map(filename: String, contents: String): Seq[KV] = {
      val out = Vector.newBuilder[KV]
      words(contents)(w => out += KV(w, "1"))
      out.result()
    }
  }

  /** Inverted index (mr-main/mrapps/indexer.go:21-40): per-doc distinct
    * words, in order of first appearance; reduce = "<n> <docs sorted,
    * comma-joined>". */
  object Indexer extends MRApp {
    def map(filename: String, contents: String): Seq[KV] = {
      val seen = new java.util.HashSet[String]
      val out = Vector.newBuilder[KV]
      words(contents)(w => if (seen.add(w)) out += KV(w, filename))
      out.result()
    }
    def reduce(key: String, values: Seq[String]): String =
      s"${values.size} ${values.sorted.mkString(",")}"
  }

  /** Credit query (mr-main/mrapps/credit.go:21-58): CSV with header,
    * skip malformed rows, WHERE year==2023 AND score>400,
    * GROUP BY agency, COUNT. Value = user id; reduce counts, combined
    * map-side (§4.3). */
  object Credit extends Count {
    def map(filename: String, contents: String): Seq[KV] =
      contents.split('\n').iterator.drop(1).flatMap { line =>
        val f = line.split(',')
        if (f.length < 4) None
        else (f(2).trim.toIntOption, f(3).trim.toIntOption) match {
          case (Some(year), Some(score)) if year == 2023 && score > 400 =>
            Some(KV(f(1).trim, f(0).trim))
          case _ => None
        }
      }.toSeq
  }

  /** crash.go/nocrash.go payload (mr-main/mrapps/crash.go:36-57) minus
    * the fault injection (Spark owns retry — tests inject faults via a
    * throwing wrapper instead): 4 fixed keys of file metadata; reduce =
    * values sorted, space-joined. */
  object MetadataAgg extends MRApp {
    def map(filename: String, contents: String): Seq[KV] = Seq(
      KV("a", filename),
      KV("b", filename.length.toString),
      KV("c", contents.length.toString),
      KV("d", "xyzzy"))
    def reduce(key: String, values: Seq[String]): String =
      values.sorted.mkString(" ")
  }

  /** early_exit.go:19-36: per-file "1", count per key. */
  object FileCount extends MRApp {
    def map(filename: String, contents: String): Seq[KV] =
      Seq(KV(filename, "1"))
    def reduce(key: String, values: Seq[String]): String =
      values.size.toString
  }
}
