package graft.mr

import scala.reflect.ClassTag
import org.apache.spark.sql.{Dataset, SparkSession}

/** An app whose reduce is a monoid over lifted values (SURVEY.md §7.3).
  * The plain `reduce(key, values)` contract materializes every group in
  * memory (like the reference, mr/worker.go:109) — fine
  * for parity, wrong for unbounded groups. [[MRJob]] runs these apps with
  * the paper's §4.3 combiner: values are folded map-side before the
  * shuffle and the partial buffers merged reduce-side, so no whole group
  * is held anywhere. The buffer's ClassTag picks the shuffle serializer.
  */
abstract class IncrementalApp[B](implicit val bufferTag: ClassTag[B]) extends MRApp {
  def zero: B
  def lift(value: String): B
  def combine(a: B, b: B): B
  def finish(key: String, buf: B): String

  /** The non-incremental contract, derived — keeps every incremental
    * app runnable through the sequential oracle. */
  final def reduce(key: String, values: Seq[String]): String =
    finish(key, values.map(lift).foldLeft(zero)(combine))
}

object Incremental {
  /** [[MRJob.result]]: the combiner is part of the one runner. */
  def result[B](spark: SparkSession, app: IncrementalApp[B],
      inputGlob: String): Dataset[String] =
    MRJob.result(spark, app, inputGlob)
}

/** Incremental indexer: buffer = distinct doc set. [[Apps.Indexer]]
  * stays a plain app, since a map-side set union was measured no faster
  * on the mr_text workload; this one exercises the combiner with a
  * non-primitive buffer. */
object IndexerInc extends IncrementalApp[Set[String]] {
  def map(filename: String, contents: String): Seq[KV] =
    Apps.Indexer.map(filename, contents)
  def zero: Set[String] = Set.empty
  def lift(v: String): Set[String] = Set(v)
  def combine(a: Set[String], b: Set[String]): Set[String] = a union b
  def finish(key: String, buf: Set[String]): String =
    s"${buf.size} ${buf.toSeq.sorted.mkString(",")}"
}
