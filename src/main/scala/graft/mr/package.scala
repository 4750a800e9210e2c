package graft

package object mr {
  /** Word count is itself an [[IncrementalApp]]; the name is kept. */
  val WordCountInc: Apps.WordCount.type = Apps.WordCount

  /** The credit query is itself an [[IncrementalApp]]; the name is kept. */
  val CreditInc: Apps.Credit.type = Apps.Credit
}
