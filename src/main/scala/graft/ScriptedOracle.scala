package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the engine implementation (session, scale-factor
  * dir) => result, the DuckDB SQL that must return the same rows over the
  * same parquet tables, and, for the few oracles too slow as one statement
  * at bench scale, an iterative [[ScriptedOracle]] mirror of that SQL.
  * Each query module lists its queries as `name -> Query(...)`;
  * [[SparkEntry]] derives its `queries`, `oracleSql` and `oracleScripted`
  * maps from those lists. */
final case class Query(
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    scripted: Option[ScriptedOracle] = None)

/** Iterative DuckDB oracle recipe for queries whose single-statement
  * SQL form is intractable at bench scale: a recursive-CTE transitive
  * closure is quadratic in component size, and a 32-round unrolled
  * MATERIALIZED-CTE chain still plans as one giant statement — both
  * exceeded a 600 s single-query budget at sf0.1 while the engine side
  * (which iterates with per-round materialization) finishes in
  * seconds. The recipe re-expresses the SAME semantics as scripted
  * `CREATE TEMP TABLE` rounds that `scripts/oracle_check.py` executes
  * under `ORACLE_SCRIPTED=1`; the single-statement `oracleSql` entry
  * remains the driver's gate at sf0.01, so the scripted form is a
  * local bench-scale mirror, not a replacement. A recipe is attached to
  * its query through [[Query.scripted]], so it cannot exist without the
  * plain oracle it mirrors.
  *
  * Authored HERE, next to the plain SQL and derived from the same
  * Scala vals (band/shingle SQL, round budgets), so a constant bump
  * can never desync the two forms — the ErRounds/HitsIters coupling
  * discipline.
  *
  * Execution contract (mirrored by the python runner):
  *   1. run every `setup` statement once;
  *   2. for r = 1..maxRounds: run every `round` statement with
  *      placeholders `{r}` → r and `{p}` → r−1 substituted, then
  *      evaluate `stop` (one BIGINT scalar, same placeholders):
  *      0 means fixpoint — exit the loop WITHOUT counting the round
  *      as used; nonzero counts it and continues;
  *   3. run `finalSql` with `{r}` → the last executed round and
  *      `{used}` → the number of nonzero-stop rounds, and compare its
  *      result like any oracle.
  *
  * `requireFixpoint = true` makes budget exhaustion a hard FAILURE
  * (exact-semantics queries: connected components must reach the
  * closure); `false` means the truncated answer is the contract —
  * the engine runs the same bounded budget, so both truncate
  * identically (graph_kcore's 32-round insurance budget). */
case class ScriptedOracle(
    setup: Seq[String],
    round: Seq[String],
    stop: String,
    maxRounds: Int,
    requireFixpoint: Boolean,
    finalSql: String)
