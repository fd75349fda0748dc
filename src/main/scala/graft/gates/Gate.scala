package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: a relational computation written twice, once as an
  * engine program (`run`, over the sf dir it is handed) and once as the
  * DuckDB SQL it is compared with (`oracleSql`, over views named
  * after the sf tables).
  *
  * Conventions (results are hash-compared after sorting columns by
  * name):
  *  - every computed column is aliased identically on both sides;
  *  - computed doubles that involve order-dependent aggregation are
  *    `round`ed the same way on both sides (float tolerance policy
  *    mirrors the reference's e2e floatpostprocess — SURVEY §5);
  *  - integer-ish computed outputs are cast to BIGINT on both sides
  *    (DuckDB widens to BIGINT/HUGEINT where Spark keeps int/long);
  *  - top-k queries carry explicit tiebreakers so results are
  *    deterministic.
  *
  * PRECONDITION (r15 advisory): legacy token-based oracles (q49, q64,
  * q83, q90, q100, q102, q103, …) mirror the plain whitespace split,
  * while engine-side [[graft.text.TextAnalysis.tokens]] is script-aware
  * (CJK/Thai boundary insertion). They agree exactly when the corpus
  * carries no CJK/Thai codepoints — true of the generated test data,
  * and ASSERTED (not assumed) by CoverageSpec "ASCII-corpus
  * precondition": any such byte entering a future corpus fails that
  * spec loudly instead of silently diverging engine vs oracle. Gates
  * whose POINT is the script rule (q114, q115) mirror the full
  * scriptSpaced regex pair instead.
  *
  * `bench` is what [[graft.Bench]] times when it differs from `run`:
  *  - near-dup gates whose correctness form runs the production
  *    pipeline AND its exact quadratic twin (all-pairs Jaccard /
  *    hamming / cosine) to compute recall/precision verdicts. The twin
  *    is test machinery, deliberately O(n²), so the bench form times
  *    the production operator alone (q47/q63 keep their gates: their
  *    exact twin is a single brute-force scan, itself a production
  *    baseline);
  *  - gates that synthesize payloads in-plan (so the hash gate sees
  *    the whole composition) time the operator over an epoch-
  *    materialized parquet scan instead ([[Fixtures.epochParquet]]);
  *  - index gates time the recurring batch-ingest filter over an epoch
  *    index ([[Fixtures.epochTables]]). */
final case class Gate(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    bench: Option[(SparkSession, String) => DataFrame] = None)

object Gate {

  /** `gates` unchanged, once their names are known to be distinct: a
    * name-keyed map over them would silently keep only one of two
    * gates sharing a name. */
  def distinct(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect {
      case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate gate name: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }
}
