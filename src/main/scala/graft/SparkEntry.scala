package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Builtins._
import graft.gates.{FunctionGates, Gate, MediaGates, RelationalGates, TextGates}
import graft.gates.Fixtures.T

/** The gate contract: one [[graft.gates.Gate]] per implemented operator
  * from SURVEY.md §2 — its engine form, its DuckDB oracle SQL and, where
  * Bench times something else, its bench form — plus the flagship
  * [[entry]]. The name-keyed maps that [[Verify]], [[Bench]] and the
  * external checker read are derived from [[gates]]. */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): TPC-H-Q3-ish
    * customer ⋈ orders ⋈ lineitem with broadcast dim, fused group-agg,
    * total-order sort + top-k — the Slice-0 shape from SURVEY §7.2. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val cust = T(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord  = T(spark, dir, "orders")
    val li   = T(spark, dir, "lineitem")
    ord.joinOn(cust, col("o_custkey"), col("c_custkey"), strategy = "replicated")
      .joinOn(li, col("o_orderkey"), col("l_orderkey"))
      .as("t")
      .groupBy("o_orderkey" -> col("o_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
             .as("revenue"),
           COUNT_STAR().as("n_items"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10).df
  }

  /** Every gate, names distinct. */
  lazy val gates: Seq[Gate] = Gate.distinct(RelationalGates.all ++
    FunctionGates.all ++ TextGates.all ++ MediaGates.all)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  /** Each gate's DuckDB SQL; the token-oracle PRECONDITION is on
    * [[graft.gates.Gate]]. */
  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap

  /** What [[graft.Bench]] times: each gate's bench form, else its
    * engine form (see [[graft.gates.Gate]]). */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.bench.getOrElse(g.run)).toMap
}
