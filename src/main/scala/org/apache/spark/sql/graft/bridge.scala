package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedExtractValue, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter,
  ExpressionUtils}
import org.apache.spark.sql.execution.datasources.DataSource

/** Bridge into Spark's `private[sql]` Column↔Expression conversions —
  * Spark 4 made `Column` backend-agnostic, so third-party Catalyst
  * expressions need this one-hop shim (the standard extension pattern:
  * a file inside the org.apache.spark.sql namespace). It also exposes
  * the path step of a file-source read ([[readRoots]]). Nothing else in
  * the codebase may depend on spark-private API.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The root paths a file-source read of `paths` lists: qualified and
    * glob-expanded by Spark's own `DataSource` step, which throws where
    * that read would (a missing path, a glob matching nothing). */
  def readRoots(paths: Seq[String], hadoopConf: Configuration): Seq[Path] =
    DataSource.checkAndGlobPathIfNecessary(paths, hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true,
      enableGlobbing = true)

  /** Nondeterminism test on an UNRESOLVED Column. Spark 4 Columns are
    * lazy ColumnNode trees — `bridge.expression` wraps them in an
    * opaque ColumnNodeExpression whose `deterministic` defaults true —
    * so the column converts EAGERLY to a catalyst tree first
    * (ColumnNodeToExpressionConverter, the same conversion analysis
    * performs) and the walk tests both the unresolved function NAMES
    * (UnresolvedFunction defaults deterministic=true before
    * resolution) and each node's own flag. */
  private val nondetNames = Set("rand", "randn", "random", "uuid",
    "shuffle", "monotonically_increasing_id")

  def isNondeterministic(c: Column): Boolean =
    ColumnNodeToExpressionConverter(c.node).exists {
      case f: UnresolvedFunction => nondetNames(f.nameParts.last.toLowerCase)
      case x => !x.deterministic
    }

  /** `c` with each column reference `a` read as the field `t.a` instead:
    * an expression compiled over a bag's element schema, bound to the
    * lambda variable `t` of a higher-order function over that bag. The
    * column converts eagerly, as in [[isNondeterministic]], so the
    * references inside custom expressions are bound too. */
  def bindFields(c: Column, t: Column): Column = {
    val elem = ColumnNodeToExpressionConverter(t.node)
    column(ColumnNodeToExpressionConverter(c.node).transform {
      case UnresolvedAttribute(parts) =>
        parts.foldLeft(elem)((b, f) => UnresolvedExtractValue(b, Literal(f)))
    })
  }
}
