package graft.frontend

/** AST for the Pig Latin subset (reference grammar:
  * src/org/apache/pig/parser/QueryParser.g). One node per statement kind
  * (QueryParser.g:212-239 statement alternatives); expressions mirror
  * P/newplan/logical/expression/ (SURVEY §2.5).
  */
object PigAst {

  sealed trait Expr {
    /** This node with `f` applied to every direct child expression. The
      * match lists every constructor, so the compiler warns here about a
      * new one until its children are added (FrontendSpec checks too). */
    def mapChildren(f: Expr => Expr): Expr = this match {
      case _: Lit | _: ColRef | _: PosRef | Star => this
      case Deref(e, fl)      => Deref(f(e), fl)
      case MapLookup(e, k)   => MapLookup(f(e), k)
      case FuncCall(n, as)   => FuncCall(n, as.map(f))
      case BinOp(op, l, r)   => BinOp(op, f(l), f(r))
      case Neg(e)            => Neg(f(e))
      case Not(e)            => Not(f(e))
      case BinCond(c, t, e)  => BinCond(f(c), f(t), f(e))
      case IsNull(e, neg)    => IsNull(f(e), neg)
      case InExpr(e, vs)     => InExpr(f(e), vs.map(f))
      case CastExpr(t, e)    => CastExpr(t, f(e))
      case Matches(e, p)     => Matches(f(e), p)
      case FlattenExpr(e)    => FlattenExpr(f(e))
      case DerefMulti(e, fs) => DerefMulti(f(e), fs)
      case RangeProj(a, b)   => RangeProj(a.map(f), b.map(f))
    }

    /** Top-down rewrite: where `pf` matches, its result replaces the node
      * and is not descended into; elsewhere the children are rewritten. */
    def rewrite(pf: PartialFunction[Expr, Expr]): Expr =
      pf.applyOrElse(this, (x: Expr) => x.mapChildren(_.rewrite(pf)))
  }
  case class Lit(v: Any) extends Expr
  case class ColRef(name: String) extends Expr            // name or a::b
  case class PosRef(i: Int) extends Expr                  // $n
  case class Deref(e: Expr, field: String) extends Expr   // t.f / bag.f
  case class MapLookup(e: Expr, key: String) extends Expr // m#'k'
  case class FuncCall(name: String, args: Seq[Expr]) extends Expr
  case class BinOp(op: String, l: Expr, r: Expr) extends Expr
  case class Neg(e: Expr) extends Expr
  case class Not(e: Expr) extends Expr
  case class BinCond(c: Expr, t: Expr, f: Expr) extends Expr // c ? a : b
  case class IsNull(e: Expr, negated: Boolean) extends Expr
  case class InExpr(e: Expr, vals: Seq[Expr]) extends Expr
  case class CastExpr(typeName: String, e: Expr) extends Expr
  case class Matches(e: Expr, pattern: String) extends Expr
  case object Star extends Expr
  case class FlattenExpr(e: Expr) extends Expr
  case class DerefMulti(e: Expr, fields: Seq[String]) extends Expr // b.(f,g)
  /** Column range `a..b` / `..b` / `a..` (QueryParser.g col_range);
    * endpoints are ColRef or PosRef, None = relation start/end. */
  case class RangeProj(from: Option[Expr], to: Option[Expr]) extends Expr

  /** field AS name[:type] in GENERATE / schema position */
  /** One GENERATE item. `aliases` carries the multi-name form
    * `FLATTEN(e) AS (a, b, …)` — one name per expanded field. */
  case class GenItem(expr: Expr, alias: Option[String],
                     aliases: Seq[String] = Seq.empty)

  case class FieldSchema(name: String, typeName: String)

  /** Nested operators inside a FOREACH { } block (QueryParser.g:921-971):
    * each consumes a bag-valued name (an input bag column, a dotted
    * bag-field path like `li.l_quantity`, or a previous inner alias). */
  sealed trait InnerOp
  case class InnerFilter(src: String, cond: Expr) extends InnerOp
  case class InnerOrder(src: String, keys: Seq[(Expr, Boolean)],
                        comparator: Option[String] = None) extends InnerOp
  case class InnerLimit(src: String, n: Long) extends InnerOp
  /** Nested LIMIT with a scalar expression — per GROUP, so e.g.
    * `LIMIT s COUNT(o) * 0.1` is a top-10%-of-group cut. */
  case class InnerLimitExpr(src: String, e: Expr) extends InnerOp
  case class InnerDistinct(src: String) extends InnerOp
  case class InnerForeach(src: String, gens: Seq[GenItem]) extends InnerOp
  case class InnerCross(srcs: Seq[String]) extends InnerOp
  /** Expression let inside a nested block: `x = age + gpa;`. */
  case class InnerExpr(e: Expr) extends InnerOp

  /** One COGROUP input: `alias BY keys [INNER|OUTER]` — INNER drops
    * groups where this input's bag is empty (LOCogroup GROUPTYPE :50-54). */
  case class GroupInput(alias: String, keys: Seq[Expr], inner: Boolean)

  sealed trait Op
  case class LoadOp(path: String, using: Option[(String, Seq[String])],
                    schema: Option[Seq[FieldSchema]]) extends Op
  case class NestedForeachOp(input: String, inner: Seq[(String, InnerOp)],
                             gens: Seq[GenItem]) extends Op
  case class StreamOp(input: String, cmd: String,
                      schema: Option[Seq[FieldSchema]]) extends Op
  case class ParallelOp(inner: Op, n: Int) extends Op
  /** `PARTITION BY customPartitionerClass` wrapper (QueryParser.g
    * partition_clause) — the inner op's result is routed through the
    * user's Hadoop Partitioner. */
  case class PartitionOp(inner: Op, cls: String) extends Op
  case class FilterOp(input: String, cond: Expr) extends Op
  case class ForeachOp(input: String, gens: Seq[GenItem]) extends Op
  case class GroupOp(inputs: Seq[GroupInput], all: Boolean,
                     using: Option[String] = None) extends Op
  case class JoinOp(inputs: Seq[(String, Seq[Expr])], joinType: String,
                    using: Option[String]) extends Op
  case class CrossOp(inputs: Seq[String]) extends Op
  case class OrderOp(input: String, keys: Seq[(Expr, Boolean)],
                     comparator: Option[String] = None) extends Op
  /** MAPREDUCE/NATIVE escape hatch (QueryParser.g:490; LONative.java:28):
    * store the input, shell out to an external program, load its output. */
  case class NativeOp(jar: String, storeAlias: String, storePath: String,
                      storeFunc: Option[(String, Seq[String])],
                      loadPath: String,
                      loadFunc: Option[(String, Seq[String])],
                      loadSchema: Option[Seq[FieldSchema]],
                      cmdArgs: Option[String]) extends Op
  case class RankOp(input: String, keys: Seq[(Expr, Boolean)],
                    dense: Boolean) extends Op
  case class LimitOp(input: String, n: Long) extends Op
  /** LIMIT with a scalar-expression count (QueryParser.g:506). */
  case class LimitExprOp(input: String, n: Expr) extends Op
  case class DistinctOp(input: String) extends Op
  case class UnionOp(inputs: Seq[String], onSchema: Boolean) extends Op
  case class SampleOp(input: String, fraction: Double) extends Op
  /** SAMPLE with a scalar expression (QueryParser.g sample: expr). */
  case class SampleExprOp(input: String, e: Expr) extends Op
  /** CUBE r BY clause (, clause)* — one clause: cubeKind "cube"/"rollup"
    * with `dims`; multiple clauses: cubeKind "sets", `dims` = all clause
    * dims flattened, `clauses` the per-clause kinds (grouping sets are
    * the cross product of each clause's sets — QueryParser.g cube_rollup). */
  case class CubeOp(input: String, cubeKind: String, dims: Seq[Expr],
                    clauses: Seq[(String, Seq[Expr])] = Seq.empty) extends Op
  case class AliasRef(input: String) extends Op // b = a;

  sealed trait Stmt
  case class Assign(alias: String, op: Op) extends Stmt
  /** ASSERT r BY cond ['msg'] (QueryParser.g:481; builtin/Assert.java) —
    * rebinds the alias with the assertion applied (desugared FILTER that
    * fails the job on violation). */
  case class AssertStmt(alias: String, cond: Expr,
                        msg: Option[String]) extends Stmt
  case class SplitStmt(input: String, branches: Seq[(String, Expr)],
                       otherwise: Option[String]) extends Stmt
  case class StoreStmt(alias: String, path: String,
                       using: Option[(String, Seq[String])]) extends Stmt
  case class DumpStmt(alias: String) extends Stmt
  case class DescribeStmt(alias: String) extends Stmt
  case class ExplainStmt(alias: String) extends Stmt
  case class IllustrateStmt(alias: String) extends Stmt
  case class SetStmt(key: String, value: String) extends Stmt
  /** REGISTER 'path' [USING engine AS namespace] (QueryParser.g REGISTER;
    * P/PigServer.java registerJar / registerCode): jars load EvalFunc
    * classes; scripting files register `namespace.fn` UDFs. */
  case class RegisterStmt(path: String, using: Option[String],
                          namespace: Option[String]) extends Stmt
  /** Bare `exec;` — Grunt's batch barrier (GruntParser processExec):
    * flush pending stores before statements that read them back. This
    * engine executes STORE eagerly, so the barrier is a no-op, but the
    * reference's own scripts (nightly Bloom/CollectedGroup groups) use
    * it mid-script and must parse. */
  case object ExecBarrier extends Stmt
}
