package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** A Pig-semantics relation: an immutable, lazily-evaluated bag of tuples,
  * wrapped over a Spark `DataFrame` so Catalyst optimizes the whole dataflow
  * DAG end-to-end.
  *
  * Design notes (vs the reference, Apache Pig):
  *  - Each Pig alias assignment (`B = FILTER A BY …`) maps to one `Relation`
  *    val; `store`/`dump` are the actions (reference:
  *    src/org/apache/pig/PigServer.java:699-721 — lazy until STORE/DUMP).
  *  - Bags are `ArrayType(StructType)` columns; `group` *produces* a bag and
  *    nested FOREACH pipelines run over it with Spark higher-order functions
  *    (reference grammar: src/org/apache/pig/parser/QueryParser.g:921-971).
  *  - The GROUP+FOREACH(agg-only) fusion — Pig's combiner
  *    (…/util/CombinerOptimizerUtil.java:89) — is done at DSL-build time:
  *    [[GroupedRelation.agg]] emits a direct `groupBy().agg()` so the bag is
  *    never materialized; [[GroupedRelation.bag]] materializes it only when
  *    the bag itself is consumed. At 100 TB this is the difference between a
  *    partial-aggregated shuffle of a few grouped rows and shuffling every
  *    input row into `collect_list`.
  */
final class Relation private[dsl] (val df: DataFrame, val name: String) {

  private def derived(d: DataFrame): Relation = new Relation(d, name)
  def as(newName: String): Relation = new Relation(df, newName)

  // ---------------------------------------------------------------------
  // FILTER r BY cond  (reference: LOFilter.java / POFilter.java)
  // Null comparisons evaluate to null → row dropped, matching Pig & SQL.
  def filter(cond: Column): Relation = derived(df.filter(cond))

  // FOREACH r GENERATE e…  (reference: LOForEach.java / POForEach.java)
  def foreach(exprs: Column*): Relation = derived(df.select(exprs: _*))
  /** Pig positional reference `$n` (ProjectExpression star/positional). */
  def $(n: Int): Column = col(df.columns(n))
  /** Pig column range `a .. b` (ProjectExpression range). */
  def range(from: Int, to: Int): Seq[Column] =
    df.columns.slice(from, to + 1).map(col).toSeq

  // ---------------------------------------------------------------------
  // FLATTEN(bag) — explode with Pig semantics: rows with EMPTY bags
  // DISAPPEAR (no null padding) → inner `explode`, not `explode_outer`
  // (reference: POForEach.java:501-514 region).
  def flatten(bagCol: String): Relation = {
    val tmp = "__flat_" + bagCol
    val pos = df.columns.indexOf(bagCol)
    val exploded = df.withColumn(tmp, explode(col(bagCol))).drop(bagCol)
    exploded.schema(tmp).dataType match {
      case st: StructType =>
        // expanded fields take the bag's POSITION (Pig replaces the item
        // in place — downstream positional refs stay valid)
        val (pre, post) = exploded.columns.filterNot(_ == tmp).splitAt(pos)
        // explicit metadata: field extraction drops StructField metadata
        // (declared pig_type / pig_name) that DESCRIBE needs
        val expand = st.fields.map(f =>
          col(s"$tmp.${f.name}").as(f.name, f.metadata))
        derived(exploded.select(
          (pre.map(col) ++ expand ++ post.map(col)).toIndexedSeq: _*))
      case _ =>
        derived(exploded.withColumnRenamed(tmp, bagCol))
    }
  }
  /** FLATTEN(map) → two columns (key, value) at the map's position;
    * empty maps disappear. */
  def flattenMap(mapCol: String, keyName: String = "key",
                 valName: String = "value"): Relation = {
    val pos = df.columns.indexOf(mapCol)
    val (pre, post) = df.columns.filterNot(_ == mapCol).splitAt(pos)
    derived(df.select(((pre.map(col) :+
      explode(col(mapCol)).as(Seq(keyName, valName))) ++
      post.map(col)).toIndexedSeq: _*))
  }
  /** FLATTEN(tuple) → struct fields become top-level columns at the
    * tuple's position. */
  def flattenTuple(structCol: String): Relation = {
    val st = df.schema(structCol).dataType.asInstanceOf[StructType]
    val pos = df.columns.indexOf(structCol)
    val (pre, post) = df.columns.filterNot(_ == structCol).splitAt(pos)
    val expand = st.fields.map(f =>
      col(s"$structCol.${f.name}").as(f.name, f.metadata))
    derived(df.select(
      (pre.map(col) ++ expand ++ post.map(col)).toIndexedSeq: _*))
  }

  // ---------------------------------------------------------------------
  // GROUP / COGROUP (reference: LOCogroup.java; shuffle triple
  // POLocalRearrange/POGlobalRearrange/POPackage — Spark's exchange
  // planning owns the physical realization).
  def group(keys: Column*): GroupedRelation =
    new GroupedRelation(this, keys.zipWithIndex.map { case (c, i) => (s"k$i", c) })
  def groupBy(key: (String, Column), more: (String, Column)*): GroupedRelation =
    new GroupedRelation(this, key +: more)
  /** GROUP r ALL → single group; Spark plans a 1-group partial+final agg. */
  def groupAll: GroupedRelation = new GroupedRelation(this, Seq.empty)

  /** COGROUP this BY k, other BY k2 → (group, thisBag, otherBag).
    * Implemented as per-input group-to-bag + full outer join on the key —
    * each side partial-aggregates before the shuffle, and missing sides are
    * EMPTY bags (never null), matching Pig (reference: POPackage.java,
    * outer-cogroup semantics).
    */
  def cogroup(key: Column, other: Relation, otherKey: Column): Relation =
    Relation.cogroupAll((this, key), (other, otherKey))

  // ---------------------------------------------------------------------
  // JOIN a BY k, b BY k [strategy] (reference: LOJoin.java JOINTYPE
  // enum :39-46; strategies §2.2 of SURVEY.md).
  //   hash       → Catalyst default (SMJ / shuffled hash — AQE picks)
  //   replicated → broadcast(right)   (POFRJoin.java)
  //   merge      → MERGE hint          (POMergeJoin.java)
  //   skewed     → AQE skew-join handles it on the default plan
  //                (POSkewedJoin + PartitionSkewedKeys → free via AQE)
  //   bloom      → Catalyst runtime bloom filter (session conf), see
  //                graft.GraftSession (POBuildBloomRearrangeTez)
  def join(other: Relation, keys: Seq[String], joinType: String = "inner",
           strategy: String = "hash"): Relation = {
    val right = strategy match {
      case "replicated"        => broadcast(other.df)
      case "merge"             => other.df.hint("merge")
      // merge-sparse (POMergeSparseJoin / IndexableLoadFunc): when the
      // probe side is GENUINELY sparse (distinct keys fit a bounded
      // collect — graft.sparsejoin.maxKeys, default 10k; 0 disables),
      // its keys push into the indexed side's SCAN as an In/InSet
      // predicate (PushedFilters → parquet row-group min/max skipping:
      // the closest Spark analog of the reference's per-key index seek
      // — the reference reads only matching right RECORDS, this reads
      // only row groups whose [min,max] admits a key). Above the
      // threshold, the bloom key-filter form takes over (same result,
      // post-scan probe). Sorted inputs take the merge path either
      // way. Inner-only (reference perf.xml).
      case "merge-sparse" | "merge_sparse" =>
        require(joinType == "inner",
          "merge-sparse join only works for inner joins")
        graft.operators.SparseJoin.keyPreFilter(
            other.df, keys.map(other.df(_)), df, keys.map(df(_)))
          .hint("merge")
      case "shuffle_hash"      => other.df.hint("shuffle_hash")
      case _                   => other.df
    }
    derived(df.join(right, keys, joinType))
  }
  /** Equi-join on differently-named keys; right-side name collisions are
    * disambiguated Pig-style (`a::x` → `<rightName>__x`). */
  def joinOn(other: Relation, leftKey: Column, rightKey: Column,
             joinType: String = "inner", strategy: String = "hash"): Relation = {
    val collisions = df.columns.toSet.intersect(other.df.columns.toSet)
    val rdf0 = collisions.foldLeft(other.df) { (d, c) =>
      d.withColumnRenamed(c, s"${other.name}__$c") }
    val right = strategy match {
      case "replicated"   => broadcast(rdf0)
      case "merge"        => rdf0.hint("merge")
      case "shuffle_hash" => rdf0.hint("shuffle_hash")
      case _              => rdf0
    }
    derived(df.join(right, leftKey === rightKey, joinType))
  }
  /** Theta (non-equi) join — Pig expresses these as CROSS+FILTER
    * (QueryParser.g:565-575 equi-only); Spark plans range conditions as a
    * broadcast nested-loop join directly. Bonus capability. */
  def joinTheta(other: Relation, cond: Column,
                joinType: String = "inner",
                strategy: String = "default"): Relation = {
    // 'replicated' matters doubly for theta: with estimate-based
    // static broadcasts off, an unhinted non-equi join plans a
    // CartesianProduct — a user who KNOWS the right side is small
    // states it and gets BroadcastNestedLoopJoin back
    val right = strategy match {
      case "replicated" => broadcast(other.df)
      case _ => other.df
    }
    derived(df.join(right, cond, joinType))
  }

  /** Pig's anti-join idiom (COGROUP + IsEmpty filter — PigMix L5) mapped to
    * the shuffle-free-er native left_anti. */
  def antiJoin(other: Relation, keys: Seq[String]): Relation =
    derived(df.join(other.df, keys, "left_anti"))
  def semiJoin(other: Relation, keys: Seq[String]): Relation =
    derived(df.join(other.df, keys, "left_semi"))

  // CROSS a, b (reference: LOCross.java / POCross.java via GFCross
  // synthetic keys — Spark's CartesianProduct/BNLJ owns this).
  def cross(other: Relation): Relation = derived(df.crossJoin(other.df))

  // ---------------------------------------------------------------------
  // ORDER r BY … — total order via Spark's RangePartitioner (sample-based,
  // same design as Pig's quantile job: FindQuantiles.java +
  // WeightedRangePartitioner — but built into Catalyst's Sort).
  def orderBy(cols: Column*): Relation = derived(df.orderBy(cols: _*))

  /** ORDER … USING comparator migration shim (reference:
    * ComparisonFunc.java + QueryParser.g:530-543). A Java comparator is a
    * black box Catalyst cannot range-partition by, so the custom-comparator
    * form is inexpressible as-is; the recipe is to re-express the
    * comparator as a computed KEY and total-order by that key — which keeps
    * the sample-based RangePartitioner (no single-partition stage) and
    * whole-stage codegen. The key columns are dropped after the sort. */
  def sortByComputedKey(keys: (Column, Boolean)*): Relation = {
    val named = keys.zipWithIndex.map { case ((c, asc), i) =>
      (s"__sortkey_$i", c, asc) }
    val withKeys = named.foldLeft(df) { case (d, (n, c, _)) =>
      d.withColumn(n, c) }
    val sorted = withKeys.orderBy(named.map { case (n, _, asc) =>
      if (asc) col(n).asc else col(n).desc }: _*)
    derived(sorted.drop(named.map(_._1): _*))
  }

  // LIMIT r n — with a preceding orderBy Catalyst plans
  // TakeOrderedAndProject (Pig's LimitAdjuster extra job, for free).
  def limit(n: Int): Relation = derived(df.limit(n))

  // DISTINCT r (reference: PODistinct.java). Spark plans partial-agg
  // dedup before the shuffle — same as Pig's sorted-distinct combiner.
  def distinct: Relation = derived(df.distinct())

  // UNION (bag union, NO dedup) / UNION ONSCHEMA (align by name, pad nulls)
  // (reference: LOUnion.java onSchema :36-53, type merging via
  // LogicalSchema.mergeSchemasByAlias — Pig PROMOTES numeric types across
  // union branches; Spark's unionByName errors on mismatched types, so
  // both sides are widened to the merged type first).
  def union(other: Relation): Relation = derived(df.union(other.df))
  def unionOnSchema(other: Relation): Relation = {
    val (l, r) = Relation.widenForUnion(df, other.df)
    derived(l.unionByName(r, allowMissingColumns = true))
  }

  // SPLIT r INTO x IF c, y IF c2 — conditions may overlap; input is
  // persisted (tracked — released by GraftSession.unpersistAll or
  // PigRunner.close) so each branch does not re-scan the source (Pig's
  // MultiQueryOptimizer equivalence — SURVEY §4.3 #2).
  def split(conds: (String, Column)*): Map[String, Relation] = {
    graft.GraftSession.trackPersist(df)
    conds.map { case (n, c) => n -> new Relation(df.filter(c), n) }.toMap
  }
  /** SPLIT … OTHERWISE branch: rows matching none of the given conditions.
    * Pig: null conditions do not route to OTHERWISE either — NOT(null) is
    * null, so a row whose every condition is null is dropped entirely
    * (coalesce to TRUE makes the negation false for the null case). */
  def splitOtherwise(conds: Column*): Column =
    !coalesce(conds.reduce(_ || _), lit(true))

  // SAMPLE r f — Bernoulli (reference desugars to FILTER BY RANDOM() < f,
  // LogicalPlanBuilder.java:251-256). Seeded for reproducibility.
  def sample(fraction: Double, seed: Long = 42L): Relation =
    derived(df.sample(fraction, seed))

  // CUBE / ROLLUP (reference: LOCube.java desugared through
  // CubeDimensions/RollupDimensions + GROUP; Spark has native grouping sets)
  def cube(dims: Column*)(aggs: Column*): Relation =
    derived(df.cube(dims: _*).agg(aggs.head, aggs.tail: _*))
  def rollup(dims: Column*)(aggs: Column*): Relation =
    derived(df.rollup(dims: _*).agg(aggs.head, aggs.tail: _*))

  // ---------------------------------------------------------------------
  // RANK r [BY cols [DENSE]] (reference: LORank.java; PORank/POCounter
  // 2-pass: per-task counts then global offsets, PORank.java:145-157).
  // Routed through the scalable 2-pass implementation — no unpartitioned
  // window anywhere in the plan. `by` pairs a key expression with its
  // direction (asc = true).
  def rank(by: Seq[(Column, Boolean)], dense: Boolean = false,
           rankName: String = "rank"): Relation =
    derived(graft.operators.Rank.rankBy(df, by, dense, rankName))
  /** The window form (`rank() OVER (ORDER BY …)`) — a SINGLE-partition
    * stage; explicit opt-in for small inputs only. */
  def rankWindowed(by: Seq[Column], dense: Boolean = false,
                   rankName: String = "rank"): Relation = {
    val w = Window.orderBy(by: _*)
    val r = if (dense) dense_rank() else org.apache.spark.sql.functions.rank()
    derived(df.withColumn(rankName, r.over(w).cast(LongType)))
  }
  /** RANK r (no BY) — 1-based global row number, scalable: per-partition
    * counts + offsets (zipWithIndex), no single-partition window. */
  def rankScalable(rankName: String = "rank"): Relation =
    derived(graft.operators.Rank.rowNumber(df, rankName))

  // ---------------------------------------------------------------------
  // STREAM r THROUGH 'cmd' (reference: POStream.java + ExecutableManager's
  // 3-thread pump; tuple⇄text via PigStreaming.java). Spark-side: pipe each
  // partition through the external process — fully distributed, one process
  // per task, exactly Pig's per-map/reduce-task contract.
  def streamThrough(cmd: Seq[String], outSchema: StructType,
                    sep: String = "\t"): Relation = {
    val piped = serializedLines(sep).pipe(cmd)
    linesToRelation(piped, outSchema, sep)
  }

  /** STREAM with I/O redirection / ship files (reference: HandleSpec +
    * File{Input,Output}Handler + FileLocalizer ship list). Each task gets
    * a scratch working directory — the task-cwd analog:
    *  - ship files are copied in (so commands reference them by bare
    *    name; the scratch dir is also appended to the child's $PATH,
    *    StreamingUtil.setupEnvironment does the same)
    *  - a FILE input handle is fully written before exec
    *    (FileInputHandler is ASYNCHRONOUS: all input lands, then the
    *    command runs reading the file itself)
    *  - a FILE primary-output handle is read after exit
    *    (FileOutputHandler binds post-process); secondary output handles
    *    are written by the process into the scratch dir and discarded
    *    (the reference keeps them as side files next to the job output —
    *    only the primary becomes the relation either way)
    * At cluster scale ship paths must be driver-visible or pre-staged
    * via SparkContext.addFile; on the local engine they resolve
    * directly. */
  def streamThroughIo(shellCmd: String, outSchema: StructType,
                      io: graft.frontend.StreamIo.Spec): Relation = {
    val piped = serializedLines(io.inSep).mapPartitions { it =>
      graft.operators.StreamProcess.run(shellCmd, it,
        io.inputFile.map(_.name), io.primaryOut.map(_.name), io.ship)
    }
    linesToRelation(piped, outSchema, io.outSep)
  }

  /** Rows → delimited lines. Nulls serialize as EMPTY fields (concat_ws
    * would silently DROP null columns and shift every later field left —
    * Pig writes empty fields). */
  private def serializedLines(sep: String) = df
    .select(concat_ws(sep, df.columns.map(c =>
        coalesce(col(c).cast(StringType), lit(""))).toIndexedSeq: _*))
    .rdd.map(_.getString(0))

  private def linesToRelation(piped: org.apache.spark.rdd.RDD[String],
                              outSchema: StructType,
                              sep: String): Relation = {
    val spark = df.sparkSession
    val sepRegex = java.util.regex.Pattern.quote(sep)
    val rows = piped.map { line =>
      // pad short lines with nulls, TRUNCATE long ones (Pig's
      // PigStreaming: extra fields are dropped, never a row error)
      Row.fromSeq(line.split(sepRegex, -1).toSeq
        .padTo(outSchema.size, null).take(outSchema.size))
    }
    val asStrings = spark.createDataFrame(rows,
      StructType(outSchema.map(f => f.copy(dataType = StringType))))
    // Pig: streamed output is bytearray until cast; apply the declared
    // schema via non-ANSI casts (failure → null, §1.4 LoadCaster).
    derived(asStrings.select(outSchema.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*))
  }

  // ASSERT r BY cond (reference: builtin/Assert.java — fail if violated)
  def assertBy(cond: Column, msg: String = "assertion failed"): Relation =
    derived(df.filter(
      when(cond, lit(true)).otherwise(raise_error(lit(msg)))))

  // Scalar projection: a 1-row relation used as a scalar (reference:
  // ScalarExpression.java + ReadScalars.java — errors if >1 row). The
  // aggregate is computed once and broadcast-joined, not collected. The
  // input feeds both the aggregate and the main scan — persist it once
  // (tracked) instead of reading the source twice.
  def withScalar(scalarName: String, agg: Column): Relation = {
    val cached = graft.GraftSession.trackPersist(df)
    derived(cached.crossJoin(broadcast(cached.agg(agg.as(scalarName)))))
  }

  /** PluckTuple (reference: PluckTuple.java:62): project columns by name
    * prefix — the idiom for grabbing one side of a join. */
  def pluck(prefix: String): Relation =
    derived(df.select(df.columns.filter(_.startsWith(prefix)).map(col)
      .toIndexedSeq: _*))

  // ---------------------------------------------------------------------
  // STORE r INTO 'p' USING f (reference: LOStore/POStore)
  def store(path: String, format: String = "parquet",
            options: Map[String, String] = Map.empty): Unit =
    df.write.format(format).options(options).mode("overwrite").save(path)
  /** STORE into a BUCKETED catalog table — the materialization contract
    * behind Pig's `GROUP … USING 'collected'` and `JOIN … USING 'merge'`
    * (Zebra sorted storage; POMergeJoin's sorted-input requirement,
    * PL/relationalOperators/POMergeJoin.java): rows are hash-bucketed
    * (and optionally sorted) by the key at WRITE time, so later joins and
    * groups on that key read co-located data and Catalyst elides the
    * exchange — and the sort, for sorted buckets. This is the 100 TB
    * shape for repeatedly-joined fact tables: pay the shuffle once at
    * write, never at read. Bucketing metadata lives in the session
    * catalog, so this takes a table name, not a bare path. */
  def storeBucketed(table: String, numBuckets: Int, keys: Seq[String],
                    sortKeys: Seq[String] = Seq.empty): Unit = {
    val w = df.write.format("parquet").mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
    (if (sortKeys.nonEmpty) w.sortBy(sortKeys.head, sortKeys.tail: _*)
     else w).saveAsTable(table)
  }

  /** DUMP (Grunt verb) — driver-side display only. */
  /** DUMP prints every row as a Pig tuple — `(v1,v2,…)` with bags
    * `{(…)}`, tuples `(…)`, maps `[k#v]`, null fields empty — exactly
    * what the reference's DUMP renders (Tuple.toDelimitedString via
    * its dump path). Streams via toLocalIterator: one partition's rows
    * on the driver at a time, never a full collect. */
  def dumpLines(): Iterator[String] = {
    val rendered = df.select(concat(lit("("), concat_ws(",",
      df.schema.fields.map(f =>
        coalesce(graft.functions.PigTextParse.unparse(col(f.name),
          f.dataType), lit(""))).toIndexedSeq: _*), lit(")")).as("t"))
    import scala.jdk.CollectionConverters._
    rendered.toLocalIterator().asScala.map(_.getString(0))
  }
  def dump(): Unit = dumpLines().foreach(println)
  /** Pig-format DESCRIBE line — `alias: {name: type,...}` exactly as
    * the reference prints it (Schema.toString; cmdline.conf's
    * Describe_cmdline group pins the format). Returns the line so the
    * REPL and specs can capture it; also printed like the reference. */
  /** Up to `n` head rows, each field rendered as its Pig literal — the
    * ILLUSTRATE table body (approximation of DisplayExamples). */
  def illustrateCells(n: Int): Seq[Seq[String]] = {
    val cols = df.schema.fields.map(f =>
      coalesce(graft.functions.PigTextParse.unparse(col(f.name), f.dataType),
        lit("")).as(f.name))
    df.select(cols.toIndexedSeq: _*).limit(n).collect()
      .map(r => df.schema.indices.map(i =>
        String.valueOf(r.getString(i))).toSeq).toSeq
  }

  def describeString(): String = s"$name: ${Relation.pigSchemaString(df.schema)}"
  def describe(): Unit = println(describeString())
  def explain(): Unit = df.explain("formatted")
}

object Relation {
  def apply(df: DataFrame, name: String = "rel"): Relation =
    new Relation(df, name)

  /** Catalyst type → Pig type name, the reverse of the AS-schema map
    * (DataType.findTypeName). StringType prints `bytearray` only when
    * flagged: this engine reads undeclared text columns as strings, so
    * chararray is the faithful default. */
  private def pigTypeName(dt: DataType): String = dt match {
    case IntegerType     => "int"
    case LongType        => "long"
    case FloatType       => "float"
    case DoubleType      => "double"
    case BooleanType     => "boolean"
    case TimestampType   => "datetime"
    case BinaryType      => "bytearray"
    case StringType      => "chararray"
    case d: DecimalType  => if (d.scale == 0) "biginteger" else "bigdecimal"
    case ArrayType(st: StructType, _) =>
      s"{${tupleString(st, named = false)}}"
    case ArrayType(et, _) => s"{(${pigTypeName(et)})}"
    case st: StructType   => tupleString(st, named = false)
    case MapType(_, vt, _) => s"map[${pigTypeName(vt)}]"
    case _ => "bytearray"
  }
  private def tupleString(st: StructType, named: Boolean): String =
    st.fields.map(f => s"${f.name}: ${pigTypeName(f.dataType)}")
      .mkString("(", ",", ")")
  /** `{name: type,name: type}` — Schema.toString's flat form. A field
    * that carries its DECLARED Pig type in metadata (`pig_type`, set by
    * the LOAD AS apply) renders that — `bytearray` and `map[]` are not
    * recoverable from the Catalyst type alone. */
  def pigSchemaString(st: StructType): String =
    st.fields.zipWithIndex.map { case (f, i) =>
      val t = if (f.metadata.contains("pig_type"))
        renderDeclared(f.metadata.getString("pig_type"))
      else pigTypeName(f.dataType)
      // an auto-named field (`c<pos>`, no declared type) is UNNAMED in
      // Pig — Schema.toString prints just the type (cmdline.conf
      // NestedDescribe/2: `C: {long,group: bytearray}` for an
      // un-aliased COUNT). A field carrying `pig_name` metadata prints
      // Pig's two-level spelling (`A::name`) while the COLUMN keeps the
      // engine's collide-only rename (Describe_cmdline/13).
      if (f.metadata.contains("pig_name"))
        s"${f.metadata.getString("pig_name")}: $t"
      else if (f.name == s"c$i" && !f.metadata.contains("pig_type")) t
      else s"${f.name}: $t"
    }.mkString("{", ",", "}")

  /** One field's Pig type spelling — declared metadata first, Catalyst
    * type otherwise (the DESCRIBE rule, exposed for ILLUSTRATE headers). */
  def pigFieldType(f: StructField): String =
    if (f.metadata.contains("pig_type"))
      renderDeclared(f.metadata.getString("pig_type"))
    else pigTypeName(f.dataType)

  /** Split a canonical type string's field list at top-level commas. */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case c @ ('(' | '{' | '[') => depth += 1; cur.append(c)
      case c @ (')' | '}' | ']') => depth -= 1; cur.append(c)
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim)
  }

  /** Render a parser-canonical declared type ("[]", "{(x,y)}",
    * "(a:int,b)") in Pig's Schema.toString spelling. */
  private def renderDeclared(t0: String): String = {
    val t = t0.trim
    if (t.isEmpty || t == "bytearray") "bytearray"
    else if (t.startsWith("[") && t.endsWith("]")) {
      val in = t.substring(1, t.length - 1).trim
      if (in.isEmpty) "map[]" else s"map[${renderDeclared(in)}]"
    } else if (t.startsWith("{") && t.endsWith("}"))
      s"{${renderDeclared(t.substring(1, t.length - 1))}}"
    else if (t.startsWith("(") && t.endsWith(")")) {
      splitTop(t.substring(1, t.length - 1)).map { f =>
        // top-level colon splits name from type; none → bytearray
        val i = {
          var depth = 0; var found = -1
          f.zipWithIndex.foreach {
            case (c, _) if "({[".contains(c) => depth += 1
            case (c, _) if ")}]".contains(c) => depth -= 1
            case (':', j) if depth == 0 && found < 0 => found = j
            case _ =>
          }
          found
        }
        if (i < 0) s"${f.trim}: bytearray"
        else s"${f.take(i).trim}: ${renderDeclared(f.drop(i + 1))}"
      }.mkString("(", ",", ")")
    } else t
  }
  /** LOAD 'path' USING Parquet (reference: LOLoad/POLoad; format loaders
    * §2.8 — Spark sources give pushdown + pruning via DSv2). */
  def load(spark: SparkSession, path: String, name: String): Relation =
    new Relation(graft.sources.Parquet.read(spark, path), name)
  def loadTable(spark: SparkSession, dir: String, table: String): Relation =
    new Relation(fixNanoTimestamps(
      graft.sources.Parquet.read(spark, s"$dir/$table.parquet")), table)
  /** LOAD a (possibly bucketed) catalog table — the read half of
    * [[Relation.storeBucketed]]; bucketing metadata makes joins/groups on
    * the bucket key exchange-free. */
  def fromTable(spark: SparkSession, table: String): Relation =
    new Relation(spark.table(table), table)

  /** N-ary COGROUP (Pig allows any number of inputs): each input is
    * grouped to a bag, the per-key bags full-outer-joined, and missing
    * sides become EMPTY bags — never null. Each side partial-aggregates
    * before its shuffle; the joins are on the (already grouped) key
    * domain, not the raw rows. */
  def cogroupAll(inputs: (Relation, Column)*): Relation = {
    require(inputs.size >= 2, "COGROUP needs at least two inputs")
    val grouped = inputs.map { case (r, k) =>
      r.df.groupBy(k.as("group"))
        .agg(collect_list(struct(r.df.columns.map(col).toIndexedSeq: _*))
          .as(r.name))
    }
    val joined = grouped.reduce((a, b) => a.join(b, Seq("group"), "full_outer"))
    val fixed = inputs.foldLeft(joined) { case (d, (r, _)) =>
      d.withColumn(r.name,
        coalesce(col(r.name), array().cast(d.schema(r.name).dataType)))
    }
    new Relation(fixed, inputs.head._1.name)
  }

  /** Numeric type promotion for UNION ONSCHEMA (Pig's schema merge):
    * shared column names with different numeric types are cast on BOTH
    * sides to the wider type (int < long < float < double; anything
    * numeric vs decimal → double). Non-numeric conflicts are left for
    * Spark to reject, matching Pig's merge error. */
  private[dsl] def widenForUnion(l: DataFrame, r: DataFrame): (DataFrame, DataFrame) = {
    def rank(dt: DataType): Int = dt match {
      case ByteType | ShortType | IntegerType => 1
      case LongType => 2
      case FloatType => 3
      case DoubleType | _: DecimalType => 4
      case _ => -1
    }
    def widen(a: DataType, b: DataType): Option[DataType] =
      if (a == b) None
      else if (rank(a) > 0 && rank(b) > 0)
        Some(Seq(a, b).maxBy(rank) match {
          case _: DecimalType => DoubleType
          case t => t
        })
      else None
    val shared = l.columns.toSet.intersect(r.columns.toSet)
    shared.foldLeft((l, r)) { case ((la, ra), c) =>
      widen(la.schema(c).dataType, ra.schema(c).dataType) match {
        case Some(t) => (la.withColumn(c, la(c).cast(t)),
                         ra.withColumn(c, ra(c).cast(t)))
        case None => (la, ra)
      }
    }
  }

  /** Parquet TIMESTAMP(NANOS) columns arrive as long under the
    * `nanosAsLong` conf (Spark cannot read nano timestamps natively).
    * Re-derive the timestamp with integral division — a double divide
    * would lose microsecond precision at ~1.7e18 nanos. Applies to the
    * conventional event-time column name `ts`; other nano columns must be
    * converted explicitly by the caller. */
  def fixNanoTimestamps(df: DataFrame): DataFrame =
    if (df.columns.contains("ts") && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  /** PigStorage analog: delimited text, all columns typed lazily
    * (bytearray ≈ string here; use-site casts are non-ANSI → null on
    * failure, §1.4). */
  def loadDelimited(spark: SparkSession, path: String, name: String,
                    sep: String = "\t",
                    schema: Option[StructType] = None): Relation = {
    val r = spark.read.option("sep", sep)
    val df = schema match {
      case Some(s) => r.schema(s).csv(path)
      case None    => r.csv(path)
    }
    new Relation(df, name)
  }
}

/** Result of GROUP/COGROUP … BY — holds keys, defers physical shape:
  *  - `.agg(...)`  → direct `groupBy().agg()` (combiner path; no bag)
  *  - `.bag()`     → `(group, bag)` with the bag materialized
  *  - `.bagSorted(...)` → secondary-sort equivalence: bag sorted by key
  *    inside the aggregation (SecondaryKeyOptimizerUtil analog).
  */
final class GroupedRelation private[dsl] (src: Relation,
                                          keys: Seq[(String, Column)]) {
  private def df = src.df
  private def keyCols = keys.map { case (n, c) => c.as(n) }

  /** Fused aggregation — Pig's combiner/Algebraic path. */
  def agg(aggs: Column*): Relation = {
    val out =
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
    Relation(out, src.name)
  }

  /** Materialized `(group keys…, <name>: bag)` — only when the bag itself
    * is consumed downstream (nested FOREACH, FLATTEN on the bag, …). */
  def bag(extraAggs: Column*): Relation = {
    val bagAgg = collect_list(struct(df.columns.map(col).toIndexedSeq: _*))
      .as(src.name)
    val aggs = bagAgg +: extraAggs
    val out =
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
    Relation(out, src.name)
  }

  /** Bag with a deterministic in-bag order — Pig's nested ORDER inside
    * FOREACH, pushed into the aggregation (secondary-sort analog). The sort
    * happens per-group post-shuffle via array_sort, not a global sort. */
  def bagSorted(orderField: String, asc: Boolean,
                extraAggs: Column*): Relation = {
    val bagged = bag(extraAggs: _*)
    val (lt, gt) = if (asc) ("-1", "1") else ("1", "-1")
    // nulls order FIRST ascending (Pig's rule) — treating null as a tie
    // with everything is non-transitive and violates TimSort's contract
    val sortedBag = expr(
      s"array_sort(`${src.name}`, (l, r) -> " +
      s"CASE WHEN l.`$orderField` IS NULL AND r.`$orderField` IS NULL THEN 0 " +
      s"WHEN l.`$orderField` IS NULL THEN $lt " +
      s"WHEN r.`$orderField` IS NULL THEN $gt " +
      s"WHEN l.`$orderField` < r.`$orderField` THEN $lt " +
      s"WHEN l.`$orderField` > r.`$orderField` THEN $gt ELSE 0 END)")
    Relation(bagged.df.withColumn(src.name, sortedBag), src.name)
  }

  /** Nested `ORDER …; LIMIT n` fused to a windowed top-k — Pig's
    * NestedLimitOptimizer (…/rules/LimitOptimizer.java region) done at
    * DSL-build time. Unlike the bag path (collect_list + array_sort),
    * this never materializes groups: WindowExec keeps a bounded buffer
    * per group and the rank filter drops rows before they reach any
    * downstream operator. Returns the original row shape (top n rows
    * per group), which is what a nested GENERATE FLATTEN(limit) yields. */
  def topK(n: Int, order: Column*): Relation = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(_._2): _*).orderBy(order: _*)
    Relation(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn"), src.name)
  }

  /** Two-key nested ORDER (primary + tiebreaker) — deterministic top-k. */
  def bagSorted2(f1: String, asc1: Boolean, f2: String, asc2: Boolean,
                 extraAggs: Column*): Relation = {
    val bagged = bag(extraAggs: _*)
    // CASE arms per key that DEFER to the next key on ties (incl. the
    // both-null tie); nulls order first ascending (see bagSorted)
    def arms(f: String, asc: Boolean): String = {
      val (lo, hi) = if (asc) ("-1", "1") else ("1", "-1")
      s"WHEN l.`$f` IS NULL AND r.`$f` IS NOT NULL THEN $lo " +
      s"WHEN l.`$f` IS NOT NULL AND r.`$f` IS NULL THEN $hi " +
      s"WHEN l.`$f` < r.`$f` THEN $lo " +
      s"WHEN l.`$f` > r.`$f` THEN $hi "
    }
    val sortedBag = expr(
      s"array_sort(`${src.name}`, (l, r) -> CASE " +
      arms(f1, asc1) + arms(f2, asc2) + "ELSE 0 END)")
    Relation(bagged.df.withColumn(src.name, sortedBag), src.name)
  }
}
