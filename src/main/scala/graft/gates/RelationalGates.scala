package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.dsl.Relation
import graft.functions.Builtins._
import Fixtures._

/** Relational-operator gates (SURVEY §2.1) and the Pig Latin
  * frontend gates that exercise them end to end. */
object RelationalGates {

  val all: Seq[Gate] = Seq(
    // FILTER r BY cond (#3)
    Gate("q01_filter", (s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .foreach(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                 col("l_extendedprice")).df,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'"""),

    // FOREACH r GENERATE exprs (#4): arithmetic + bincond (c ? a : b)
    Gate("q02_foreach", (s, d) =>
      T(s, d, "lineitem").foreach(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        when(col("l_quantity") > 25, lit("big")).otherwise(lit("small"))
          .as("qty_class")).df,
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1 - l_discount) AS revenue,
                CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS qty_class
         FROM lineitem"""),

    // GROUP BY + fused aggregation (combiner path; #6 + §2.3)
    Gate("q03_group_agg", (s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_returnflag" -> col("l_returnflag"),
                 "l_linestatus" -> col("l_linestatus"))
        .agg(round(SUM(col("l_quantity")), 2).as("sum_qty"),
             round(SUM(col("l_extendedprice")), 2).as("sum_price"),
             round(AVG(col("l_discount")), 6).as("avg_disc"),
             COUNT_STAR().as("cnt")).df,
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_price,
                round(avg(l_discount), 6) AS avg_disc,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    // GROUP ALL (#6): global aggregate, single group
    Gate("q04_group_all", (s, d) =>
      T(s, d, "lineitem").groupAll
        .agg(COUNT_STAR().as("cnt"),
             round(SUM(col("l_extendedprice")), 2).as("total_price"),
             round(MIN(col("l_quantity")), 2).as("min_qty"),
             round(MAX(col("l_quantity")), 2).as("max_qty")).df,
      """SELECT count(*) AS cnt, round(sum(l_extendedprice), 2) AS total_price,
                round(min(l_quantity), 2) AS min_qty,
                round(max(l_quantity), 2) AS max_qty
         FROM lineitem"""),

    // GROUP producing a real bag column, consumed via SIZE (#6 bag path)
    Gate("q05_group_bag", (s, d) =>
      T(s, d, "orders")
        .groupBy("o_custkey" -> col("o_custkey")).bag()
        .foreach(col("o_custkey"), SIZE(col("orders")).as("n_orders")).df,
      """SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey"""),

    // nested FOREACH { ORDER …; LIMIT …; GENERATE FLATTEN } (#5), fused
    // to a windowed top-k (NestedLimitOptimizer equivalence — groups are
    // never materialized as bags)
    Gate("q06_nested_foreach", (s, d) =>
      T(s, d, "lineitem")
        .foreach(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .as("items")
        .groupBy("okey" -> col("l_orderkey"))
        .topK(2, col("l_quantity").desc, col("l_linenumber"))
        .foreach(col("l_orderkey"), col("l_linenumber"), col("l_quantity")).df,
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
           SELECT l_orderkey, l_linenumber, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_quantity DESC, l_linenumber) AS rn
           FROM lineitem) WHERE rn <= 2"""),

    // JOIN default hash strategy (#7, §2.2)
    Gate("q07_join", (s, d) =>
      T(s, d, "orders")
        .joinOn(T(s, d, "customer"), col("o_custkey"), col("c_custkey"))
        .as("oc")
        .groupBy("c_mktsegment" -> col("c_mktsegment"),
                 "o_orderstatus" -> col("o_orderstatus"))
        .agg(COUNT_STAR().as("n"),
             round(SUM(col("o_totalprice")), 2).as("volume")).df,
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n,
                round(sum(o_totalprice), 2) AS volume
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment, o_orderstatus"""),

    // JOIN USING 'replicated' → broadcast (#7, POFRJoin analog)
    Gate("q08_join_broadcast", (s, d) =>
      T(s, d, "lineitem")
        .joinOn(T(s, d, "part"), col("l_partkey"), col("p_partkey"),
                strategy = "replicated")
        .as("lp")
        .groupBy("p_brand" -> col("p_brand"))
        .agg(COUNT_STAR().as("n"),
             round(SUM(col("l_quantity")), 2).as("qty")).df,
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand"""),

    // LEFT OUTER JOIN (#7): customers keep row even with no orders
    Gate("q09_join_left", (s, d) =>
      T(s, d, "customer")
        .joinOn(T(s, d, "orders"), col("c_custkey"), col("o_custkey"),
                joinType = "left")
        .as("co")
        .groupBy("c_custkey" -> col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders")).df,
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey"""),

    // FULL OUTER JOIN (#7) of two aggregated sides
    Gate("q10_join_full", (s, d) => {
      val c = T(s, d, "customer")
        .groupBy("nk" -> col("c_nationkey")).agg(COUNT_STAR().as("n_cust"))
      val sup = T(s, d, "supplier")
        .groupBy("nk" -> col("s_nationkey")).agg(COUNT_STAR().as("n_supp"))
      c.joinOn(sup, col("nk"), col("supplier__nk"), joinType = "full")
        .foreach(coalesce(col("nk"), col("supplier__nk")).as("nationkey"),
                 coalesce(col("n_cust"), lit(0L)).as("n_cust"),
                 coalesce(col("n_supp"), lit(0L)).as("n_supp")).df
    },
      """SELECT coalesce(c.nk, s.nk) AS nationkey,
                coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
               FROM customer GROUP BY 1) c
         FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp
               FROM supplier GROUP BY 1) s ON c.nk = s.nk"""),

    // CROSS (#8)
    Gate("q11_cross", (s, d) =>
      T(s, d, "region").cross(T(s, d, "nation"))
        .foreach(col("r_name"), col("n_name")).df,
      """SELECT r_name, n_name FROM region CROSS JOIN nation"""),

    // COGROUP two relations BY key (#6): (group, bag, bag), empty bags
    Gate("q12_cogroup", (s, d) =>
      T(s, d, "customer")
        .cogroup(col("c_nationkey"), T(s, d, "supplier"), col("s_nationkey"))
        .foreach(col("group").as("nationkey"),
                 SIZE(col("customer")).as("n_cust"),
                 SIZE(col("supplier")).as("n_supp")).df,
      """SELECT coalesce(c.nk, s.nk) AS nationkey,
                coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
               FROM customer GROUP BY 1) c
         FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp
               FROM supplier GROUP BY 1) s ON c.nk = s.nk"""),

    // ORDER BY + LIMIT (#9/#11): Catalyst plans TakeOrderedAndProject
    Gate("q13_order_limit", (s, d) =>
      T(s, d, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
                 col("l_linenumber"))
        .limit(10)
        .foreach(col("l_orderkey"), col("l_linenumber"),
                 col("l_extendedprice")).df,
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10"""),

    // RANK r BY col (#10): ties share rank — scalable 2-pass plan, no
    // single-partition window (PORank.java:145-157 design)
    Gate("q14_rank", (s, d) =>
      T(s, d, "customer")
        .rank(Seq(col("c_acctbal") -> false), rankName = "rnk")
        .foreach(col("c_custkey"), col("c_acctbal"), col("rnk")).df,
      """SELECT c_custkey, c_acctbal,
                rank() OVER (ORDER BY c_acctbal DESC) AS rnk
         FROM customer"""),

    // RANK … DENSE (#10): distinct keys ranked, null-safe join back
    Gate("q15_rank_dense", (s, d) =>
      T(s, d, "orders")
        .rank(Seq(col("o_orderpriority") -> true), dense = true,
              rankName = "rnk")
        .foreach(col("o_orderkey"), col("o_orderpriority"), col("rnk")).df,
      """SELECT o_orderkey, o_orderpriority,
                dense_rank() OVER (ORDER BY o_orderpriority) AS rnk
         FROM orders"""),

    // RANK r (row numbers, no BY) — scalable 2-pass design (#10)
    Gate("q16_rank_rownum", (s, d) =>
      T(s, d, "customer")
        .foreach(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
        .rankScalable("rn").df,
      """SELECT row_number() OVER (ORDER BY c_custkey) AS rn,
                c_custkey, c_name FROM customer"""),

    // DISTINCT (#12)
    Gate("q17_distinct", (s, d) =>
      T(s, d, "lineitem")
        .foreach(col("l_returnflag"), col("l_linestatus")).distinct.df,
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"""),

    // UNION (bag union, NO dedup) (#13)
    Gate("q18_union", (s, d) =>
      T(s, d, "customer").foreach(col("c_custkey").as("k"))
        .union(T(s, d, "supplier").foreach(col("s_suppkey").as("k")))
        .groupBy("k" -> col("k")).agg(COUNT_STAR().as("n")).df,
      """SELECT k, count(*) AS n FROM (
           SELECT c_custkey AS k FROM customer
           UNION ALL SELECT s_suppkey AS k FROM supplier) GROUP BY k"""),

    // UNION ONSCHEMA (align by name, null-pad) (#13)
    Gate("q19_union_onschema", (s, d) =>
      T(s, d, "customer")
        .foreach(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
        .unionOnSchema(
          T(s, d, "supplier")
            .foreach(col("s_suppkey").as("key"), col("s_name").as("sname"))).df,
      """SELECT c_custkey AS key, c_acctbal AS bal, CAST(NULL AS VARCHAR) AS sname
         FROM customer
         UNION ALL
         SELECT s_suppkey, CAST(NULL AS DOUBLE), s_name FROM supplier"""),

    // SPLIT INTO … IF … OTHERWISE (#14): branches unioned with labels so
    // one DataFrame exercises all three outputs (input persisted once)
    Gate("q20_split", (s, d) => {
      val o = T(s, d, "orders")
      val hi = col("o_totalprice") > 200000
      val lo = col("o_totalprice") < 50000
      val parts = o.split("hi" -> hi, "lo" -> lo,
                          "mid" -> o.splitOtherwise(hi, lo))
      parts("hi").foreach(lit("hi").as("branch"), col("o_orderkey"))
        .union(parts("lo").foreach(lit("lo").as("branch"), col("o_orderkey")))
        .union(parts("mid").foreach(lit("mid").as("branch"), col("o_orderkey")))
        .groupBy("branch" -> col("branch")).agg(COUNT_STAR().as("n")).df
    },
      """SELECT branch, count(*) AS n FROM (
           SELECT CASE WHEN o_totalprice > 200000 THEN 'hi'
                       WHEN o_totalprice < 50000 THEN 'lo'
                       ELSE 'mid' END AS branch
           FROM orders) GROUP BY branch"""),

    // SAMPLE (#15) — the row SET is nondeterministic, but the sample SIZE
    // is Binomial(n, f): emit n plus a 4-sigma interval verdict so the
    // sampler is oracle-checked statistically (P[spurious fail] ≈ 6e-5)
    Gate("q21_sample", (s, d) => {
      val li = T(s, d, "lineitem").df
      val f = 0.1
      val k = li.sample(f).agg(count(lit(1)).as("k"))
      val n = li.agg(count(lit(1)).as("n"))
      k.crossJoin(n).select(
        col("n"),
        (abs(col("k") - col("n") * f) <=
          lit(4.0) * sqrt(col("n") * f * (1 - f))).as("within_4sigma"))
    },
      // the Spark side computes within_4sigma from its own sample count; the
      // oracle pins n exactly and asserts the binomial bound held
      """SELECT count(*) AS n, true AS within_4sigma FROM lineitem"""),

    // CUBE (#16)
    Gate("q22_cube", (s, d) =>
      T(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))(
          round(SUM(col("l_quantity")), 2).as("sum_qty"),
          COUNT_STAR().as("n")).df,
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),

    // ROLLUP (#16)
    Gate("q23_rollup", (s, d) =>
      T(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))(
          COUNT_STAR().as("n"),
          round(SUM(col("o_totalprice")), 2).as("volume")).df,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                round(sum(o_totalprice), 2) AS volume
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""),

    // FLATTEN(bag) round-trip (#4 FLATTEN; empty bags disappear)
    Gate("q24_flatten", (s, d) =>
      T(s, d, "lineitem")
        .foreach(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .as("items")
        .groupBy("okey" -> col("l_orderkey")).bag()
        .foreach(col("items"))
        .flatten("items")
        .foreach(col("l_orderkey"), col("l_linenumber"), col("l_quantity")).df,
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"""),

    // semi-join (COGROUP+IsEmpty==false idiom → native left_semi, §2.2)
    Gate("q25_semijoin", (s, d) =>
      T(s, d, "customer")
        .semiJoin(T(s, d, "orders").as("o")
                    .foreach(col("o_custkey").as("c_custkey")),
                  Seq("c_custkey"))
        .groupBy("c_mktsegment" -> col("c_mktsegment"))
        .agg(COUNT_STAR().as("n")).df,
      """SELECT c_mktsegment, count(*) AS n FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         GROUP BY c_mktsegment"""),

    // anti-join (PigMix L5: COGROUP + IsEmpty → native left_anti):
    // customers with no URGENT order
    Gate("q26_antijoin", (s, d) =>
      T(s, d, "customer")
        .antiJoin(T(s, d, "orders")
                    .filter(col("o_orderpriority") === "1-URGENT").as("o")
                    .foreach(col("o_custkey").as("c_custkey")),
                  Seq("c_custkey"))
        .foreach(col("c_custkey"), col("c_name")).df,
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')"""),

    // scalar projection (1-row relation as scalar; ScalarExpression)
    Gate("q27_scalar", (s, d) =>
      T(s, d, "customer")
        .withScalar("avg_bal", avg(col("c_acctbal")))
        .filter(col("c_acctbal") > col("avg_bal"))
        .groupBy("c_nationkey" -> col("c_nationkey"))
        .agg(COUNT_STAR().as("n")).df,
      """SELECT c_nationkey, count(*) AS n FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
         GROUP BY c_nationkey"""),

    // STREAM r THROUGH 'cat' (#17): per-partition external process pipe
    Gate("q28_stream", (s, d) =>
      T(s, d, "lineitem")
        .foreach(col("l_returnflag"), col("l_quantity"))
        .streamThrough(Seq("cat"), StructType(Seq(
          StructField("l_returnflag", StringType),
          StructField("l_quantity", DoubleType))))
        .groupBy("l_returnflag" -> col("l_returnflag"))
        .agg(round(SUM(col("l_quantity")), 2).as("sum_qty"),
             COUNT_STAR().as("n")).df,
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag"""),

    // STREAM with file-handle redirection (§2.1 #17; HandleSpec /
    // File{Input,Output}Handler): the partition lands in scratch/part_in
    // before exec, the command reads+writes files itself, and the
    // relation comes from scratch/part_out — same rows as q28, so the
    // same oracle pins the whole redirection path
    Gate("q79_stream_file", (s, d) =>
      T(s, d, "lineitem")
        .foreach(col("l_returnflag"), col("l_quantity"))
        .streamThroughIo("cat part_in > part_out", StructType(Seq(
          StructField("l_returnflag", StringType),
          StructField("l_quantity", DoubleType))),
          graft.frontend.StreamIo.Spec(
            input = Some(graft.frontend.StreamIo.Handle("part_in")),
            outputs = Seq(graft.frontend.StreamIo.Handle("part_out"))))
        .groupBy("l_returnflag" -> col("l_returnflag"))
        .agg(round(SUM(col("l_quantity")), 2).as("sum_qty"),
             COUNT_STAR().as("n")).df,
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag"""),

    // ASSERT r BY cond (#19) — holds on this data, so acts as a pass-through
    Gate("q29_assert", (s, d) =>
      T(s, d, "lineitem")
        .assertBy(col("l_quantity") >= 0, "negative quantity")
        .groupBy("l_returnflag" -> col("l_returnflag"))
        .agg(COUNT_STAR().as("n")).df,
      """SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"""),

    // TOP(n, field, bag) (§2.6) — grouped top-k; windowed form (the bag
    // form stays exercised by q57/BuiltinsSpec)
    Gate("q30_top", (s, d) =>
      T(s, d, "orders")
        .foreach(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .as("ob")
        .groupBy("ck" -> col("o_custkey"))
        .topK(2, col("o_totalprice").desc, col("o_orderkey"))
        .foreach(col("o_custkey"), col("o_orderkey"), col("o_totalprice")).df,
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 2"""),

    // FLATTEN feeding a JOIN on a per-row key (PigMix L2 shape): the
    // plans.PushFlattenPastJoin rewrite defers the explode above the
    // join so the shuffle carries the pre-explode rows; same multiset
    // out — this gate pins the rewritten plan's answers
    Gate("q73_flatten_join", (s, d) =>
      T(s, d, "orders")
        .foreach(col("o_custkey"),
                 split(col("o_orderpriority"), "-").as("tok"))
        .flatten("tok")
        .joinOn(T(s, d, "customer")
                  .foreach(col("c_custkey"), col("c_mktsegment")),
                col("o_custkey"), col("c_custkey"))
        .groupBy("c_mktsegment" -> col("c_mktsegment"),
                 "tok" -> col("tok"))
        .agg(COUNT_STAR().as("n")).df,
      """SELECT c_mktsegment, tok, count(*) AS n FROM (
           SELECT o_custkey,
                  unnest(str_split(o_orderpriority, '-')) AS tok
           FROM orders)
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment, tok"""),

    // JOIN USING 'merge-sparse' (§2.2): sparse probe side (top-price
    // orders) key-filters the big side's scan through a bloom built on
    // the probe keys, then merge-joins — the Spark re-expression of the
    // reference's index-seek right-side read (POMergeSparseJoin)
    Gate("q74_merge_sparse", (s, d) =>
      T(s, d, "orders")
        .filter(col("o_totalprice") > 450000)
        .foreach(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
        .join(T(s, d, "lineitem"), Seq("l_orderkey"),
              joinType = "inner", strategy = "merge-sparse")
        .groupBy("l_orderkey" -> col("l_orderkey"))
        .agg(COUNT_STAR().as("n_items"),
             SUM(col("l_quantity")).as("sum_qty")).df,
      """SELECT l_orderkey, count(*) AS n_items, sum(l_quantity) AS sum_qty
         FROM (SELECT o_orderkey AS l_orderkey FROM orders
               WHERE o_totalprice > 450000)
         JOIN lineitem USING (l_orderkey)
         GROUP BY l_orderkey"""),

    // bloom-pre-filtered join (JOIN … USING 'bloom' / BuildBloom+Bloom
    // pair): the big side is cut down by a codegen might-contain BEFORE
    // its shuffle, then the exact join keeps the result oracle-equal —
    // false positives only cost shuffle bytes, never correctness
    Gate("q84_bloom_join", (s, d) => {
      val li = T(s, d, "lineitem").df
      val sup = T(s, d, "supplier").df.filter(col("s_nationkey") === 3)
      graft.operators.BloomJoin.join(li, sup, "l_suppkey", "s_suppkey",
          expectedItems = 100000L, fpp = 0.01)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_items"),
             round(sum(col("l_extendedprice")), 2).as("revenue"))
    },
      """SELECT s_suppkey, count(*) AS n_items,
                round(sum(l_extendedprice), 2) AS revenue
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_nationkey = 3
         GROUP BY s_suppkey"""),

    // Pig Latin frontend end-to-end: script → parser → DSL → Catalyst
    Gate("q53_piglatin", (s, d) => {
      GraftSession.tune(s)
      graft.frontend.PigRunner(s).run(s"""
        li = LOAD '$d/lineitem.parquet';
        f  = FILTER li BY l_quantity > 20.0;
        g  = GROUP f BY (l_returnflag, l_linestatus);
        r  = FOREACH g GENERATE group.l_returnflag AS l_returnflag,
                                group.l_linestatus AS l_linestatus,
                                COUNT(f) AS cnt,
                                SUM(f.l_extendedprice) AS sum_price;
        o  = ORDER r BY l_returnflag, l_linestatus;
      """).apply("o").df
        .withColumn("sum_price", round(col("sum_price"), 2))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem WHERE l_quantity > 20.0
         GROUP BY l_returnflag, l_linestatus"""),

    // set ops beyond the reference (SURVEY §2.9 bonus): INTERSECT/EXCEPT
    Gate("q56_set_ops", (s, d) => {
      val cn = T(s, d, "customer").foreach(col("c_nationkey").as("nk")).distinct
      val sn = T(s, d, "supplier").foreach(col("s_nationkey").as("nk")).distinct
      Relation(cn.df.intersect(sn.df), "both")
        .foreach(col("nk"), lit("both").as("which"))
        .union(Relation(cn.df.except(sn.df), "conly")
          .foreach(col("nk"), lit("cust_only").as("which"))).df
    },
      """SELECT nk, 'both' AS which FROM
           (SELECT DISTINCT c_nationkey AS nk FROM customer
            INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT nk, 'cust_only' AS which FROM
           (SELECT DISTINCT c_nationkey AS nk FROM customer
            EXCEPT SELECT DISTINCT s_nationkey FROM supplier)"""),

    // secondary sort (SecondaryKeyOptimizer analog): in-bag order drives
    // an order-sensitive aggregate — status history string per customer
    Gate("q57_secondary_sort", (s, d) =>
      T(s, d, "orders")
        .foreach(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
                 col("o_orderstatus"))
        .as("oh")
        .groupBy("o_custkey" -> col("o_custkey"))
        .bagSorted2("o_orderdate", asc1 = true, "o_orderkey", asc2 = true)
        .foreach(col("o_custkey"),
          array_join(transform(col("oh"), t => t.getField("o_orderstatus")), "")
            .as("status_seq"),
          element_at(col("oh"), 1).getField("o_orderdate").as("first_date")).df,
      """SELECT o_custkey,
                string_agg(o_orderstatus, ''
                  ORDER BY o_orderdate, o_orderkey) AS status_seq,
                min(o_orderdate) AS first_date
         FROM orders GROUP BY o_custkey"""),

    // full window-function surface (superset of Pig's RANK, SURVEY §2.4)
    Gate("q58_window_funcs", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      T(s, d, "events").foreach(
        col("event_id"),
        round(sum(col("value")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)), 2).as("running"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        row_number().over(w).cast(LongType).as("seq")).df
    },
      """SELECT event_id,
                round(sum(value) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type,
                CAST(row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS BIGINT) AS seq
         FROM events"""),

    // theta/range join (bonus over the reference — Pig expresses this as
    // CROSS+FILTER; Spark plans a broadcast nested-loop join directly)
    Gate("q60_range_join", (s, d) => {
      val ranges = s.createDataFrame(Seq(
        ("tiny", 0.0, 50000.0), ("small", 50000.0, 100000.0),
        ("mid", 100000.0, 200000.0), ("large", 200000.0, 300000.0),
        ("huge", 300000.0, 1e9))).toDF("bucket", "lo", "hi")
      T(s, d, "orders")
        .joinTheta(Relation(ranges, "ranges"),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("bucket" -> col("bucket"))
        .agg(COUNT_STAR().as("n"),
             round(SUM(col("o_totalprice")), 2).as("volume")).df
    },
      """SELECT bucket, count(*) AS n, round(sum(o_totalprice), 2) AS volume
         FROM orders JOIN (
           VALUES ('tiny', 0.0, 50000.0), ('small', 50000.0, 100000.0),
                  ('mid', 100000.0, 200000.0), ('large', 200000.0, 300000.0),
                  ('huge', 300000.0, 1000000000.0)) r(bucket, lo, hi)
           ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY bucket"""),

    // nested/multi-DISTINCT aggregation (PigMix L4/L15 shape)
    Gate("q61_multi_distinct", (s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_returnflag" -> col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"),
             COUNT_STAR().as("n")).df,
      """SELECT l_returnflag,
                count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag"""),

    // Algebraic/Accumulator UDAF surface in anger: registered aggregator
    // with Pig COUNT null semantics, invoked from SQL (DEFINE-style)
    Gate("q66_udaf", (s, d) => {
      GraftSession.tune(s)
      graft.functions.UdfSurface.defineCountNonNull(s, "count_nn")
      T(s, d, "orders").df.createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderstatus, count_nn(o_custkey) AS n_cust,
                      count(*) AS n
               FROM orders_v GROUP BY o_orderstatus""")
    },
      """SELECT o_orderstatus, count(o_custkey) AS n_cust, count(*) AS n
         FROM orders GROUP BY o_orderstatus"""),

    // Pig Latin GROUP ALL fused to a global aggregate — no whole-relation
    // bag in one reducer (the round-1 scale cliff; PlanSpec asserts the
    // fused plan)
    Gate("q67_piglatin_groupall", (s, d) => {
      GraftSession.tune(s)
      graft.frontend.PigRunner(s).run(s"""
        li = LOAD '$d/lineitem.parquet';
        g  = GROUP li ALL;
        r  = FOREACH g GENERATE COUNT(li) AS cnt,
                                ROUND_TO(SUM(li.l_quantity), 2) AS sum_qty,
                                ROUND_TO(AVG(li.l_discount), 6) AS avg_disc,
                                MAX(li.l_extendedprice) AS max_price;
      """).apply("r").df
    },
      """SELECT count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
                round(avg(l_discount), 6) AS avg_disc,
                max(l_extendedprice) AS max_price
         FROM lineitem"""),

    // ASSERT statement + COGROUP ... INNER semantics (empty-bag groups of
    // the INNER input dropped; LOCogroup GROUPTYPE :50-54)
    Gate("q68_piglatin_assert_inner", (s, d) => {
      GraftSession.tune(s)
      graft.frontend.PigRunner(s).run(s"""
        c = LOAD '$d/customer.parquet';
        s = LOAD '$d/supplier.parquet';
        ASSERT c BY c_custkey >= 0, 'keys must be non-negative';
        cg = COGROUP c BY c_nationkey, s BY s_nationkey INNER;
        r  = FOREACH cg GENERATE group AS nationkey, COUNT(c) AS n_cust,
                                 COUNT(s) AS n_supp;
      """).apply("r").df
    },
      """SELECT s.nk AS nationkey, coalesce(n_cust, 0) AS n_cust, n_supp
         FROM (SELECT s_nationkey AS nk, count(*) AS n_supp
               FROM supplier GROUP BY 1) s
         LEFT JOIN (SELECT c_nationkey AS nk, count(*) AS n_cust
               FROM customer GROUP BY 1) c ON c.nk = s.nk"""),

    // PigMix-L4 shape: nested DISTINCT over a bag field path + nested
    // FOREACH/CROSS surface inside the block
    Gate("q69_piglatin_nested", (s, d) => {
      GraftSession.tune(s)
      graft.frontend.PigRunner(s).run(s"""
        o = LOAD '$d/orders.parquet';
        g = GROUP o BY o_custkey;
        r = FOREACH g {
              pr = DISTINCT o.o_orderpriority;
              GENERATE group AS o_custkey, COUNT(o) AS n_orders,
                       SIZE(pr) AS n_prio;
            };
      """).apply("r").df
    },
      """SELECT o_custkey, count(*) AS n_orders,
                CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
         FROM orders GROUP BY o_custkey"""),

    // positional bag refs in the fused GROUP+FOREACH path: $1 on the
    // grouped (group, bag) frame is the BAG — COUNT($1) must apply Pig's
    // null rule (skip tuples whose first field is null), not count some
    // input column (the round-2 ADVICE fusion hazard, now pinned by oracle)
    Gate("q70_piglatin_posref", (s, d) => {
      GraftSession.tune(s)
      graft.frontend.PigRunner(s).run(s"""
        o = LOAD '$d/orders.parquet';
        p = FOREACH o GENERATE
              (o_totalprice > 150000.0 ? NULL : o_orderstatus) AS flag,
              o_orderpriority AS prio;
        g = GROUP p BY prio;
        r = FOREACH g GENERATE group AS prio, COUNT($$1) AS cnt,
                               COUNT_STAR($$1) AS n;
      """).apply("r").df
    },
      """SELECT o_orderpriority AS prio,
                count(CASE WHEN o_totalprice > 150000.0 THEN NULL
                           ELSE o_orderstatus END) AS cnt,
                count(*) AS n
         FROM orders GROUP BY 1"""),

    // piggybank Over/Stitch window idiom in a nested FOREACH — compiles to
    // a Spark window over the pre-group input (no bag); running balance
    // per nation, ordered by the unique customer key so the running sum is
    // deterministic
    Gate("q71_piglatin_over", (s, d) => {
      GraftSession.tune(s)
      graft.frontend.PigRunner(s).run(s"""
        c = LOAD '$d/customer.parquet';
        g = GROUP c BY c_nationkey;
        r = FOREACH g {
              ord = ORDER c BY c_custkey;
              GENERATE FLATTEN(Stitch(ord,
                Over(ord.c_acctbal, 'sum(double)')));
            };
        f = FOREACH r GENERATE c_custkey, c_nationkey,
              ROUND_TO(result, 2) AS running_bal;
      """).apply("f").df
    },
      """SELECT c_custkey, c_nationkey,
                round(sum(c_acctbal) OVER (
                  PARTITION BY c_nationkey ORDER BY c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_bal
         FROM customer""")
  )
}
