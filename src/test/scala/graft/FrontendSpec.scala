package graft

import org.apache.spark.sql.functions._
import graft.frontend.PigRunner

/** Pig Latin frontend: classic scripts (the reference's e2e shapes —
  * Checkin-1/2 group-agg + join, wordcount, split/union) executed through
  * parser → DSL → Catalyst, asserted against direct DataFrame results. */
class FrontendSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("checkin-1 shape: load AS / filter / group / foreach aggs / order") {
    val out = PigRunner(spark).run(s"""
      li = LOAD '$dir/lineitem.parquet';
      f  = FILTER li BY l_quantity > 45.0 AND l_returnflag == 'R';
      g  = GROUP f BY l_returnflag;
      s  = FOREACH g GENERATE group AS flag, COUNT(f) AS n,
                              SUM(f.l_quantity) AS qty;
    """).apply("s").df.head()
    val exp = sf("lineitem")
      .filter($"l_quantity" > 45.0 && $"l_returnflag" === "R")
      .agg(count(lit(1)), sum($"l_quantity")).head()
    assert(out.getString(0) == "R")
    assert(out.getLong(1) == exp.getLong(0))
    assert(math.abs(out.getDouble(2) - exp.getDouble(1)) < 1e-6)
  }

  test("wordcount: TOKENIZE + FLATTEN + group + count + order + limit") {
    val out = PigRunner(spark).run(s"""
      docs  = LOAD '$dir/documents.parquet';
      words = FOREACH docs GENERATE FLATTEN(TOKENIZE(text));
      g     = GROUP words BY token;
      cnt   = FOREACH g GENERATE group AS word, COUNT(words) AS n;
      top   = ORDER cnt BY n DESC, word;
      lim   = LIMIT top 5;
    """).apply("lim").df.collect()
    val exp = sf("documents")
      .select(explode(split(trim($"text"), "[ \\\",()*]")).as("w"))
      .filter(length($"w") > 0)
      .groupBy("w").count().orderBy($"count".desc, $"w").limit(5)
      .collect()
    assert(out.map(_.getString(0)).toSeq == exp.map(_.getString(0)).toSeq)
    assert(out.map(_.getLong(1)).toSeq == exp.map(_.getLong(1)).toSeq)
  }

  test("checkin-2 shape: join + broadcast hint + foreach + distinct") {
    val out = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      c = LOAD '$dir/customer.parquet';
      j = JOIN o BY o_custkey, c BY c_custkey USING 'replicated';
      p = FOREACH j GENERATE c_mktsegment, o_orderstatus;
      d = DISTINCT p;
    """).apply("d").df
    val exp = sf("orders").join(sf("customer"),
        $"o_custkey" === $"c_custkey")
      .select("c_mktsegment", "o_orderstatus").distinct()
    assert(out.count() == exp.count())
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("outer join with collision disambiguation (a::x ≈ x)") {
    val out = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      o = LOAD '$dir/orders.parquet';
      j = JOIN c BY c_custkey LEFT OUTER, o BY o_custkey;
      g = GROUP j BY c_custkey;
      n = FOREACH g GENERATE group AS c_custkey, COUNT(j.o_orderkey) AS n_orders;
    """).apply("n").df
    val exp = sf("customer").join(sf("orders"),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy("c_custkey").agg(count($"o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == exp)
  }

  test("split + union onschema + sample + rank") {
    val runner = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      SPLIT o INTO hi IF o_totalprice > 200000.0, lo OTHERWISE;
      hi2 = FOREACH hi GENERATE o_orderkey, o_totalprice;
      lo2 = FOREACH lo GENERATE o_orderkey;
      u  = UNION ONSCHEMA hi2, lo2;
      r  = RANK hi2 BY o_totalprice DESC;
    """)
    val total = sf("orders").count()
    assert(runner("hi2").df.count() + runner("lo2").df.count() == total)
    assert(runner("u").df.count() == total)
    // rank column is rank_<inputAlias> (LORank.java:152)
    val top = runner("r").df.orderBy("rank_hi2").head()
    val expTop = sf("orders").orderBy($"o_totalprice".desc).head()
    assert(top.getLong(top.fieldIndex("o_orderkey")) ==
           expTop.getLong(expTop.fieldIndex("o_orderkey")))
  }

  test("cogroup with empty sides, bincond, IsEmpty") {
    val out = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      s = LOAD '$dir/supplier.parquet';
      cg = COGROUP c BY c_nationkey, s BY s_nationkey;
      r  = FOREACH cg GENERATE group AS nk,
             (IsEmpty(s) ? -1L : SIZE(s)) AS n_supp, COUNT(c) AS n_cust;
    """).apply("r").df
    val nSupp = out.agg(sum(when($"n_supp" > 0, $"n_supp"))).head().getLong(0)
    assert(nSupp == sf("supplier").count())
    assert(out.count() == 25)
  }

  test("cast, case, map lookup, positional refs, matches") {
    val out = PigRunner(spark).run(s"""
      e = LOAD '$dir/events.parquet';
      p = FOREACH e GENERATE $$0 AS event_id,
            (CASE WHEN event_type MATCHES 'click.*' THEN 'c' ELSE 'x' END) AS k,
            (long) value AS lv;
      f = FILTER p BY k == 'c';
    """).apply("f").df
    val exp = sf("events").filter($"event_type".rlike("^(?:click.*)$")).count()
    assert(out.count() == exp)
  }

  test("group all + store/load roundtrip via PigStorage csv") {
    val tmp = java.nio.file.Files.createTempDirectory("pigout").toString
    PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      p = FOREACH n GENERATE n_nationkey, n_name;
      STORE p INTO '$tmp/out' USING PigStorage(',');
    """)
    val back = PigRunner(spark).run(s"""
      x = LOAD '$tmp/out' USING PigStorage(',') AS (k:int, name:chararray);
      g = GROUP x ALL;
      c = FOREACH g GENERATE COUNT(x) AS n;
    """).apply("c").df.head()
    assert(back.getLong(0) == 25L)
  }

  test("bare LOAD of default-STOREd parquet through a glob path") {
    // fs.exists is false on glob metacharacters — the sniffer must
    // globStatus-resolve first or the parquet falls through to TSV
    val tmp = java.nio.file.Files.createTempDirectory("pqglob").toString
    PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      p = FOREACH n GENERATE n_nationkey, n_name;
      STORE p INTO '$tmp/out';
    """)
    val viaGlob = PigRunner(spark).run(s"""
      x = LOAD '$tmp/{out}';
      g = GROUP x ALL;
      c = FOREACH g GENERATE COUNT(x) AS n;
    """).apply("c").df.head()
    assert(viaGlob.getLong(0) == 25L)
    val viaList = PigRunner(spark).run(s"""
      x = LOAD '$tmp/out,$tmp/out';
      g = GROUP x ALL;
      c = FOREACH g GENERATE COUNT(x) AS n;
    """).apply("c").df.head()
    assert(viaList.getLong(0) == 50L) // comma list reads BOTH paths
  }

  test("nested FOREACH block: filter/order/limit/distinct over bags") {
    val out = PigRunner(spark).run(s"""
      li = LOAD '$dir/lineitem.parquet';
      g  = GROUP li BY l_orderkey;
      t  = FOREACH g {
             big = FILTER li BY l_quantity > 10.0;
             srt = ORDER big BY l_quantity DESC, l_linenumber;
             top = LIMIT srt 2;
             flags = DISTINCT li;
             GENERATE group AS l_orderkey, COUNT(li) AS n_items,
                      COUNT(big) AS n_big, FLATTEN(top);
           };
    """).apply("t").df
    // per-order: at most 2 rows, each with quantity > 10, sorted desc
    import org.apache.spark.sql.expressions.Window
    val expect = sf("lineitem").filter($"l_quantity" > 10.0)
      .withColumn("rn", row_number().over(Window.partitionBy("l_orderkey")
        .orderBy($"l_quantity".desc, $"l_linenumber")))
      .filter($"rn" <= 2).count()
    assert(out.count() == expect)
    val one = out.filter(col("n_big") >= 2).head()
    assert(one.getDouble(one.fieldIndex("l_quantity")) > 10.0)
  }

  test("STREAM THROUGH external command with AS schema") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      p = FOREACH n GENERATE n_nationkey, n_name;
      s = STREAM p THROUGH 'cat' AS (k:int, name:chararray);
      f = FILTER s BY k < 5;
    """).apply("f").df
    assert(out.count() == 5)
  }

  test("PARALLEL clause applies explicit partitioning") {
    val out = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      d = DISTINCT o PARALLEL 3;
    """).apply("d").df
    assert(out.rdd.getNumPartitions == 3)
    assert(out.count() == sf("orders").count())
  }

  test("string-literal escapes decode (PigStorage('\\t') means TAB)") {
    val tmp = java.nio.file.Files.createTempDirectory("esc").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/t.tsv"), "alice\t20\nbob\t30\n")
    val out = PigRunner(spark).run(s"""
      a = LOAD '$tmp/t.tsv' USING PigStorage('\\t') AS (name:chararray, age:int);
      f = FILTER a BY age > 25;
    """).apply("f").df.collect()
    assert(out.length == 1 && out(0).getString(0) == "bob")
  }

  test("FLATTEN(TOKENIZE(x)) AS word names the output column") {
    val out = PigRunner(spark).run(s"""
      d = LOAD '$dir/documents.parquet';
      w = FOREACH d GENERATE FLATTEN(TOKENIZE(text)) AS word;
      g = GROUP w BY word;
      c = FOREACH g GENERATE group AS word, COUNT(w) AS n;
    """).apply("c").df
    assert(out.columns.toSeq == Seq("word", "n") && out.count() > 0)
  }

  test("GENERATE a::k, b::k yields distinct auto-named columns") {
    val out = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      o = LOAD '$dir/orders.parquet';
      j = JOIN c BY c_custkey, o BY o_custkey;
      p = FOREACH j GENERATE c::c_custkey, o::o_custkey;
    """).apply("p").df
    assert(out.columns.distinct.length == 2)
  }

  test("LOAD AS wider than the file null-pads missing fields") {
    val tmp = java.nio.file.Files.createTempDirectory("pad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/two.csv"), "a,1\nb,2\n")
    val out = PigRunner(spark).run(s"""
      x = LOAD '$tmp/two.csv' USING PigStorage(',')
          AS (s:chararray, v:int, extra:double);
    """).apply("x").df
    assert(out.filter(col("extra").isNull).count() == 2)
  }

  test("reassigned alias: last-assigned wins for runScript") {
    val df = PigRunner.runScript(spark, s"""
      a = LOAD '$dir/nation.parquet';
      b = FILTER a BY n_nationkey < 10;
      a = LIMIT b 3;
    """)
    assert(df.count() == 3)
  }

  test("macros: DEFINE ... RETURNS expands textually (PigMacro design)") {
    val out = PigRunner(spark).run(s"""
      DEFINE by_status(rel, st) RETURNS filtered {
        $$filtered = FILTER $$rel BY o_orderstatus == '$$st';
      };
      o  = LOAD '$dir/orders.parquet';
      fo = by_status(o, 'F');
      g  = GROUP fo ALL;
      c  = FOREACH g GENERATE COUNT(fo) AS n;
    """).apply("c").df.head()
    val exp = sf("orders").filter($"o_orderstatus" === "F").count()
    assert(out.getLong(0) == exp)
  }

  test("%default params + DEFINE command alias for STREAM") {
    val out = PigRunner(spark).run(s"""
      %default minqty 45.0
      DEFINE pass_through 'cat';
      li = LOAD '$dir/lineitem.parquet';
      p  = FOREACH li GENERATE l_orderkey, l_quantity;
      f  = FILTER p BY l_quantity > $$minqty;
      s  = STREAM f THROUGH pass_through AS (k:long, q:double);
    """).apply("s").df
    val exp = sf("lineitem").filter($"l_quantity" > 45.0).count()
    assert(out.count() == exp)
  }

  test("scalar projection: 1-row alias used as a scalar (ReadScalars)") {
    val out = PigRunner(spark).run(s"""
      c   = LOAD '$dir/customer.parquet';
      g   = GROUP c ALL;
      avgbal = FOREACH g GENERATE AVG(c.c_acctbal) AS mean;
      rich = FILTER c BY c_acctbal > avgbal.mean;
    """).apply("rich").df
    val mean = sf("customer").agg(avg($"c_acctbal")).head().getDouble(0)
    val exp = sf("customer").filter($"c_acctbal" > mean).count()
    assert(out.count() == exp)
  }

  test("SUM over an empty bag is null; scalar from empty relation is null") {
    val out = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      s = LOAD '$dir/supplier.parquet';
      sf = FILTER s BY s_suppkey < 0;
      cg = COGROUP c BY c_nationkey, sf BY s_nationkey;
      r  = FOREACH cg GENERATE group AS nk, SUM(sf.s_acctbal) AS empty_sum;
    """).apply("r").df
    assert(out.filter(col("empty_sum").isNull).count() == out.count())
    // empty 1-row-relation scalar → null → comparison null → all dropped
    val out2 = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      e = FILTER c BY c_custkey < 0;
      m = FOREACH e GENERATE c_acctbal;
      f = FILTER c BY c_acctbal > m.c_acctbal;
    """).apply("f").df
    assert(out2.count() == 0)
  }

  test("%declare overrides an earlier %default") {
    val out = PigRunner(spark).run(s"""
      %default seg 'BUILDING'
      %declare seg 'MACHINERY'
      c = LOAD '$dir/customer.parquet';
      f = FILTER c BY c_mktsegment == '$$seg';
    """).apply("f").df
    val exp = sf("customer").filter($"c_mktsegment" === "MACHINERY").count()
    assert(out.count() == exp)
  }

  test("scalar projection errors when relation has >1 row") {
    val ex = intercept[Exception] {
      PigRunner(spark).run(s"""
        c = LOAD '$dir/customer.parquet';
        f = FILTER c BY c_acctbal > c.c_acctbal;
      """)
    }
    assert(ex.getMessage.contains("scalar") || ex.getMessage.contains("1"))
  }

  test("REGISTER of an opaque jar is tolerated; SET applies conf; EXPLAIN runs") {
    val jar = java.nio.file.Files.createTempFile("piggybank", ".jar")
    val out = PigRunner(spark).run(s"""
      REGISTER '$jar';
      SET spark.sql.shuffle.partitions 7;
      n = LOAD '$dir/nation.parquet';
      g = GROUP n BY n_regionkey;
      c = FOREACH g GENERATE group AS rk, COUNT(n) AS cnt;
      EXPLAIN c;
    """).apply("c").df
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    spark.conf.set("spark.sql.shuffle.partitions", "4") // restore
    assert(out.count() == 5)
  }

  test("bincond with a NONDETERMINISTIC condition evaluates it once " +
       "(review: double-drawn RANDOM() could fall through both branches)") {
    val out = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      r = FOREACH c GENERATE (RANDOM() <= 0.5 ? 'x' : 'y') AS pick;
    """).apply("r").df.collect().map(_.getString(0))
    // a re-drawn condition makes ~25% of rows NULL; one draw never does
    assert(out.forall(v => v == "x" || v == "y"),
      s"${out.count(_ == null)} null picks of ${out.length}")
    // and a NULL deterministic condition still yields NULL (Pig 3-valued)
    val n = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      r = FOREACH c GENERATE ((chararray)null == 'x' ? 1 : 2) AS v;
    """).apply("r").df.head()
    assert(n.isNullAt(0))
    // a NONDETERMINISTIC condition with a null operand is ALSO 3-valued
    // (review: the single-eval otherwise-form routed null through the
    // false branch) — RANDOM() <= 2.0 is always true, AND null => null
    val n2 = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      r = FOREACH c GENERATE
            (RANDOM() <= 2.0 AND (chararray)null == 'x' ? 1 : 2) AS v;
    """).apply("r").df.collect()
    assert(n2.forall(_.isNullAt(0)), s"${n2.count(!_.isNullAt(0))} non-null")
  }

  test("inline relation sugar: FOREACH (GROUP a ALL) GENERATE …") {
    val out = PigRunner(spark).run(s"""
      a = LOAD '$dir/nation.parquet';
      b = FOREACH (GROUP a ALL) GENERATE COUNT(a) AS n;
      c = FOREACH (GROUP a BY n_regionkey) GENERATE group AS rk, COUNT(a) AS n;
    """)
    assert(out("b").df.head().getLong(0) == 25L)
    assert(out("c").df.count() == 5L)
  }

  test("a user-registered UDF overrides the engine builtin of the same " +
       "name (reference: registry wins over the builtin catalog)") {
    // LCFIRST is an engine builtin (and NOT a Spark builtin, so the
    // drop below restores a clean session); a deliberate
    // re-registration must win over the engine catalog
    graft.functions.UdfSurface.track("lcfirst")
    spark.udf.register("lcfirst", (s: String) => s"<<$s>>")
    try {
      val out = PigRunner(spark).run(s"""
        n = LOAD '$dir/region.parquet';
        r = FOREACH n GENERATE LCFIRST(r_name) AS u;
      """).apply("r").df.head().getString(0)
      assert(out.startsWith("<<") && out.endsWith(">>"))
    } finally {
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier("lcfirst"))
    }
    // with the override dropped, the engine builtin is back in charge
    val back = PigRunner(spark).run(s"""
      n = LOAD '$dir/region.parquet';
      r = FOREACH n GENERATE LCFIRST(r_name) AS u;
    """).apply("r").df.head().getString(0)
    assert(!back.startsWith("<<"))
  }

  test("IMPORT inlines a macro file") {
    val f = java.nio.file.Files.createTempFile("macros", ".pig")
    java.nio.file.Files.writeString(f, """
      DEFINE top_n(rel, n) RETURNS limited {
        $limited = LIMIT $rel $n;
      };
    """)
    val out = PigRunner(spark).run(s"""
      IMPORT '${f}';
      n = LOAD '$dir/nation.parquet';
      t = top_n(n, 7);
    """).apply("t").df
    assert(out.count() == 7)
  }

  test("runtime params override %default") {
    val out = PigRunner(spark).run(s"""
      %default seg 'BUILDING'
      c = LOAD '$dir/customer.parquet';
      f = FILTER c BY c_mktsegment == '$$seg';
    """, Map("seg" -> "MACHINERY")).apply("f").df
    val exp = sf("customer").filter($"c_mktsegment" === "MACHINERY").count()
    assert(out.count() == exp)
  }

  test("ASSERT passes silently when the condition holds, fails when not") {
    val ok = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      ASSERT o BY o_totalprice > 0.0, 'price must be positive';
      c = FOREACH o GENERATE o_orderkey;
    """).apply("c").df
    assert(ok.count() == sf("orders").count())
    val ex = intercept[Exception] {
      PigRunner(spark).run(s"""
        o = LOAD '$dir/orders.parquet';
        ASSERT o BY o_totalprice > 100000.0, 'all orders must be big';
        g = GROUP o ALL;
        c = FOREACH g GENERATE COUNT(o) AS n;
      """).apply("c").df.collect()
    }
    assert(ex.getMessage != null)
  }

  test("COGROUP ... INNER drops empty-bag groups (LOCogroup GROUPTYPE)") {
    val runner = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      s = LOAD '$dir/supplier.parquet';
      both  = COGROUP c BY c_nationkey, s BY s_nationkey;
      inner = COGROUP c BY c_nationkey, s BY s_nationkey INNER;
      r     = FOREACH inner GENERATE group AS nk, COUNT(c) AS n_cust;
    """)
    val nWithSupp = sf("supplier").select("s_nationkey").distinct().count()
    assert(runner("both").df.count() == 25)
    assert(runner("inner").df.count() == nWithSupp)
    assert(runner("r").df.count() == nWithSupp)
  }

  test("GROUP USING 'collected' is accepted as a hint; PARTITION BY a " +
       "missing class fails at plan time (reference: " +
       "MapReducePartitionerWrapper resolves the class eagerly)") {
    val out = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      g = GROUP o BY o_custkey USING 'collected';
      r = FOREACH g GENERATE group AS k, COUNT(o) AS n;
    """).apply("r").df
    assert(out.count() == sf("orders").select("o_custkey").distinct().count())
    // a typo'd partitioner class must not be silently dropped
    val e = intercept[Exception] {
      PigRunner(spark).run(s"""
        o = LOAD '$dir/orders.parquet';
        g = GROUP o BY o_custkey PARTITION BY org.my.Part;
      """)
    }
    assert(String.valueOf(e.getMessage).contains("org.my.Part"), e.toString)
  }

  test("LIMIT with a scalar expression argument") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      g = GROUP n ALL;
      tenth = FOREACH g GENERATE COUNT(n) / 5 AS k;
      t = LIMIT n tenth.k;
    """).apply("t").df
    assert(out.count() == 5)
  }

  test("nested FOREACH { } projection and CROSS over bags") {
    val out = PigRunner(spark).run(s"""
      li = LOAD '$dir/lineitem.parquet';
      g  = FOREACH li GENERATE l_orderkey, l_returnflag, l_linestatus;
      gg = GROUP g BY l_orderkey;
      t  = FOREACH gg {
             flags = FOREACH g GENERATE l_returnflag;
             df    = DISTINCT flags;
             stats = FOREACH g GENERATE l_linestatus;
             ds    = DISTINCT stats;
             x     = CROSS df, ds;
             GENERATE group AS okey, COUNT(df) AS n_flags, COUNT(x) AS n_pairs;
           };
    """).apply("t").df
    import spark.implicits._
    val exp = sf("lineitem").groupBy("l_orderkey")
      .agg(countDistinct("l_returnflag").as("nf"),
           countDistinct("l_linestatus").as("ns"))
      .select(col("l_orderkey"), col("nf"), (col("nf") * col("ns")).as("np"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val got = out.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp)
  }

  test("PigMix-L4 shape: nested DISTINCT over a bag field path") {
    val out = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      g = GROUP o BY o_custkey;
      r = FOREACH g {
            pr = DISTINCT o.o_orderpriority;
            GENERATE group AS ck, COUNT(o) AS n, SIZE(pr) AS n_prio;
          };
    """).apply("r").df
    import spark.implicits._
    val exp = sf("orders").groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
           countDistinct("o_orderpriority").as("np"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val got = out.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp)
  }

  test("DEFINE function alias with ctor args (func_spec form)") {
    val out = PigRunner(spark).run(s"""
      DEFINE first3 org.apache.pig.builtin.SUBSTRING(0, 3);
      DEFINE up UPPER;
      c = LOAD '$dir/customer.parquet';
      p = FOREACH c GENERATE first3(c_name) AS pre, up(c_mktsegment) AS seg;
    """).apply("p").df.head()
    assert(out.getString(0).length == 3)
    assert(out.getString(1) == out.getString(1).toUpperCase)
  }

  test("rollup via CUBE BY ROLLUP + flatten of struct group") {
    val out = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      cb = CUBE o BY ROLLUP(o_orderstatus, o_orderpriority);
      r = FOREACH cb GENERATE o_orderstatus, o_orderpriority, COUNT(o) AS n;
    """).apply("r").df
    val exp = sf("orders").rollup("o_orderstatus", "o_orderpriority")
      .count().count()
    assert(out.count() == exp)
  }

  test("mixed CUBE(x), ROLLUP(y) clauses = grouping-set cross product") {
    val out = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      cb = CUBE o BY CUBE(o_orderstatus), ROLLUP(o_orderpriority);
      r = FOREACH cb GENERATE o_orderstatus, o_orderpriority, COUNT(o) AS n;
    """).apply("r").df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // cross product of cube{(),(status)} × rollup{(),(priority)}
    sf("orders").createOrReplaceTempView("ord_msets")
    val exp = spark.sql("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM ord_msets
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
               (o_orderstatus), (o_orderpriority), ())""").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == exp)
    // computed dim (materialized as d1): sets (status,d1),(status),(d1),()
    val expDim = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      cb = CUBE o BY CUBE(o_orderstatus), ROLLUP(o_custkey % 2);
      r = FOREACH cb GENERATE o_orderstatus, d1, COUNT(o) AS n;
    """).apply("r").df
    assert(expDim.count() == 3 * 2 + 3 + 2 + 1)
  }

  test("nested LIMIT with an expression: per-group top-fraction cut") {
    val out = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      g = GROUP o BY o_orderstatus;
      r = FOREACH g { s = ORDER o BY o_totalprice DESC;
                      t = LIMIT s (int)(COUNT(o) * 0.01);
                      GENERATE group AS st, COUNT(t) AS n; };
    """).apply("r").df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = sf("orders").groupBy($"o_orderstatus").count().collect()
      .map(r => r.getString(0) -> (r.getLong(1) / 100)).toMap
    assert(out == exp)
    // literal arithmetic still folds
    val lit2 = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      g = GROUP o BY o_orderstatus;
      r = FOREACH g { s = ORDER o BY o_totalprice DESC; t = LIMIT s 1 + 1;
                      GENERATE group, COUNT(t) AS n; };
    """).apply("r").df.collect()
    assert(lit2.forall(_.getLong(1) == 2L))
  }

  test("STREAM THROUGH backtick command; DEFINE alias with backticks") {
    val direct = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      p = FOREACH n GENERATE n_name;
      s = STREAM p THROUGH `tr a-z A-Z` AS (up:chararray);
    """).apply("s").df.collect().map(_.getString(0)).toSet
    assert(direct.nonEmpty && direct.forall(v => v == v.toUpperCase))
    val defined = PigRunner(spark).run(s"""
      DEFINE up `tr a-z A-Z`;
      n = LOAD '$dir/nation.parquet';
      p = FOREACH n GENERATE n_name;
      s = STREAM p THROUGH up AS (u:chararray);
    """).apply("s").df.collect().map(_.getString(0)).toSet
    assert(defined == direct)
  }

  test("RANK output column is rank_<inputAlias> (LORank naming)") {
    val out = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      r = RANK c BY c_acctbal DESC DENSE;
      f = FILTER r BY rank_c <= 3;
    """).apply("f").df
    assert(out.columns.contains("rank_c"))
    assert(out.count() >= 3)
  }

  test("FLATTEN AS (a,b) multi-names; expansion keeps FLATTEN's position") {
    val out = PigRunner(spark).run(s"""
      li = LOAD '$dir/lineitem.parquet';
      g = GROUP li BY (l_returnflag, l_linestatus);
      r = FOREACH g GENERATE FLATTEN(group) AS (rf, ls), COUNT(li) AS n;
    """).apply("r").df
    // Pig replaces the FLATTEN item in place: rf, ls come BEFORE n
    assert(out.columns.toSeq == Seq("rf", "ls", "n"))
    val exp = sf("lineitem").groupBy("l_returnflag", "l_linestatus")
      .count().count()
    assert(out.count() == exp)
  }

  test("positional deref t.$n resolves by schema position") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      p = FOREACH n GENERATE TOTUPLE(n_nationkey, n_name) AS t;
      q = FOREACH p GENERATE t.$$1 AS nm, t.$$0 AS k;
    """).apply("q").df.filter(col("k") === 3).head()
    assert(out.getString(0) ==
      sf("nation").filter($"n_nationkey" === 3).head().getString(1))
  }

  test("macro composition and chained %declare substitution") {
    val out = PigRunner(spark).run(s"""
      DEFINE inner_m(rel) RETURNS out { $$out = FILTER $$rel BY n_nationkey > 5; };
      DEFINE outer_m(rel) RETURNS out {
        f = inner_m($$rel); $$out = FOREACH f GENERATE n_name; };
      n = LOAD '$dir/nation.parquet';
      r = outer_m(n);
    """).apply("r").df
    assert(out.count() ==
      sf("nation").filter($"n_nationkey" > 5).count())
    val chained = PigRunner(spark).run(s"""
      %declare A 10
      %declare B $$A
      n = LOAD '$dir/nation.parquet';
      f = FILTER n BY n_nationkey > $$B;
    """).apply("f").df
    assert(chained.count() ==
      sf("nation").filter($"n_nationkey" > 10).count())
  }

  test("%declare with a backtick shell command substitutes its stdout") {
    val out = PigRunner(spark).run(s"""
      %declare THRESH `echo 20`
      n = LOAD '$dir/nation.parquet';
      f = FILTER n BY n_nationkey >= $$THRESH;
    """).apply("f").df
    assert(out.count() == sf("nation").filter($"n_nationkey" >= 20).count())
  }

  test("legacy comparison keywords eq/neq/gt/lt/gte/lte") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      f = FILTER n BY n_nationkey GTE 5 AND n_nationkey lt 10
                     AND n_regionkey neq 99;
    """).apply("f").df
    val exp = sf("nation")
      .filter($"n_nationkey" >= 5 && $"n_nationkey" < 10 &&
              $"n_regionkey" =!= 99).count()
    assert(out.count() == exp)
  }

  test("SAMPLE with a scalar expression") {
    val n = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      s = SAMPLE o 0.2 + 0.3;
    """).apply("s").df.count()
    val total = sf("orders").count()
    // binomial(1500, 0.5) within 6 sigma
    assert(math.abs(n - total * 0.5) < 6 * math.sqrt(total * 0.25))
  }

  test("COUNT($1) on a grouped alias counts the BAG with Pig's null rule") {
    // $1 on the (group, bag) frame is the bag; COUNT skips tuples whose
    // FIRST field is null (COUNT.java:54). The fused path must agree with
    // the explicit-bag form, not count an input column by position.
    val out = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      p = FOREACH o GENERATE
            (o_totalprice > 150000.0 ? NULL : o_orderstatus) AS flag,
            o_orderpriority AS prio;
      g = GROUP p BY prio;
      r = FOREACH g GENERATE group AS prio, COUNT($$1) AS cnt,
                             COUNT_STAR($$1) AS n;
    """).apply("r").df.collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val exp = sf("orders")
      .select(when($"o_totalprice" > 150000.0, lit(null))
                .otherwise($"o_orderstatus").as("flag"),
              $"o_orderpriority".as("prio"))
      .groupBy("prio")
      .agg(count($"flag").as("cnt"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out == exp)
    assert(out.values.exists { case (cnt, n) => cnt < n }) // nulls were real
  }

  test("SUM($1) over a multi-field bag aborts fusion and type-errors") {
    // Pig type-errors on SUM over a bag of multi-field tuples; the fused
    // path must not silently fold the input's first column instead.
    val ex = intercept[Exception] {
      PigRunner(spark).run(s"""
        o = LOAD '$dir/orders.parquet';
        g = GROUP o BY o_orderstatus;
        r = FOREACH g GENERATE group, SUM($$1) AS s;
      """).apply("r").df.collect()
    }
    assert(ex != null)
  }

  test("ASSERT on a grouped alias is not bypassed by downstream fusion") {
    // the assert rebinding must invalidate the fusion provenance: the
    // downstream FOREACH has to read through the (failing) assertion
    val ex = intercept[Exception] {
      PigRunner(spark).run(s"""
        o = LOAD '$dir/orders.parquet';
        g = GROUP o BY o_orderstatus;
        ASSERT g BY SIZE(o) < 2, 'no group may have 2+ orders';
        r = FOREACH g GENERATE group, COUNT(o) AS n;
      """).apply("r").df.collect()
    }
    assert(ex.getMessage != null)
  }

  test("MAPREDUCE escape hatch: store → external command → load") {
    val d = java.nio.file.Files.createTempDirectory("mr").toString
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      p = FOREACH n GENERATE n_nationkey, n_name;
      r = MAPREDUCE 'native-step' STORE p INTO '$d/in' USING PigStorage(',')
          LOAD '$d/out' USING PigStorage(',')
          AS (k:long, name:chararray)
          `cp -r $d/in $d/out`;
      f = FILTER r BY k < 5;
    """).apply("f").df
    assert(out.count() == 5)
    assert(out.columns.toSeq == Seq("k", "name"))
  }

  test("MAPREDUCE surfaces a failing native command loudly") {
    val d = java.nio.file.Files.createTempDirectory("mrf").toString
    val ex = intercept[RuntimeException] {
      PigRunner(spark).run(s"""
        n = LOAD '$dir/nation.parquet';
        r = MAPREDUCE 'boom' STORE n INTO '$d/in'
            LOAD '$d/out' `exit 3`;
      """)
    }
    assert(ex.getMessage.contains("exit 3"))
  }

  test("ORDER USING a missing comparator class fails at plan time") {
    val ex = intercept[Exception] {
      PigRunner(spark).run(s"""
        n = LOAD '$dir/nation.parquet';
        s = ORDER n BY n_name USING 'org.example.MyComparator';
      """)
    }
    assert(String.valueOf(ex.getMessage).contains("org.example.MyComparator"),
      ex.toString)
  }

  test("JOIN USING 'merge-sparse': probe keys seek into the right scan " +
       "(In pushdown, no UDF), matches the plain join; inner-only") {
    val runner = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      c = LOAD '$dir/customer.parquet';
      f = FILTER c BY c_custkey < 10;
      j = JOIN o BY o_custkey, f BY c_custkey USING 'merge-sparse';
    """)
    val df = runner("j").df
    // seek regime (probe keys fit the bounded collect): the right side
    // carries a literal In/InSet key predicate — pushable to its scan
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("INSET") || plan.contains(" IN ("), plan.take(2000))
    assert(!plan.toLowerCase.contains("scalaudf"))
    val plain = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      c = LOAD '$dir/customer.parquet';
      f = FILTER c BY c_custkey < 10;
      j = JOIN o BY o_custkey, f BY c_custkey;
    """).apply("j").df
    assert(df.count() == plain.count() && df.count() > 0)
    // inner-only, like the reference (perf.xml merge-sparse-joins)
    val ex = intercept[IllegalArgumentException] {
      PigRunner(spark).run(s"""
        o = LOAD '$dir/orders.parquet';
        c = LOAD '$dir/customer.parquet';
        j = JOIN o BY o_custkey LEFT, c BY c_custkey USING 'merge-sparse';
      """)
    }
    assert(ex.getMessage.contains("inner"))
  }

  test("JOIN USING 'bloom' matches the plain join and probes natively") {
    val runner = PigRunner(spark)
    val j = runner.run(s"""
      o = LOAD '$dir/orders.parquet';
      c = LOAD '$dir/customer.parquet';
      f = FILTER c BY c_acctbal > 5000.0;
      j = JOIN o BY o_custkey, f BY c_custkey USING 'bloom';
    """).apply("j").df
    val o = sf("orders"); val c = sf("customer").filter($"c_acctbal" > 5000)
    assert(j.count() == o.join(c, o("o_custkey") === c("c_custkey")).count())
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") && !plan.contains("UDF"))
  }

  test("DEFINE alias expansion leaves quoted string literals untouched") {
    val expanded = graft.frontend.PigPreprocessor.expand("""
      DEFINE up UPPER;
      a = LOAD 'x';
      b = FOREACH a GENERATE up(name) AS u, 'keep up(raw) verbatim' AS s;
    """)
    assert(expanded.contains("UPPER(name)"))
    assert(expanded.contains("'keep up(raw) verbatim'"))
  }

  test("Stitch/Over nested window: running sum compiles to a Spark window") {
    val out = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      g = GROUP c BY c_nationkey;
      r = FOREACH g {
        ord = ORDER c BY c_custkey;
        GENERATE FLATTEN(Stitch(ord, Over(ord.c_acctbal, 'sum(double)')));
      };
      f = FOREACH r GENERATE c_custkey, c_nationkey, result;
    """).apply("f").df
    // plan must be a window over the pre-group input — no collect_list bag
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"), "bag must be elided")
    import org.apache.spark.sql.expressions.Window
    val exp = sf("customer").withColumn("expect",
      sum(col("c_acctbal")).over(Window.partitionBy("c_nationkey")
        .orderBy("c_custkey")))
      .select(col("c_custkey"), col("expect"))
    val joined = out.join(exp, "c_custkey")
      .filter(abs(col("result") - col("expect")) > 1e-6)
    assert(joined.count() == 0)
  }

  test("Stitch/Over rank with return-schema ctor arg (DEFINE IOver form)") {
    val out = PigRunner(spark).run(s"""
      DEFINE IOver Over('bal_rk:int');
      c = LOAD '$dir/customer.parquet';
      g = GROUP c BY c_nationkey;
      r = FOREACH g {
        ord = ORDER c BY c_acctbal DESC;
        GENERATE FLATTEN(Stitch(ord, IOver(ord, 'rank', -1, -1, 2)));
      };
    """).apply("r").df
    assert(out.schema("bal_rk").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // every nation's top-balance customer has rank 1
    val top = out.filter(col("bal_rk") === 1)
      .groupBy("c_nationkey").agg(max(col("c_acctbal")).as("b1"))
    val expTop = sf("customer").groupBy("c_nationkey")
      .agg(max(col("c_acctbal")).as("b2"))
    assert(top.join(expTop, "c_nationkey")
      .filter(col("b1") =!= col("b2")).count() == 0)
  }

  test("Stitch/Over lead with offset and default") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      g = GROUP n BY n_regionkey;
      r = FOREACH g {
        ord = ORDER n BY n_nationkey;
        GENERATE FLATTEN(Stitch(ord, Over(ord.n_nationkey, 'lead', 0, 1, 1, -1)));
      };
    """).apply("r").df.orderBy("n_nationkey")
      .select("n_regionkey", "n_nationkey", "result").collect()
    // last nation per region gets the default -1
    val lastPerRegion = out.groupBy(_.getInt(0)).values
      .map(_.map(_.getInt(1)).max).toSet
    out.foreach { r =>
      if (lastPerRegion(r.getInt(1))) assert(r.getInt(2) == -1)
      else assert(r.getInt(2) > r.getInt(1))
    }
  }

  test("Stitch with multiple Over calls emits one column per window") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      g = GROUP n BY n_regionkey;
      r = FOREACH g {
        ord = ORDER n BY n_nationkey;
        GENERATE FLATTEN(Stitch(ord,
          Over(ord.n_nationkey, 'count'),
          Over(ord, 'row_number')));
      };
    """).apply("r").df
    assert(out.columns.takeRight(2).toSeq == Seq("result0", "result1"))
    // running count over unbounded-preceding..current == row_number
    assert(out.filter(col("result0") =!= col("result1")).count() == 0)
  }

  test("Stitch/Over outside the supported shape fails loudly") {
    val e = intercept[IllegalArgumentException] {
      PigRunner(spark).run(s"""
        c = LOAD '$dir/customer.parquet';
        f = FILTER c BY c_nationkey > 1;
        r = FOREACH f {
          ord = ORDER c BY c_custkey;
          GENERATE FLATTEN(Stitch(ord, Over(ord.c_acctbal, 'sum(double)')));
        };
      """)
    }
    assert(e.getMessage.contains("grouping provenance"))
  }

  test("DEFINE alias call with string-literal args expands (masked quotes)") {
    // Regression: the literal used to split the statement into segments
    // before alias matching, leaving `ex(...)` unexpanded.
    val expanded = graft.frontend.PigPreprocessor.expand("""
      DEFINE ex REGEX_EXTRACT;
      a = LOAD 'x';
      b = FOREACH a GENERATE ex(line, '(\d+)', 1) AS num;
    """)
    assert(expanded.contains("REGEX_EXTRACT(line, '(\\d+)', 1)"))
    // end-to-end through the interpreter
    val out = PigRunner(spark).run(s"""
      DEFINE ex REGEX_EXTRACT;
      c = LOAD '$dir/customer.parquet';
      p = FOREACH c GENERATE ex(c_name, '([0-9]+)', 1) AS num;
    """).apply("p").df.head()
    assert(out.getString(0).forall(_.isDigit) && out.getString(0).nonEmpty)
  }

  test("InvokeForString: instance method via DEFINE (Invoker semantics)") {
    val out = PigRunner(spark).run(s"""
      DEFINE Up InvokeForString('java.lang.String.toUpperCase', '', 'false');
      n = LOAD '$dir/nation.parquet';
      u = FOREACH n GENERATE n_nationkey, Up(n_name) AS uname;
    """).apply("u").df.orderBy("n_nationkey").head()
    assert(out.getString(1) == out.getString(1).toUpperCase)
    assert(out.getString(1).exists(_.isLetter))
  }

  test("InvokeForLong: static method with declared params; bad input → null") {
    val out = PigRunner(spark).run(s"""
      DEFINE ParseLong InvokeForLong('java.lang.Long.parseLong', 'String');
      n = LOAD '$dir/nation.parquet';
      p = FOREACH n GENERATE (chararray)n_nationkey AS s;
      q = FOREACH p GENERATE ParseLong(s) AS v, ParseLong('nope') AS bad;
    """).apply("q").df.head()
    assert(!out.isNullAt(0) && out.getLong(0) >= 0)
    assert(out.isNullAt(1)) // InvocationTargetException → null, Pig style
  }

  test("InvokeForDouble: static two-arg method (Math.pow)") {
    val out = PigRunner(spark).run(s"""
      DEFINE Pow InvokeForDouble('java.lang.Math.pow', 'double double');
      n = LOAD '$dir/nation.parquet';
      d = FOREACH n GENERATE (double)n_regionkey AS rk;
      p = FOREACH d GENERATE Pow(rk, 2.0) AS sq, rk;
    """).apply("p").df.orderBy(org.apache.spark.sql.functions.desc("sq")).head()
    assert(out.getDouble(0) == 16.0 && out.getDouble(1) == 4.0)
  }

  test("InvokeFor*: reference-form instance spec (receiver type first)") {
    // Pig's documented form: paramSpec(0) names the RECEIVER type and is
    // dropped before method lookup (Invoker.java selfClass_) — a 1-arg call
    val out = PigRunner(spark).run(s"""
      DEFINE Up InvokeForString('java.lang.String.toUpperCase', 'String', 'false');
      n = LOAD '$dir/nation.parquet';
      u = FOREACH n GENERATE Up(n_name) AS uname;
    """).apply("u").df.head()
    assert(out.getString(0) == out.getString(0).toUpperCase)
    assert(out.getString(0).exists(_.isLetter))
  }

  test("InvokeFor*: instance method with params; 'static' isStatic word") {
    val out = PigRunner(spark).run(s"""
      DEFINE Cat InvokeForString('java.lang.String.concat', 'String String', 'false');
      DEFINE MaxL InvokeForLong('java.lang.Math.max', 'long long', 'static');
      n = LOAD '$dir/nation.parquet';
      u = FOREACH n GENERATE Cat(n_name, '!') AS c,
                             MaxL(n_nationkey, 5L) AS m;
    """).apply("u").df
      .orderBy(org.apache.spark.sql.functions.desc("m")).head()
    assert(out.getString(0).endsWith("!"))
    assert(out.getLong(1) >= 5L)
  }

  test("InvokeFor*: dotted data literal doesn't shift the ctor boundary") {
    // F('U.S.A') with a 0-param DEFINE must fail the ARITY check on the
    // real method name — not mistake 'U.S.A' for the class.method literal
    val e = intercept[IllegalArgumentException] {
      PigRunner(spark).run(s"""
        DEFINE F InvokeForString('java.lang.Thread.currentThread');
        n = LOAD '$dir/nation.parquet';
        u = FOREACH n GENERATE F('U.S.A') AS x;
      """)
    }
    assert(e.getMessage.contains("expects 0 args"))
    assert(e.getMessage.contains("java.lang.Thread.currentThread"))
  }

  test("APPROX_DISTINCT: fused path is HLL within 5%, bag path exact") {
    // fused: every GENERATE item is an aggregate -> groupBy().agg() with
    // the HLL sketch (partial-aggregated, no raw distinct values shuffle)
    val fused = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      g = GROUP c BY c_mktsegment;
      a = FOREACH g GENERATE group AS seg, APPROX_DISTINCT(c.c_custkey) AS nd;
    """).apply("a").df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = sf("customer").groupBy($"c_mktsegment")
      .agg(countDistinct($"c_custkey")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fused.keySet == exact.keySet)
    for ((seg, n) <- exact)
      assert(math.abs(fused(seg) - n) <= math.max(1, n * 0.05),
        s"$seg: approx ${fused(seg)} vs exact $n")
    // bag path (SIZE(c) consumes the bag, so fusion aborts): the bag is
    // materialized, so the count is exact by construction
    val bagged = PigRunner(spark).run(s"""
      c = LOAD '$dir/customer.parquet';
      g = GROUP c BY c_mktsegment;
      a = FOREACH g GENERATE group AS seg,
            APPROX_DISTINCT(c.c_nationkey) AS nd, SIZE(c) AS sz;
    """).apply("a").df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactNation = sf("customer").groupBy($"c_mktsegment")
      .agg(countDistinct($"c_nationkey")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bagged == exactNation)
  }

  test("trig/math catalog dispatches (SIN..TANH, CBRT)") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      t = FOREACH n GENERATE n_nationkey,
            SIN(n_nationkey) AS s, COS(n_nationkey) AS c,
            ATAN(n_nationkey) AS a, TANH(n_nationkey) AS th,
            CBRT(n_nationkey) AS cb;
    """).apply("t").df.filter(col("n_nationkey") === 2).head()
    assert(math.abs(out.getDouble(1) - math.sin(2)) < 1e-12)
    assert(math.abs(out.getDouble(2) - math.cos(2)) < 1e-12)
    assert(math.abs(out.getDouble(3) - math.atan(2)) < 1e-12)
    assert(math.abs(out.getDouble(4) - math.tanh(2)) < 1e-12)
    assert(math.abs(out.getDouble(5) - math.cbrt(2)) < 1e-12)
  }

  test("INVERSEMAP swaps keys/values, non-unique values collect a bag") {
    // reference INVERSEMAP.java: [open#1,1#2,11#2] -> [2#{(1),(11)},1#{(open)}]
    val inv = Seq(1).toDF("x")
      .select(graft.functions.Builtins.INVERSEMAP(
        map(lit("open"), lit(1), lit("1"), lit(2), lit("11"), lit(2)))
        .as("m"))
      .head().getMap[String, scala.collection.Seq[org.apache.spark.sql.Row]](0)
    assert(inv("1").map(_.getString(0)) == Seq("open"))
    assert(inv("2").map(_.getString(0)).sorted == Seq("1", "11"))
  }

  test("session-registered UDF is callable from a script by name") {
    spark.udf.register("graft_rev", (s: String) => s.reverse)
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      r = FOREACH n GENERATE n_name, graft_rev(n_name) AS rev;
    """).apply("r").df.head()
    assert(out.getString(1) == out.getString(0).reverse)
  }

  test("SIZE type dispatch: string length, tuple arity, scalar 1") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      z = FOREACH n GENERATE SIZE(n_name) AS len,
            SIZE(TOTUPLE(n_nationkey, n_name, n_regionkey)) AS arity,
            SIZE(n_nationkey) AS one,
            SIZE(TOBAG(n_nationkey, n_regionkey)) AS bagn;
    """).apply("z").df.head()
    assert(out.getLong(0) > 0)        // string -> char length
    assert(out.getLong(1) == 3L)      // tuple -> arity
    assert(out.getLong(2) == 1L)      // fixed-size scalar -> 1
    assert(out.getLong(3) == 2L)      // bag -> entries
  }

  test("ToDate(long) reads epoch millis; 3-arg form applies the zone") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      d = FOREACH n GENERATE ToDate(86400000) AS day2,
            ToDate('2024-03-01 12:00', 'yyyy-MM-dd HH:mm', '+02:00') AS zoned;
    """).apply("d").df.head()
    assert(out.getTimestamp(0).toInstant.toEpochMilli == 86400000L)
    // 12:00 at +02:00 == 10:00 UTC
    assert(out.getTimestamp(1).toInstant.toString == "2024-03-01T10:00:00Z")
    val iso = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      d = FOREACH n GENERATE ToString(ToDate(86400000)) AS s;
    """).apply("d").df.head().getString(0)
    assert(iso == "1970-01-02T00:00:00.000Z") // joda 1-arg ISO form
  }

  test("XPath/XPathAll evaluate against xml columns (piggybank parity)") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      x = FOREACH n GENERATE
            XPath(CONCAT(CONCAT('<r><a>', n_name), '</a><a>x</a></r>'),
                  'r/a/text()') AS first,
            XPathAll(CONCAT(CONCAT('<r><a>', n_name), '</a><a>x</a></r>'),
                  'r/a/text()') AS all;
    """).apply("x").df.head()
    assert(out.getString(0).nonEmpty)
    val bag = out.getSeq[org.apache.spark.sql.Row](1)
    assert(bag.map(_.getString(0)) == Seq(out.getString(0), "x"))
  }

  test("map/bag/tuple literal constants (QueryParser.g constants)") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      c = FOREACH n GENERATE ['a'#1, 'b'#(n_nationkey + 1)] AS mp,
            {(1, 'x'), (2, 'y')} AS bg, (n_nationkey, 'k') AS tp;
    """).apply("c").df.filter(col("tp.n_nationkey") === 3).head()
    val mp = out.getMap[String, Any](0)
    assert(mp("a").toString.toLong == 1L && mp("b").toString.toLong == 4L)
    val bg = out.getSeq[org.apache.spark.sql.Row](1)
    assert(bg.map(r => (r.getInt(0), r.getString(1))) == Seq((1, "x"), (2, "y")))
    assert(out.getStruct(2).getString(1) == "k")
  }

  test("multi-column bag projection b.(f,g) and COUNT over it") {
    val rows = PigRunner(spark).run(s"""
      o = LOAD '$dir/orders.parquet';
      g = GROUP o BY o_orderstatus;
      p = FOREACH g GENERATE group AS st,
            COUNT(o.(o_orderkey, o_totalprice)) AS n;
    """).apply("p").df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = sf("orders").groupBy($"o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == exp)
  }

  test("column range projections a..b, ..b, a.. expand positionally") {
    val r = PigRunner(spark).run(s"""
      li = LOAD '$dir/lineitem.parquet';
      a = FOREACH li GENERATE l_orderkey..l_suppkey;
    """).apply("a").df
    assert(r.columns.toSeq == Seq("l_orderkey", "l_partkey", "l_suppkey"))
    val pre = PigRunner(spark).run(s"""
      li = LOAD '$dir/lineitem.parquet';
      a = FOREACH li GENERATE ..l_partkey, l_quantity;
    """).apply("a").df
    assert(pre.columns.toSeq == Seq("l_orderkey", "l_partkey", "l_quantity"))
    val suf = PigRunner(spark).run(s"""
      li = LOAD '$dir/lineitem.parquet';
      a = FOREACH li GENERATE l_returnflag..;
    """).apply("a").df
    assert(suf.columns.head == "l_returnflag" &&
      suf.columns.length == sf("lineitem").columns.length -
        sf("lineitem").columns.indexOf("l_returnflag"))
  }

  test("monitored UDF: timeout yields the default, fast path the value") {
    val slowThenFast = graft.functions.Invoke.monitored(200L, -1) {
      (x: Int) => if (x == 0) { Thread.sleep(5000); 0 } else x * 10
    }
    assert(slowThenFast(3) == 30)
    assert(slowThenFast(0) == -1)
  }

  test("nested calls see the block's bindings: SIZE(DIFF(bag, inner))") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      g = GROUP n BY n_regionkey;
      f = FOREACH g {
        big = FILTER n BY n_nationkey > 10;
        GENERATE group, SIZE(DIFF(n.n_nationkey, big.n_nationkey)) AS d;
      }
    """).apply("f").df.collect()
    // DIFF = symmetric difference: the small-key nations per region
    val exp = sf("nation").filter(col("n_nationkey") <= 10)
      .groupBy("n_regionkey").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) == exp.getOrElse(r.getAs[Number](0).longValue, 0L))
    }
  }

  test("REGEX_EXTRACT_ALL 2-arg form infers the group count") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/region.parquet';
      f = FOREACH n GENERATE r_name,
            REGEX_EXTRACT_ALL(r_name, '(.)(.*)') AS t;
      g = FOREACH f GENERATE r_name, t.$$0 AS first_char, t.$$1 AS rest;
    """).apply("g").df.collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(0).take(1))
      assert(r.getString(2) == r.getString(0).drop(1))
    }
  }

  test("STRSPLIT drops trailing empty fields (Java split limit-0)") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/region.parquet';
      f = FOREACH n GENERATE SIZE(STRSPLIT(CONCAT(r_name, '::'), ':'))
            AS n_parts, r_name;
    """).apply("f").df.collect()
    // 'AFRICA::' splits to just (AFRICA) — trailing empties removed
    out.foreach(r => assert(r.getLong(0) == 1L, r.getString(1)))
  }

  test("TOMAP: odd arity errors; single-bag form builds one map") {
    val e = intercept[Exception] {
      PigRunner(spark).run(s"""
        n = LOAD '$dir/region.parquet';
        f = FOREACH n GENERATE TOMAP(r_name, r_regionkey, r_name);
      """)
    }
    assert(e.getMessage.toLowerCase.contains("even number"))
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      g = GROUP n BY n_regionkey;
      f = FOREACH g {
        p = FOREACH n GENERATE n_name, n_nationkey;
        GENERATE group, TOMAP(p) AS m;
      }
    """).apply("f").df.collect()
    out.foreach(r => assert(r.getMap[String, Any](1).nonEmpty))
  }

  test("null fields inside stored complex values round-trip as nulls") {
    // "(a,)" not "(a)": a dropped null field would shift arity and
    // null the whole tuple on re-LOAD
    val tmp = java.nio.file.Files.createTempDirectory("nullc").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "in.txt"),
      "(a,)\t{(1),(),(2)}\n".getBytes("UTF-8"))
    val back = PigRunner(spark).run(s"""
      a = LOAD '$tmp/in.txt' AS (t:tuple(n:chararray, v:int),
                                 b:bag{x:tuple(v:int)});
      STORE a INTO '$tmp/out' USING PigStorage('\\t', '-schema');
      c = LOAD '$tmp/out' USING PigStorage('\\t', '-schema');
      d = FOREACH c GENERATE t.n AS tn, t.v AS tv, SIZE(b) AS nb;
    """).apply("d").df.head()
    assert(back.getString(0) == "a")
    assert(back.isNullAt(1))      // null field survived, arity kept
    assert(back.getLong(2) == 3L) // null bag element not dropped
  }

  test("STORE USING a load-only function fails loudly") {
    val e = intercept[IllegalArgumentException] {
      PigRunner(spark).run(s"""
        n = LOAD '$dir/region.parquet';
        STORE n INTO '/tmp/never' USING SequenceFileLoader();
      """)
    }
    assert(e.getMessage.contains("not a storage function"))
  }

  test("merge join with three inputs fails loudly (reference restriction)") {
    val e = intercept[IllegalArgumentException] {
      PigRunner(spark).run(s"""
        a = LOAD '$dir/nation.parquet';
        b = LOAD '$dir/region.parquet';
        c = LOAD '$dir/customer.parquet';
        j = JOIN a BY n_regionkey, b BY r_regionkey, c BY c_nationkey
            USING 'merge';
      """)
    }
    assert(e.getMessage.contains("exactly two inputs"))
  }

  test("CUBE output referenced by Pig's names: cube bag + group tuple") {
    // the reference's cube_clause schema is (group: tuple(dims),
    // cube: bag) — COUNT(cube) and FLATTEN(group) are legal spellings
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/nation.parquet';
      cb = CUBE n BY CUBE(n_regionkey);
      f = FOREACH cb GENERATE FLATTEN(group) AS rk, COUNT(cube) AS cnt;
    """).apply("f").df
    val exp = sf("nation").cube("n_regionkey").count().count()
    assert(out.count() == exp)
    // grand-total row present (cube includes the empty grouping set)
    assert(out.filter(col("rk").isNull).count() >= 1)
  }

  test("STRSPLIT limit arg + positional deref of an array-tuple") {
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/region.parquet';
      p = FOREACH n GENERATE r_name, STRSPLIT(r_name, 'a', 2) AS t;
      f = FOREACH p GENERATE r_name, t.$$0 AS first;
    """).apply("f").df.collect()
    out.foreach { r =>
      assert(r.getString(0).split("a", 2).head == r.getString(1))
    }
  }

  test("STRSPLIT negative limit keeps trailing empties (ADVICE r8)") {
    // -1 parses as Neg(Lit(1)); Java split(re, -1) keeps every field
    val out = PigRunner(spark).run(s"""
      n = LOAD '$dir/region.parquet';
      f = FOREACH n GENERATE SIZE(STRSPLIT(CONCAT(r_name, '::'), ':', -1))
            AS n_parts, r_name;
    """).apply("f").df.collect()
    // 'AFRICA::' splits to (AFRICA,'','') — 3 parts, empties kept
    out.foreach(r => assert(r.getLong(0) == 3L, r.getString(1)))
  }

  test("user UDF shadowing a Spark builtin stays callable (ADVICE r8)") {
    // 'repeat' is a Spark builtin; a user registration through the
    // engine's surface overrides it at lookup time, so Pig Latin must
    // dispatch to the user's function, not error as unknown.
    graft.functions.UdfSurface.track("repeat")
    spark.udf.register("repeat", (s: String) => s + s)
    try {
      val out = PigRunner(spark).run(s"""
        n = LOAD '$dir/region.parquet';
        f = FOREACH n GENERATE repeat(r_name) AS rr, r_name;
      """).apply("f").df.collect()
      out.foreach(r =>
        assert(r.getString(0) == r.getString(1) + r.getString(1)))
    } finally spark.sessionState.catalog.dropTempFunction("repeat", true)
  }

  // ---- STREAM input()/output() redirection (HandleSpec,
  // File{Input,Output}Handler; streaming.conf StreamingIO sections)

  test("STREAM input('file'): command reads its input from a file") {
    // StreamingIO/3 shape: the partition lands in scratch/foo before
    // exec; the command reads the file itself (stdin is closed)
    val out = PigRunner(spark).run(s"""
      DEFINE CMD `cat foo` input('foo');
      r = LOAD '$dir/region.parquet';
      p = FOREACH r GENERATE r_regionkey, r_name;
      s = STREAM p THROUGH CMD AS (k:int, name:chararray);
      o = ORDER s BY k;
    """).apply("o").df.collect()
    assert(out.length == 5 && out.head.getString(1) == "AFRICA")
  }

  test("STREAM output('file'): relation comes from the written file") {
    // StreamingIO/4 shape: stdout is discarded; scratch/bar is the result
    val out = PigRunner(spark).run(s"""
      DEFINE CMD `cat > bar; echo IGNORED-STDOUT` output('bar');
      r = LOAD '$dir/region.parquet';
      p = FOREACH r GENERATE r_regionkey, r_name;
      s = STREAM p THROUGH CMD AS (k:int, name:chararray);
      o = ORDER s BY k;
    """).apply("o").df.collect()
    assert(out.length == 5 && out.map(_.getString(1)).contains("EUROPE"))
    assert(!out.exists(r => String.valueOf(r.getString(1)).contains("IGNORED")))
  }

  test("STREAM output(stdout, 'side'): primary is stdout, side discarded") {
    // StreamingIO/6 shape: first handle is the primary output
    val out = PigRunner(spark).run(s"""
      DEFINE CMD `tee side_file` output(stdout, 'side_file');
      r = LOAD '$dir/region.parquet';
      p = FOREACH r GENERATE r_regionkey;
      s = STREAM p THROUGH CMD AS (k:int);
    """).apply("s").df.collect()
    assert(out.map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2, 3, 4))
  }

  test("STREAM using PigStreaming('<sep>') changes the wire delimiter") {
    // StreamingPerformance/3 shape: comma-serialized input; the command
    // sees comma-separated lines and emits them tab-separated
    val out = PigRunner(spark).run(s"""
      DEFINE CMD `sed 's/,/\\t/g'` input(stdin using PigStreaming(','));
      r = LOAD '$dir/region.parquet';
      p = FOREACH r GENERATE r_regionkey, r_name;
      s = STREAM p THROUGH CMD AS (k:int, name:chararray);
      o = ORDER s BY k;
    """).apply("o").df.collect()
    assert(out.length == 5 && out.head.getString(1) == "AFRICA")
  }

  test("STREAM ship('path'): shipped script runs by bare name") {
    val sh = java.nio.file.Files.createTempDirectory("ship").resolve("upper1.sh")
    java.nio.file.Files.write(sh,
      "#!/bin/sh\ntr 'a-z' 'A-Z'\n".getBytes("UTF-8"))
    val out = PigRunner(spark).run(s"""
      DEFINE CMD `upper1.sh` ship('$sh');
      r = LOAD '$dir/region.parquet';
      p = FOREACH r GENERATE r_name;
      s = STREAM p THROUGH CMD AS (name:chararray);
    """).apply("s").df.collect()
    assert(out.map(_.getString(0)).toSet.contains("AFRICA"))
  }

  test("STREAM cache('path#link'): file lands in the task cwd as link") {
    // streaming.conf 1/3 shape: a cached support file referenced by its
    // symlink name (Hadoop fragment convention, StreamingCommand
    // CacheSpec) — the command reads `lookup` from its scratch cwd
    val d = java.nio.file.Files.createTempDirectory("cachespec")
    java.nio.file.Files.write(d.resolve("table.txt"),
      "0\tZERO\n1\tONE\n2\tTWO\n3\tTHREE\n4\tFOUR\n".getBytes("UTF-8"))
    val out = PigRunner(spark).run(s"""
      DEFINE CMD `join -t '\t' -o 2.2 - lookup` cache('$d/table.txt#lookup');
      r = LOAD '$dir/region.parquet';
      p = FOREACH r GENERATE r_regionkey;
      o = ORDER p BY r_regionkey;
      s = STREAM o THROUGH CMD AS (w:chararray);
    """).apply("s").df.collect()
    assert(out.map(_.getString(0)).toSet ==
      Set("ZERO", "ONE", "TWO", "THREE", "FOUR"))
  }

  test("STREAM file-handle command failing exit fails the query") {
    val e = intercept[Exception] {
      PigRunner(spark).run(s"""
        DEFINE CMD `exit 3` input('f');
        r = LOAD '$dir/region.parquet';
        s = STREAM r THROUGH CMD;
        DUMP s;
      """)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("exited with code")))
  }

  test("SET default_parallel maps to shuffle partitions (GruntParser:627)") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val out = PigRunner(spark).run(s"""
        SET default_parallel 7;
        n = LOAD '$dir/nation.parquet';
        g = GROUP n BY n_regionkey;
        c = FOREACH g GENERATE group, COUNT(n) AS cnt;
      """).apply("c")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      // AQE may coalesce below the default, never above it
      assert(out.df.rdd.getNumPartitions <= 7)
      // invalid value → validated like the reference (ParseException)
      val e = intercept[Exception] {
        PigRunner(spark).run("SET default_parallel abc;")
      }
      assert(e.getMessage.contains("Invalid value for default_parallel"))
      // n <= 0 = "estimate" (JobControlCompiler:1121): conf untouched
      PigRunner(spark).run("SET default_parallel 0;")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("InvokeFor*: 5-arg static method (generic struct-packed arity)") {
    // Invoker.java:62 is arity-unbounded; 5+ args take the Row-packed path
    val out = PigRunner(spark).run(s"""
      DEFINE Sum5 InvokeForLong('graft.InvokeArityFixture.sum5',
                                'long long long long long');
      n = LOAD '$dir/nation.parquet';
      u = FOREACH n GENERATE Sum5(n_nationkey, 1L, 2L, 3L, 4L) AS s,
                             n_nationkey;
    """).apply("u").df
      .orderBy(org.apache.spark.sql.functions.desc("s")).head()
    assert(out.getLong(0) == out.getAs[Number](1).longValue + 10L)
  }

  test("BuildBloom/Bloom UDF pair: stored-path form (nightly Bloom/1)") {
    // build on the names of one region's nations, store, probe via a
    // DEFINE'd path. Bloom guarantees NO false negatives; the fixed
    // 4096-bit filter keeps false positives at zero for 25 nation names
    // in practice — assert superset + a sane upper bound instead of
    // exact equality to stay honest about the FP contract.
    val tmp = java.nio.file.Files.createTempDirectory("bloom_udf").toString
    val r = PigRunner(spark).run(s"""
      DEFINE bb BuildBloom('Hash.JENKINS_HASH', 'fixed', '4096', '3');
      n = LOAD '$dir/nation.parquet';
      k = FILTER n BY n_regionkey == 2;
      g = GROUP k ALL;
      f = FOREACH g GENERATE bb(k.n_name);
      STORE f INTO '$tmp/filter';
      exec;
      DEFINE probe Bloom('$tmp/filter');
      a = LOAD '$dir/nation.parquet';
      hits = FILTER a BY probe(n_name);
    """)
    val hits = r.apply("hits").df.select("n_name").collect()
      .map(_.getString(0)).toSet
    val exact = sf("nation").filter($"n_regionkey" === 2)
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(exact.subsetOf(hits), s"false negatives: ${exact -- hits}")
    assert(hits.size <= exact.size + 3, s"too many false positives: $hits")
  }

  test("BuildBloom/Bloom: scalar value form, no store (nightly Bloom/5)") {
    val r = PigRunner(spark).run(s"""
      DEFINE bb BuildBloom('Hash.JENKINS_HASH', '30', '0.0001');
      n = LOAD '$dir/nation.parquet';
      k = FILTER n BY n_regionkey == 0;
      g = GROUP k ALL;
      f = FOREACH g GENERATE bb(k.n_name) AS bloomfilter;
      a = LOAD '$dir/nation.parquet';
      hits = FILTER a BY Bloom(f.bloomfilter, n_name);
    """)
    val hits = r.apply("hits").df.select("n_name").collect()
      .map(_.getString(0)).toSet
    val exact = sf("nation").filter($"n_regionkey" === 0)
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(exact.subsetOf(hits), s"false negatives: ${exact -- hits}")
    assert(hits.size <= exact.size + 3, s"too many false positives: $hits")
  }

  test("graft text-curation extensions are script-callable " +
       "(LANGID/QUALITYSCORE/TOKENCOUNT/FINGERPRINT…)") {
    val r = PigRunner(spark).run(s"""
      d = LOAD '$dir/documents.parquet';
      s = FOREACH d GENERATE doc_id, LANGID(text) AS lang2,
            QUALITYSCORE(text) AS q, TOKENCOUNT(text) AS tc,
            BPETOKENCOUNT(text) AS btc, FINGERPRINT(text) AS fp,
            ALPHARATIO(text) AS ar, STOPWORDRATIO(text) AS sw,
            DUPLINERATIO(text) AS dl;
      keep = FILTER s BY q > 0.0 AND tc > 0;
    """)
    val rows = r("keep").df.collect()
    assert(rows.nonEmpty)
    // spot-check against the Column-level implementations
    import graft.text.TextAnalysis
    val want = sf("documents").select($"doc_id",
        TextAnalysis.langId($"text"), TextAnalysis.qualityScore($"text"),
        TextAnalysis.tokenCount($"text"), TextAnalysis.fingerprint($"text"))
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getDouble(2), x.getLong(3), x.getLong(4))).toMap
    rows.take(50).foreach { x =>
      val (lang2, q, tc, fp) =
        (x.getString(1), x.getDouble(2), x.getLong(3), x.getLong(5))
      assert(want(x.getLong(0)) == ((lang2, q, tc, fp)))
    }
  }

  // ---- one expression compiler for every scope: a nested block, a bag
  // element and a top-level FOREACH all give an expression Pig's meaning

  /** Five rows (k, v): a:1,2,3  b:4  c:-1, as a parquet dir. */
  private lazy val kv: String = {
    val tmp = java.nio.file.Files.createTempDirectory("kv").toString + "/kv"
    Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4), ("c", -1)).toDF("k", "v")
      .coalesce(1).write.parquet(tmp)
    tmp
  }
  private def byKey(r: PigRunner, alias: String): Map[String, Any] =
    r(alias).df.collect().map(x => x.getString(0) -> x.get(1)).toMap

  test("nested block: COUNT(D) / 2 is Pig integer division, in GENERATE " +
       "and in a nested let") {
    val r = PigRunner(spark).run(s"""
      A = LOAD '$kv';
      G = GROUP A BY k;
      R = FOREACH G { D = FILTER A BY v > 0; GENERATE group, COUNT(D) / 2; };
      S = FOREACH G { D = FILTER A BY v > 0; x = COUNT(D) / 2;
                      GENERATE group, x; };
    """)
    for (alias <- Seq("R", "S")) {
      assert(r(alias).df.schema.fields(1).dataType ==
        org.apache.spark.sql.types.LongType, alias)
      assert(byKey(r, alias) == Map("a" -> 1L, "b" -> 0L, "c" -> 0L), alias)
    }
  }

  test("bag lambda: v / 2 is integer division in a nested FILTER and " +
       "a nested FOREACH") {
    val r = PigRunner(spark).run(s"""
      A = LOAD '$kv';
      G = GROUP A BY k;
      R = FOREACH G { D = FILTER A BY v / 2 > 0; GENERATE group, COUNT(D); };
      S = FOREACH G { E = FOREACH A GENERATE v / 2 AS h; GENERATE group, E; };
    """)
    assert(byKey(r, "R") == Map("a" -> 2L, "b" -> 1L, "c" -> 0L))
    val h = r("S").df.filter($"group" === "a").select(explode($"E.h"))
    assert(h.schema.head.dataType == org.apache.spark.sql.types.IntegerType)
    assert(h.as[Int].collect().sorted.toSeq == Seq(0, 1, 1))
  }

  test("nested alias under an operator inside a call argument") {
    val r = PigRunner(spark).run(s"""
      A = LOAD '$kv';
      G = GROUP A BY k;
      R = FOREACH G { D = FILTER A BY v > 0;
                      GENERATE group, ABS(SUM(D.v) * -1); };
    """)
    assert(byKey(r, "R") == Map("a" -> 6L, "b" -> 4L, "c" -> null))
  }

  test("nested bincond with a null condition is null") {
    val r = PigRunner(spark).run(s"""
      A = LOAD '$kv';
      G = GROUP A BY k;
      R = FOREACH G { D = FILTER A BY v > 0;
                      GENERATE group, (MAX(D.v) > 2 ? 1 : 0); };
    """)
    assert(byKey(r, "R") == Map("a" -> 1, "b" -> 1, "c" -> null))
  }

  test("CUBE: the cube bag resolves under a bincond and a negation") {
    val r = PigRunner(spark).run(s"""
      A = LOAD '$kv';
      C = CUBE A BY CUBE(k);
      R = FOREACH C GENERATE group.k AS k, (COUNT(cube) > 1 ? 1 : 0) AS many,
                             -COUNT(cube) AS neg;
    """)
    val got = r("R").df.collect()
      .map(x => Option(x.getString(0)) -> ((x.get(1), x.get(2)))).toMap
    assert(got == Map(Some("a") -> ((1, -3L)), Some("b") -> ((0, -1L)),
      Some("c") -> ((0, -1L)), None -> ((1, -5L))))
  }

  test("CUBE: group.dim resolves when fusion declines (bag projection, SIZE)") {
    val r = PigRunner(spark).run(s"""
      A = LOAD '$kv';
      C = CUBE A BY CUBE(k);
      P = FOREACH C GENERATE group.k AS k, cube.v AS vs;
      R = FOREACH C GENERATE group.k AS k, SIZE(cube) AS n;
    """)
    assert(r("P").df.count() == 4)
    val got = r("R").df.collect()
      .map(x => Option(x.getString(0)) -> x.getAs[Number](1).longValue)
      .toMap
    assert(got == Map(Some("a") -> 3L, Some("b") -> 1L, Some("c") -> 1L,
      None -> 5L))
  }

  test("bag lambda: scalar builtins beyond the old lambda subset (SIZE)") {
    val r = PigRunner(spark).run(s"""
      A = LOAD '$kv';
      G = GROUP A BY k;
      R = FOREACH G { D = FILTER A BY SIZE(k) > 0 AND v > 1;
                      GENERATE group, COUNT(D); };
    """)
    assert(byKey(r, "R") == Map("a" -> 2L, "b" -> 1L, "c" -> 0L))
  }

  test("IN with negative literals, top level and in a nested FILTER") {
    val r = PigRunner(spark).run(s"""
      A = LOAD '$kv';
      F = FILTER A BY v IN (-1, 2);
      G = GROUP A BY k;
      R = FOREACH G { D = FILTER A BY v IN (-1, 2); GENERATE group, COUNT(D); };
    """)
    assert(byKey(r, "F") == Map("a" -> 2, "c" -> -1))
    assert(byKey(r, "R") == Map("a" -> 1L, "b" -> 0L, "c" -> 1L))
  }

  test("Expr.rewrite reaches every child slot of every constructor") {
    import graft.frontend.PigAst._
    val x = ColRef("x")
    val all = FuncCall("F", Seq(Lit(1), PosRef(0), Star, x,
      Deref(x, "f"), MapLookup(x, "k"), BinOp("+", x, x), Neg(x), Not(x),
      BinCond(x, x, x), IsNull(x, negated = false), InExpr(x, Seq(x)),
      CastExpr("int", x), Matches(x, "p"), FlattenExpr(x),
      DerefMulti(x, Seq("f")), RangeProj(Some(x), Some(x))))
    // the tree holds one node of every Expr constructor, so a constructor
    // added later must join it (and with it, the traversal)
    def nodes(e: Expr): Seq[Expr] = {
      val b = Seq.newBuilder[Expr]
      def walk(n: Expr): Expr = { b += n; n.mapChildren(walk) }
      walk(e); b.result()
    }
    import scala.reflect.runtime.universe
    val ctors = universe.typeOf[Expr].typeSymbol.asClass.knownDirectSubclasses
      .map(_.name.toString)
    assert(ctors.size >= 18)
    assert(nodes(all).map(_.getClass.getSimpleName.stripSuffix("$")).toSet ==
      ctors)
    val out = all.rewrite { case ColRef("x") => ColRef("y") }
    assert(!nodes(out).contains(x), out)
    assert(nodes(out).count(_ == ColRef("y")) ==
      nodes(all).count(_ == x))
  }
}

/** Reflection target for the 5-arg Invoke test — Scala emits a static
  * forwarder for object methods, which is what the Invoker resolves. */
object InvokeArityFixture {
  def sum5(a: Long, b: Long, c: Long, d: Long, e: Long): Long =
    a + b + c + d + e
}
