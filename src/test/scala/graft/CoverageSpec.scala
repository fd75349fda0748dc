package graft

import org.apache.spark.sql.functions._
import graft.dsl.Relation
import graft.operators.{MultiQuery, Skew}
import graft.ml.Similarity

/** Coverage for public paths not exercised elsewhere (moved from
  * HardeningSpec when that suite became the 10M-row consistency
  * battery — VERDICT r8 item 5). */
class CoverageSpec extends SparkSpec {
  import spark.implicits._

  test("MultiQuery.splitAndStore writes disjoint covering branches") {
    val tmp = java.nio.file.Files.createTempDirectory("sas").toString
    val o = Relation(sf("orders"), "o")
    MultiQuery.splitAndStore(o, Seq(
      ("hi", col("o_totalprice") > 150000, s"$tmp/hi"),
      ("lo", col("o_totalprice") <= 150000, s"$tmp/lo")))
    val n = spark.read.parquet(s"$tmp/hi").count() +
            spark.read.parquet(s"$tmp/lo").count()
    assert(n == sf("orders").count())
  }

  test("nearNeighborPairs finds only above-threshold same-bucket pairs") {
    val pairs = Similarity.nearNeighborPairs(sf("embeddings"),
      "vec_id", "embedding", threshold = 0.3,
      numPlanes = 16, numBands = 8).collect()
    assert(pairs.forall(_.getDouble(2) >= 0.3))
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("per-band signatures slice the packed signature exactly") {
    // plane hashes key on the ABSOLUTE plane index, so a band signature
    // with planeOffset b*ppb must equal bits [b*ppb, (b+1)*ppb) of the
    // single packed signature — the equivalence that makes the banded
    // pipeline bit-identical across the 63-plane refactor
    val v = Array.tabulate(16)(i => (math.sin(i * 2.7) * 3).toFloat)
    val packed = graft.functions.VectorExpressions.signatureOfArray(v, 32)
    for (b <- 0 until 8) {
      val band = graft.functions.VectorExpressions
        .signatureOfArray(v, 4, planeOffset = b * 4)
      assert(band == ((packed >>> (b * 4)) & 0xFL), s"band $b")
    }
  }

  test("bandingFor keeps expected bucket size bounded as n grows") {
    val (p1, b1) = Similarity.bandingFor(2000)
    val (p2, _) = Similarity.bandingFor(2_000_000)
    val (p3, _) = Similarity.bandingFor(2_000_000_000L)
    assert(b1 == 8 && p1 % 8 == 0)
    assert(p2 > p1 && p3 > p2,                 // more planes as n grows
      s"planes should grow: $p1, $p2, $p3")
    // at 2e9 rows: 2^(p3/8) buckets/band keeps E[bucket] near target
    assert(2_000_000_000L / math.pow(2, p3 / 8) <= 64 * 2)
    // auto operator still finds real near-dups on the test corpus
    val pairs = Similarity.nearNeighborPairsAuto(sf("embeddings"),
      "vec_id", "embedding", threshold = 0.3, targetBucket = 32).collect()
    assert(pairs.forall(_.getDouble(2) >= 0.3))
    GraftSession.unpersistAll()
  }

  test("saltedAggregate min/max merge functions") {
    val got = Skew.saltedAggregate(sf("lineitem"), Seq("l_returnflag"), 4,
      Seq(("mn", min(col("l_quantity")), (c: org.apache.spark.sql.Column) => min(c)),
          ("mx", max(col("l_quantity")), (c: org.apache.spark.sql.Column) => max(c))))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exp = sf("lineitem").groupBy("l_returnflag")
      .agg(min("l_quantity"), max("l_quantity"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == exp)
  }

  test("Relation.store round-trips csv and json formats") {
    val tmp = java.nio.file.Files.createTempDirectory("store").toString
    val r = Relation(sf("region"), "r")
    r.store(s"$tmp/csv", "csv", Map("header" -> "true"))
    r.store(s"$tmp/json", "json")
    assert(spark.read.option("header", "true").csv(s"$tmp/csv").count() == 5)
    assert(spark.read.json(s"$tmp/json").count() == 5)
  }

  test("flattenMap drops empty-map rows (FLATTEN(map) semantics)") {
    val df = Seq((1, Map("a" -> 1)), (2, Map.empty[String, Int])).toDF("id", "m")
    val out = Relation(df, "r").flattenMap("m").df.collect()
    assert(out.length == 1 && out(0).getInt(0) == 1)
  }

  test("withScalar broadcasts a 1-row aggregate (DSL scalar)") {
    val out = Relation(sf("customer"), "c")
      .withScalar("mx", max(col("c_acctbal")))
      .filter(col("c_acctbal") === col("mx")).df
    assert(out.count() >= 1)
  }

  test("charShingles produces distinct k-grams; short text falls back") {
    val r = Seq(("abcab", "ab")).toDF("a", "b")
      .select(graft.text.Dedup.charShingles(col("a"), 3).as("sa"),
              graft.text.Dedup.charShingles(col("b"), 3).as("sb")).head()
    assert(r.getSeq[String](0).toSet == Set("abc", "bca", "cab"))
    assert(r.getSeq[String](1) == Seq("ab")) // shorter than k → whole text
  }

  test("Builtins.REGEX_SEARCH returns all matches as a bag") {
    import graft.functions.Builtins
    val r = Seq("a1 b22 c333").toDF("s")
      .select(Builtins.REGEX_SEARCH(col("s"), "[0-9]+")).head()
    assert(r.getSeq[String](0) == Seq("1", "22", "333"))
  }

  test("hotKeys output is bounded by topN") {
    val hot = Skew.hotKeys(sf("orders"), Seq("o_orderpriority"),
      topN = 2, sampleFraction = 0.5)
    assert(hot.count() <= 2)
  }

  test("langId CJK check is bounded to the first 4096 chars") {
    val inBound = "你好 world"
    val beyond = ("x" * 5000) + "你好" // first CJK char past the bound
    val r = Seq((1, inBound), (2, beyond)).toDF("id", "text")
      .select(col("id"), graft.text.TextAnalysis.langId(col("text")).as("l"))
      .orderBy("id").collect()
    assert(r(0).getString(1) == "zh")
    assert(r(1).getString(1) != "zh") // bound skips late CJK by design
  }

  test("unterminated backtick/string literals fail loudly") {
    intercept[IllegalArgumentException] {
      graft.frontend.PigParser.parse("x = MAPREDUCE `broken arg;")
    }
    intercept[IllegalArgumentException] {
      graft.frontend.PigParser.parse("a = LOAD 'unclosed;")
    }
  }

  test("unpersistSince releases only entries after the mark") {
    val a = GraftSession.trackPersist(sf("nation").select("n_nationkey"))
    a.count()
    val mark = GraftSession.mark()
    val b = GraftSession.trackPersist(sf("region").select("r_regionkey"))
    b.count()
    GraftSession.unpersistSince(mark)
    assert(a.storageLevel.useMemory, "pre-mark cache must survive")
    assert(!b.storageLevel.useMemory, "post-mark cache must be released")
    GraftSession.unpersistAll()
    assert(!a.storageLevel.useMemory)
  }

  test("ASCII-corpus precondition: script-aware tokens() equals the " +
       "plain-whitespace split on every gate corpus (legacy oracle " +
       "mirrors depend on it — see SparkEntry.oracleSql doc)") {
    // The legacy token-based DuckDB mirrors split on whitespace only;
    // the engine's tokens() additionally inserts CJK/Thai boundaries.
    // They coincide iff the corpus has no such codepoints. Assert the
    // equivalence DIRECTLY over the corpora the gates run on, so a
    // future corpus regeneration with multilingual text fails HERE
    // with a clear message, not as a silent q49/q64/… hash mismatch.
    import graft.text.TextAnalysis
    for (sfd <- Seq("sf0.001", "sf0.01")) {
      val docs = spark.read
        .parquet(s"/root/testdata/$sfd/documents.parquet")
      val diverging = docs.filter(
        !(TextAnalysis.tokens(col("text")) <=>
          TextAnalysis.wsTokens(col("text")))).count()
      assert(diverging == 0L,
        s"$sfd/documents: $diverging doc(s) where script-aware " +
          "tokenization diverges from the whitespace split — the " +
          "legacy token-oracle mirrors (q49/q64/q83/q90/q100/q102/" +
          "q103…) are no longer valid for this corpus; add the " +
          "scriptSpaced regex pair to those oracles (q114 shows how)")
    }
  }

  test("q130/q132 bench forms (epoch-materialized input) are " +
       "row-identical to the gate forms (in-plan synthesis) - the " +
       "r17 bench-hygiene split must never time a DIFFERENT " +
       "computation") {
    val d = "/root/testdata/sf0.001"
    for (q <- Seq("q130_crawl_clean", "q132_video_dedup")) {
      def rows(m: Map[String, (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame]) =
        m(q)(spark, d).collect()
          .map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
      assert(rows(SparkEntry.benchQueries) == rows(SparkEntry.queries),
        s"bench $q diverged from the gate - the epoch artifact is " +
          "stale or the two forms drifted")
      GraftSession.unpersistAll()
    }
  }

  test("gate registry: 133 distinct names, each with oracle SQL; the 13 " +
       "bench overrides; a duplicate name fails at construction") {
    val gates = SparkEntry.gates
    assert(gates.size == 133 && gates.map(_.name).distinct.size == 133)
    assert(gates.forall(_.oracleSql.trim.nonEmpty))
    assert(gates.filter(_.bench.isDefined).map(_.name.takeWhile(_ != '_'))
      .toSet == Set("q43", "q44", "q62", "q78", "q80", "q93", "q104",
        "q105", "q123", "q127", "q130", "q132", "q133"))
    val e = intercept[IllegalArgumentException](
      graft.gates.Gate.distinct(gates :+ gates.head))
    assert(e.getMessage.contains(gates.head.name))
  }

  test("epoch artifacts: an in-place dataset rewrite leaves exactly one " +
       "live epoch per tag for that dataset, other datasets untouched") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.gates.Fixtures.epochKey
    val ds = Files.createTempDirectory("epochds").toString
    sf("documents").write.parquet(s"$ds/documents.parquet")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def siblings(tag: String): String = {
      val k = epochKey(tag, ds, "documents")
      k.take(k.lastIndexOf('_') + 1)
    }
    // a q130 artifact of ANOTHER dataset path must survive collection
    val other = new java.io.File(tmp,
      "graft_" + epochKey("q130_records", ds + "_other", "documents"))
    other.mkdirs()
    def liveDirs(tag: String): Seq[String] =
      tmp.list().toSeq.filter(_.startsWith("graft_" + siblings(tag)))
    def liveTables(tag: String): Seq[String] = {
      val wh = new java.io.File(new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
      (Option(wh.list()).map(_.toSeq).getOrElse(Nil) ++
        spark.catalog.listTables().collect().map(_.name))
        .filter(_.startsWith(siblings(tag)))
        .map(_.drop(siblings(tag).length).takeWhile(_ != '_')).distinct
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    def runBoth(): Unit = {
      val q130 = rows(SparkEntry.benchQueries("q130_crawl_clean")(spark, ds))
      assert(q130 == rows(SparkEntry.queries("q130_crawl_clean")(spark, ds)))
      val q105 = rows(SparkEntry.benchQueries("q105_dedup_index")(spark, ds))
      // the same ingest filter against a freshly written index
      val docs = spark.read.parquet(s"$ds/documents.parquet")
      graft.text.DedupIndex.write(docs.filter(col("doc_id") % 4 < 3),
        "doc_id", "text", "epochspec_ix")
      assert(q105 == rows(graft.text.DedupIndex.dropDupsAgainst(
        docs.filter(col("doc_id") % 4 === 3), "doc_id", "text",
        "epochspec_ix", threshold = 0.5)))
      GraftSession.unpersistAll()
      assert(liveDirs("q130_records").size == 1)
      assert(liveTables("q105_ix") == Seq(epochKey("q105_ix", ds, "documents")
        .drop(siblings("q105_ix").length)))
    }
    runBoth()
    val before = liveDirs("q130_records")
    // rewrite documents.parquet in place: a third of the docs dropped
    spark.read.parquet(s"$ds/documents.parquet")
      .filter(col("doc_id") % 3 =!= 1).coalesce(1)
      .write.parquet(s"$ds/rewrite.parquet")
    org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(s"$ds/documents.parquet"))
    Files.move(Paths.get(s"$ds/rewrite.parquet"),
      Paths.get(s"$ds/documents.parquet"), StandardCopyOption.ATOMIC_MOVE)
    runBoth()
    assert(liveDirs("q130_records") != before)
    assert(other.exists())
    (liveDirs("q130_records").map(new java.io.File(tmp, _)) :+ other :+
      new java.io.File(ds)).foreach(org.apache.hadoop.fs.FileUtil.fullyDelete)
  }
}
