package graft
package gates

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.dsl.Relation

/** What the gates share: the tuned table loader, the q98 UDF jar, and
  * the epoch artifacts — inputs and indexes derived from an sf dir once
  * and reused while it is unchanged (synthesized WARC shards, ANN/IVF
  * indexes, materialized bench payloads, bench index tables).
  *
  * Every epoch artifact is named by [[epochKey]],
  * `<tag>_<datasetPathHash>_<contentVersion>`. Building one collects its
  * siblings: the artifacts with the same tag and dataset path but
  * another version, which an in-place rewrite of the dataset left
  * stale. Artifacts of another dataset path are never touched (Bench
  * warms on sf0.001 while it times sf0.1). */
object Fixtures {

  def T(s: SparkSession, dir: String, n: String): Relation = {
    GraftSession.tune(s)
    Relation.loadTable(s, dir, n)
  }

  /** The one epoch key, `<tag>_<datasetPathHash>_<contentVersion>`.
    * The version digests the sf `table`'s file signature (name, size,
    * mtime per file), so a dataset rewritten in place rotates it, plus
    * `salt` for what else the artifact derives from. */
  def epochKey(tag: String, dataset: String, table: String,
               salt: String = ""): String = {
    val t = new File(s"$dataset/$table.parquet")
    val sig = Option(t.listFiles()).map(_.toSeq).getOrElse(Seq(t))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .sorted.mkString("|")
    val md = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$salt|$sig".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"${tag}_${(dataset.hashCode & 0x7fffffff).toHexString}_" +
      md.take(8).map("%02x".format(_)).mkString
  }

  private def epochDir(key: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$key"

  /** The versions a key's tag and dataset share: everything up to the
    * version, which is hex and so holds no `_`. */
  private def siblingPrefix(key: String): String =
    key.take(key.lastIndexOf('_') + 1)

  /** The epoch dir of `key`, its tmp-dir siblings deleted: call it
    * when about to build the artifact. */
  private def freshDir(key: String): String = {
    val own = new File(epochDir(key))
    val prefix = "graft_" + siblingPrefix(key)
    Option(own.getParentFile.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(prefix) && f != own)
      .foreach(org.apache.hadoop.fs.FileUtil.fullyDelete)
    own.getPath
  }

  /** The epoch index tables named `<key>_*` for tag `tag` over
    * dataset `d`: `build(key)` writes them unless `<key>_meta` (the
    * banded indexes' completion marker) exists in this session's
    * catalog. The stale siblings' tables are dropped first, found by
    * their warehouse dirs, which outlive an in-memory catalog. */
  def epochTables(s: SparkSession, tag: String, d: String)(
      build: String => Unit): String = {
    val key = epochKey(tag, d, "documents")
    if (!s.catalog.tableExists(s"${key}_meta")) {
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(wh))
        fs.listStatus(wh).map(_.getPath.getName)
          .filter(t => t.startsWith(siblingPrefix(key)) &&
            !t.startsWith(key + "_"))
          .foreach(graft.text.BandedIndex.dropStale(s, _))
      build(key)
    }
    key
  }

  // ANN index caches: the bucket/cell-partitioned indexes are built ONCE
  // per dataset dir and JVM and reused across query invocations (Bench's
  // warmup invokes q47/q63 untimed to build them; timed passes measure
  // the probe path — the repeated-query workload an index exists for).
  private val annIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.ml.Similarity.AnnIndex]
  private val ivfIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Array[Seq[Float]])]

  /** The ANN index over `d`'s embeddings, `build` writing it to a dir
    * on first use. */
  def annIndex(d: String)(
      build: String => graft.ml.Similarity.AnnIndex): graft.ml.Similarity.AnnIndex =
    annIndexCache.getOrElseUpdate(d,
      build(freshDir(epochKey("annidx", d, "embeddings"))))

  /** The IVF index dir over `d`'s embeddings and its centroids, `build`
    * writing it and returning the centroids on first use. */
  def ivfIndex(d: String)(
      build: String => Array[Seq[Float]]): (String, Array[Seq[Float]]) =
    ivfIndexCache.getOrElseUpdate(d, {
      val p = freshDir(epochKey("ivfidx", d, "embeddings"))
      (p, build(p))
    })

  /** Synthesize gzipped WARC shards of `d`'s documents for a gate ONCE
    * per epoch (q111/q113/q118 share this scaffold) and return their
    * dir: missing `_SUCCESS` marker → stale leftovers cleared, 4 shards
    * written one-per-partition (the file-grain the reader parallelizes
    * on), marker committed last so a crashed partial build rebuilds.
    * `tag` separates the shard sets of the gates; `mk` renders one doc
    * row into a WARC record. */
  def ensureWarcShards(docs: DataFrame, tag: String, d: String)(
      mk: Row => graft.sources.Warc.Record): String = {
    val key = epochKey(tag, d, "documents")
    val dir = epochDir(key)
    if (!new File(dir, "_SUCCESS").exists()) {
      val dd = new File(freshDir(key))
      if (dd.exists()) Option(dd.listFiles()).foreach(_.foreach(_.delete()))
      dd.mkdirs()
      docs.repartition(4).foreachPartition { (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val os = new java.util.zip.GZIPOutputStream(
          new java.io.FileOutputStream(s"$dir/part-$pid.warc.gz"))
        try graft.sources.Warc.writeStream(it.map(mk), os)
        finally os.close()
      }
      new File(dir, "_SUCCESS").createNewFile()
    }
    dir
  }

  /** Synthesis-code epoch (r18, advisory fix): the plan fingerprint in
    * [[epochParquet]] canonicalizes lambda identities away, so editing a
    * payload-synthesis UDF BODY alone would silently reuse a stale
    * corpus from a previous JVM (java.io.tmpdir persists across runs).
    * Bump this whenever any bench payload-synthesis function changes so
    * the epoch key provably rotates. */
  private val SynthEpoch = "r18a"

  /** Bench hygiene (§1.4): materialize a SYNTHESIZED bench input once
    * per epoch and return the parquet scan over it, so the timed run
    * measures the operator over a storage scan — the production shape,
    * where payloads arrive from WARC/parquet, not from an in-plan
    * generator. The version salts the documents signature with
    * [[SynthEpoch]] and the plan fingerprint — the stale-checkpoint
    * discipline Pipeline.run uses. Honesty note: the fingerprint
    * canonicalizes Scala lambda identities away (it must, to be stable
    * across JVMs), so an edited UDF BODY alone does not invalidate —
    * q123Imgs and q127Auds fingerprint identically; `tag` is what
    * separates them. Bench prebuilds these untimed; the rounds time the
    * recurring path. */
  def epochParquet(s: SparkSession, df: DataFrame, tag: String,
                   d: String): DataFrame = {
    val key = epochKey(tag, d, "documents", SynthEpoch + "|" +
      graft.text.Pipeline.stageFingerprint(df))
    if (!new File(s"${epochDir(key)}/_SUCCESS").exists())
      df.write.mode("overwrite").parquet(freshDir(key))
    graft.sources.Parquet.read(s, epochDir(key))
  }

  /** q98's sample EvalFunc jar, compiled ONCE per JVM against the
    * engine's org.apache.pig facade — the same binary surface a real
    * user jar links against. Three funcs cover the type surface:
    * String (Exclaim), joda DateTime (NextDay — the §1.2 DATETIME ↔
    * TimestampType mapping), BigDecimal (DecHalf — BIGDECIMAL ↔
    * DecimalType). */
  lazy val gateJar: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gate_jar").toFile
    val srcDir = new java.io.File(tmp, "gate/udf"); srcDir.mkdirs()
    def write(name: String, body: String): java.io.File = {
      val f = new java.io.File(srcDir, name)
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      f
    }
    val srcs = Seq(
      write("Exclaim.java",
        """package gate.udf;
          |import java.io.IOException;
          |import org.apache.pig.EvalFunc;
          |import org.apache.pig.data.Tuple;
          |public class Exclaim extends EvalFunc<String> {
          |  public String exec(Tuple input) throws IOException {
          |    Object o = input.get(0);
          |    return o == null ? null : o.toString() + "!";
          |  }
          |}
          |""".stripMargin),
      write("NextDay.java",
        """package gate.udf;
          |import java.io.IOException;
          |import org.apache.pig.EvalFunc;
          |import org.apache.pig.data.Tuple;
          |import org.joda.time.DateTime;
          |public class NextDay extends EvalFunc<DateTime> {
          |  public DateTime exec(Tuple input) throws IOException {
          |    Object o = input.get(0);
          |    return o == null ? null : ((DateTime) o).plusDays(1);
          |  }
          |}
          |""".stripMargin),
      write("DecHalf.java",
        """package gate.udf;
          |import java.io.IOException;
          |import java.math.BigDecimal;
          |import org.apache.pig.EvalFunc;
          |import org.apache.pig.data.Tuple;
          |public class DecHalf extends EvalFunc<BigDecimal> {
          |  public BigDecimal exec(Tuple input) throws IOException {
          |    Object o = input.get(0);
          |    if (o == null) return null;
          |    return new BigDecimal(((Number) o).longValue())
          |      .divide(new BigDecimal(2));
          |  }
          |}
          |""".stripMargin))
    val cls = new java.io.File(tmp, "classes"); cls.mkdirs()
    val cp = Seq(classOf[org.apache.pig.EvalFunc[_]],
        classOf[org.joda.time.DateTime])
      .map(_.getProtectionDomain.getCodeSource.getLocation.getPath)
      .distinct.mkString(java.io.File.pathSeparator)
    val rc = javax.tools.ToolProvider.getSystemJavaCompiler
      .run(null, null, null,
        (Seq("-cp", cp, "-d", cls.getPath) ++ srcs.map(_.getPath)): _*)
    require(rc == 0, "gate EvalFunc javac failed")
    val jar = new java.io.File(tmp, "gateudf.jar")
    val jos = new java.util.jar.JarOutputStream(
      new java.io.FileOutputStream(jar))
    Seq("Exclaim", "NextDay", "DecHalf").foreach { n =>
      jos.putNextEntry(new java.util.jar.JarEntry(s"gate/udf/$n.class"))
      jos.write(java.nio.file.Files.readAllBytes(
        new java.io.File(cls, s"gate/udf/$n.class").toPath))
      jos.closeEntry()
    }
    jos.close()
    jar.getPath
  }
}
