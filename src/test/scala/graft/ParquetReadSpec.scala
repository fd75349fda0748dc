package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dsl.Relation
import graft.frontend.PigRunner
import graft.sources.Parquet

/** [[Parquet.read]] resolves a read's schema from one footer on the
  * driver; everything it returns must match `spark.read.parquet` — the
  * schema under `==` and `.json` (field metadata included), the rows,
  * the plan fingerprint, and for inputs it leaves to Spark, the
  * exception. */
class ParquetReadSpec extends SparkSpec {

  /** The directory of the shared tables [[sf]] reads. */
  private lazy val sfDir = new org.apache.hadoop.fs.Path(
    sf("nation").inputFiles.head).getParent.toUri.getPath

  private def tmp(): String = Files.createTempDirectory("pq").toString

  /** Same schema and rows as Spark's own inference, and the schema was
    * resolved on the driver (not by falling back). */
  private def assertSame(paths: String*): DataFrame = {
    assert(Parquet.footerSchema(spark, paths).isDefined,
      s"not resolved on the driver: ${paths.mkString(",")}")
    val ours = Parquet.read(spark, paths: _*)
    val theirs = spark.read.parquet(paths: _*)
    assert(ours.schema == theirs.schema)
    assert(ours.schema.json == theirs.schema.json)
    assert(ours.collect().toSeq == theirs.collect().toSeq)
    // the same plan: a Pipeline stage over this read keeps its fingerprint
    assert(graft.text.Pipeline.stageFingerprint(ours) ==
      graft.text.Pipeline.stageFingerprint(theirs))
    ours
  }

  private def assertSameFailure(paths: String*): Unit = {
    val ours = intercept[Exception](Parquet.read(spark, paths: _*))
    val theirs = intercept[Exception](spark.read.parquet(paths: _*))
    assert(ours.getClass == theirs.getClass)
    assert(ours.getMessage == theirs.getMessage)
  }

  /** Copies the single data file of a written parquet dir to `to`. */
  private def copyPart(dir: String, to: String): Unit = {
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(to), StandardCopyOption.REPLACE_EXISTING)
  }

  test("every sf table: schema and rows equal Spark's inference") {
    val tables = new java.io.File(sfDir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(tables.contains("events.parquet"))
    tables.foreach(t => assertSame(s"$sfDir/$t"))
  }

  test("a footer without Spark's schema converts under the session's flags") {
    // TIMESTAMP(NANOS) and an unannotated binary, written by a non-Spark
    // writer, so the schema comes from the converter, not the row
    // metadata key
    val d = tmp()
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); " +
        "optional binary raw; }")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(msg, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$d/nanos/part-0.parquet"))
      .withConf(conf).build()
    val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
    try Seq(1700000000123456789L, 1700000001000000001L).foreach { ns =>
      w.write(rows.newGroup().append("ts", ns).append("raw", s"r$ns"))
    } finally w.close()
    import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val st = assertSame(s"$d/nanos").schema
    assert(st("ts").dataType == LongType && st("raw").dataType == BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try assert(assertSame(s"$d/nanos").schema("raw").dataType == StringType)
    finally spark.conf.unset("spark.sql.parquet.binaryAsString")
  }

  test("Pig STORE outputs: bags, maps, tuples and declared-type metadata") {
    val d = tmp()
    Files.write(Paths.get(s"$d/in.txt"),
      ("[k#v]\t(1,foo)\t{(1),(2)}\t5\thello\n" +
       "[a#b,c#d]\t(2,bar)\t{(3)}\t6\thello\n" +
       "\t(3,baz)\t{}\t7\tworld\n").getBytes("UTF-8"))
    PigRunner(spark).run(s"""
      a = LOAD '$d/in.txt' AS (m:map[], t:(x:int, y:chararray),
                               b:{(v:int)}, n:long, s:chararray);
      g = GROUP a BY s;
      STORE a INTO '$d/flat';
      STORE g INTO '$d/grouped';
    """)
    val flat = assertSame(s"$d/flat")
    assert(flat.schema.fields.forall(_.metadata.contains("pig_type")))
    assertSame(s"$d/grouped")
    // and through the LOAD that reads them back
    val back = PigRunner(spark).run(s"r = LOAD '$d/grouped';")("r").df
    assert(back.schema == spark.read.parquet(s"$d/grouped").schema)
  }

  test("_common_metadata wins over _metadata, which wins over part files") {
    val d = tmp()
    spark.range(3).select(col("id"), lit("x").as("a"))
      .write.parquet(s"$d/data")
    spark.range(1).select(col("id"), lit(1.5).as("b"))
      .write.parquet(s"$d/meta")
    spark.range(1).select(col("id"), lit(true).as("c"))
      .write.parquet(s"$d/common")
    copyPart(s"$d/meta", s"$d/data/_metadata")
    assert(assertSame(s"$d/data").columns.toSeq == Seq("id", "b"))
    copyPart(s"$d/common", s"$d/data/_common_metadata")
    assert(assertSame(s"$d/data").columns.toSeq == Seq("id", "c"))
  }

  test("part files with different schemas: the first by sorted path wins") {
    val d = tmp()
    spark.range(2).select(col("id"), lit("x").as("a")).write.parquet(s"$d/x")
    spark.range(2).select(col("id"), lit(2L).as("z")).write.parquet(s"$d/y")
    Files.createDirectory(Paths.get(s"$d/mixed"))
    copyPart(s"$d/x", s"$d/mixed/part-1.parquet")
    copyPart(s"$d/y", s"$d/mixed/part-0.parquet")
    assert(assertSame(s"$d/mixed").columns.toSeq == Seq("id", "z"))
  }

  test("comma-list paths, globs and k=v partitioned directories") {
    val d = tmp()
    assertSame(s"$sfDir/nation.parquet", s"$sfDir/region.parquet")
    assertSame(s"$sfDir/{region,nation}.parquet")
    spark.range(6).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(s"$d/parts")
    assert(assertSame(s"$d/parts").columns.toSeq == Seq("id", "k"))
    assertSame(s"$d/parts/k=*")
  }

  test("empty directory and missing path fail exactly as Spark does") {
    val d = tmp()
    Files.createDirectory(Paths.get(s"$d/empty"))
    assertSameFailure(s"$d/empty")
    assertSameFailure(s"$d/missing")
    assertSameFailure(s"$d/missing*")
  }

  test("mergeSchema and unreadable footers are left to Spark") {
    val d = tmp()
    Files.createDirectory(Paths.get(s"$d/bad"))
    Files.write(Paths.get(s"$d/bad/part-0.parquet"), "PAR1oops".getBytes)
    assert(Parquet.footerSchema(spark, Seq(s"$d/bad")).isEmpty)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Parquet.footerSchema(spark, Seq(s"$sfDir/nation.parquet"))
      .isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a streaming sink's output is read through its metadata log") {
    val d = tmp()
    spark.range(3).select(col("id"), lit("x").as("a"))
      .write.parquet(s"$d/in")
    val q = spark.readStream.schema(spark.read.parquet(s"$d/in").schema)
      .parquet(s"$d/in").writeStream.format("parquet")
      .option("checkpointLocation", s"$d/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$d/sink")
    q.awaitTermination()
    // an uncommitted file that sorts first: a plain listing would take
    // its schema, the sink's metadata log does not list it
    spark.range(1).select(lit(1.5).as("other")).write.parquet(s"$d/stray")
    copyPart(s"$d/stray", s"$d/sink/a-stray.parquet")
    assert(Parquet.footerSchema(spark, Seq(s"$d/sink")).isEmpty)
    assert(Parquet.read(spark, s"$d/sink").columns.toSeq == Seq("id", "a"))
  }

  /** Spark jobs started while `body` runs, counted once the listener bus
    * has delivered every event. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc); jobs.get() }
    finally sc.removeSparkListener(listener)
  }

  test("a two-LOAD parquet script and Relation.loadTable start no job") {
    val dir = sfDir // resolved outside the counted window
    val script = jobsDuring {
      PigRunner(spark).run(s"""
        n = LOAD '$dir/nation.parquet';
        r = LOAD '$dir/region.parquet';
        j = JOIN n BY n_regionkey, r BY r_regionkey;
      """)
    }
    assert(script == 0)
    assert(jobsDuring(Relation.loadTable(spark, dir, "lineitem")) == 0)
  }
}
