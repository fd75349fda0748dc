package graft

import org.apache.spark.sql.functions._
import graft.text.{Dedup, DedupIndex}

/** Incremental dedup against a persisted bucketed index
  * ([[graft.text.DedupIndex]]): exact digests, LSH candidates, and the
  * full ingest filter must agree with the in-corpus pipelines. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val old = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "pack my box with five dozen liquor jugs for the party tonight"),
    (3L, "sphinx of black quartz judge my vow said the old librarian"),
    (4L, "completely unrelated text about compilers and type inference"),
    (5L, "a second unrelated passage concerning distributed query engines"),
    (6L, "the quick brown fox naps under the lazy dog again and again"))
    .toDF("doc_id", "text")

  private val batch = Seq(
    // exact duplicate of old doc 2
    (101L, "pack my box with five dozen liquor jugs for the party tonight"),
    // near-duplicate of old doc 1 (one word changed)
    (102L, "the quick brown fox jumps over the lazy cat again and again"),
    // novel
    (103L, "entirely fresh content that matches nothing in the index"))
    .toDF("doc_id", "text")

  private val P = DedupIndex.Params(n = 3, numHashes = 64, numBands = 16)

  test("index round-trip: exact dups, near dups, and the ingest filter " +
       "against a freshly written index") {
    DedupIndex.write(old, "doc_id", "text", "ix1", P)
    assert(DedupIndex.paramsOf(spark, "ix1") == P)

    val exact = DedupIndex.exactDupsAgainst(batch, "doc_id", "text", "ix1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((101L, 2L)))

    val near = DedupIndex.nearDupsAgainst(batch, "doc_id", "text", "ix1",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 101 is ALSO a near-dup (jaccard 1.0) of 2; 102 pairs with 1
    val nearPairs = near.map(p => (p._1, p._2)).toSet
    assert(nearPairs.contains((102L, 1L)), s"missed the near-dup: $near")
    assert(near.collectFirst {
      case (101L, 2L, j) => j }.contains(1.0), s"exact pair jaccard: $near")
    assert(!nearPairs.exists(_._1 == 103L), s"novel doc paired: $near")

    val kept = DedupIndex.dropDupsAgainst(batch, "doc_id", "text", "ix1",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(103L))
  }

  test("incremental near-dups == the in-corpus pipeline's cross pairs " +
       "(same family, same verify, same threshold)") {
    DedupIndex.write(old, "doc_id", "text", "ix2", P)
    val incr = DedupIndex.nearDupsAgainst(batch, "doc_id", "text", "ix2",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // the whole-corpus pipeline over old ∪ batch, restricted to
    // (old, new) cross pairs, must agree pair-for-pair AND value-for-
    // value — the index path reuses the same gram hashing, the same
    // seeded MinHash family, the same banding, the same verify
    val all = Dedup.minhashNearDupsByWords(old.union(batch),
      "doc_id", "text", n = P.n, numHashes = P.numHashes,
      numBands = P.numBands, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = all.collect {
      case (a, b, j) if a <= 6L && b >= 101L => (b, a, j)
      case (a, b, j) if b <= 6L && a >= 101L => (a, b, j)
    }.toSet
    assert(incr == cross,
      s"only-incr=${incr -- cross} only-corpus=${cross -- incr}")
    assert(incr.nonEmpty)
  }

  test("the ingest loop closes: append batch survivors, then a second " +
       "batch dedups against them too") {
    DedupIndex.write(old, "doc_id", "text", "ix4", P)
    val survivors = DedupIndex.dropDupsAgainst(batch, "doc_id", "text",
      "ix4", threshold = 0.5)
    assert(survivors.select("doc_id").as[Long].collect().toSet ==
      Set(103L))
    DedupIndex.append(survivors, "doc_id", "text", "ix4")
    // batch 2: an exact dup of the APPENDED doc 103, a near-dup of the
    // ORIGINAL doc 3, and a novel doc
    val batch2 = Seq(
      (201L, "entirely fresh content that matches nothing in the index"),
      (202L, "sphinx of white quartz judge my vow said the old librarian"),
      (203L, "no overlap with anything whatsoever in this tiny corpus"))
      .toDF("doc_id", "text")
    val exact2 = DedupIndex.exactDupsAgainst(batch2, "doc_id", "text",
        "ix4")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact2 == Set((201L, 103L)), s"appended doc not indexed: $exact2")
    val kept2 = DedupIndex.dropDupsAgainst(batch2, "doc_id", "text",
        "ix4", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(203L), s"second batch filter: $kept2")
  }

  test("append merge-bumps _bucketcounts to EXACTLY the full " +
       "re-aggregation (without scanning the whole bucket table)") {
    DedupIndex.write(old, "doc_id", "text", "ix5", P)
    val survivors = DedupIndex.dropDupsAgainst(batch, "doc_id", "text",
      "ix5", threshold = 0.5)
    DedupIndex.append(survivors, "doc_id", "text", "ix5")
    val expected = spark.table("ix5_buckets")
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
    assert(spark.table("ix5_bucketcounts").except(expected).isEmpty &&
      expected.except(spark.table("ix5_bucketcounts")).isEmpty)
  }

  test("append with _bucketcounts MISSING (crash window) rebuilds " +
       "exact counts — the fallback must not double-count the batch") {
    DedupIndex.write(old, "doc_id", "text", "ix6", P)
    // simulate a crash that landed between bumpBucketCounts' drop and
    // its rewrite: the counts table is gone, _buckets is intact — the
    // restarted ingest job builds its batch plans against the missing
    // table (both the filter's hot-key guard and the append's bump
    // take the recompute fallback)
    spark.sql("DROP TABLE ix6_bucketcounts")
    val survivors = DedupIndex.dropDupsAgainst(batch, "doc_id", "text",
      "ix6", threshold = 0.5)
    DedupIndex.append(survivors, "doc_id", "text", "ix6")
    // the fallback recompute must reflect _buckets BEFORE the batch's
    // append (then + the batch's counts), i.e. exactly the full
    // post-append re-aggregation — a lazy fallback would scan the
    // post-append table and count the batch twice
    val expected = spark.table("ix6_buckets")
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
    assert(spark.table("ix6_bucketcounts").except(expected).isEmpty &&
      expected.except(spark.table("ix6_bucketcounts")).isEmpty)
  }

  test("rebuilding an index overwrites it; a changed corpus changes " +
       "the answers") {
    DedupIndex.write(old, "doc_id", "text", "ix3", P)
    assert(DedupIndex.exactDupsAgainst(batch, "doc_id", "text", "ix3")
      .count() == 1)
    // rebuild WITHOUT doc 2: the exact dup disappears
    DedupIndex.write(old.filter(col("doc_id") =!= 2L),
      "doc_id", "text", "ix3", P)
    assert(DedupIndex.exactDupsAgainst(batch, "doc_id", "text", "ix3")
      .count() == 0)
  }

  test("a never-written index fails loudly, naming the index, on " +
       "append, paramsOf and nearDupsAgainst") {
    val calls = Seq[() => Any](
      () => DedupIndex.append(batch, "doc_id", "text", "ix_missing"),
      () => DedupIndex.paramsOf(spark, "ix_missing"),
      () => DedupIndex.nearDupsAgainst(batch, "doc_id", "text",
        "ix_missing"))
    for (call <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("'ix_missing'") &&
        e.getMessage.contains("write() it first"), e.getMessage)
    }
  }

  test("hot-bucket cap: band buckets over maxBucket on the index side " +
       "are skipped — no pairs at a low cap, every pair at a high one") {
    // 20 copies of one text pool 20 ids into each of its band buckets
    val text = "the same boilerplate paragraph repeated across many pages"
    DedupIndex.write((1L to 20L).map(i => (i, text)).toDF("doc_id", "text"),
      "doc_id", "text", "ix7", P)
    val probe = Seq((100L, text)).toDF("doc_id", "text")
    assert(DedupIndex.nearDupsAgainst(probe, "doc_id", "text", "ix7",
      maxBucket = 10).count() == 0,
      "every band bucket exceeds the cap — no candidate may survive")
    val pairs = DedupIndex.nearDupsAgainst(probe, "doc_id", "text", "ix7",
        maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSet == (1L to 20L).map(i => (100L, i, 1.0)).toSet,
      s"got ${pairs.toSeq}")
  }

  test("band rows: the literal per-band keys reproduce the stored " +
       "MinHash and SimHash bucket forms, probes included") {
    // indexes written with the transform(sequence(...)) MinHash banding
    // and the shift-and-mask chunking must still join after the move
    // to one banded core: same schema, same (id, band, bucket) rows
    val rnd = new scala.util.Random(11)
    val sigs = (1L to 200L).map(i =>
        (i, Seq.fill(64)(rnd.nextLong()), rnd.nextLong()))
      .toDF("id", "sig", "simhash")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    def same(got: org.apache.spark.sql.DataFrame,
             ref: org.apache.spark.sql.DataFrame): Unit = {
      assert(got.schema == ref.schema)
      assert(rows(got) == rows(ref))
    }
    val (bands, r) = (16, 4)
    same(Dedup.lshBuckets(sigs, "id", "sig", bands, r),
      sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * r + 1, lit(r)), b)))
          .as(Seq("band", "bucket"))))
    def chunk(b: Int) = shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)
    val keys = Dedup.simhashChunks(col("simhash"))
    same(Dedup.bandRows(sigs, "id", keys),
      sigs.select(col("id"),
        posexplode(array((0 until 4).map(chunk): _*)).as(Seq("band", "bucket"))))
    val masks = 0L +: (0 until 16).map(i => 1L << i)
    same(Dedup.bandRows(sigs, "id", keys, probeBits = 16),
      sigs.select(col("id"), explode(flatten(array((0 until 4).map(b =>
          array(masks.map(m => struct(lit(b).as("band"),
            chunk(b).bitwiseXOR(lit(m)).as("bucket"))): _*)): _*))).as("e"))
        .select(col("id"), col("e.band").as("band"),
          col("e.bucket").as("bucket")))
  }
}
