package graft

import org.apache.spark.sql.functions._
import graft.text.SigIndex

/** The 64-bit-signature ingest index (r17): write → probe → drop →
  * append semantics, the Hamming-7 recall guarantee of query-side
  * multi-probe against exact index chunks, and the hot-bucket cap. */
class SigIndexSpec extends SparkSpec {
  import spark.implicits._

  private def sigsDf(rows: (Long, java.lang.Long)*) =
    rows.toSeq.toDF("id", "sig")

  test("write + nearDupsAgainst: exact and ≤7-bit batch twins are " +
       "caught (the guarantee radius, worst-case bit placement); a " +
       "far signature never pairs; null sigs drop on both sides") {
    SigIndex.write(sigsDf(
      1L -> 0x0123456789ABCDEFL,
      2L -> 0x7777777777777777L,
      3L -> null), "id", "sig", "sigix_t1")
    // 7 bits spread worst-case: 2 bits in each of three bands, 1 in
    // the fourth — pigeonhole leaves ONE band within probe radius 1
    val sevenOff = 0x0123456789ABCDEFL ^
      ((3L << 0) | (3L << 16) | (3L << 32) | (1L << 48))
    assert(java.lang.Long.bitCount(
      sevenOff ^ 0x0123456789ABCDEFL) == 7)
    val batch = sigsDf(
      10L -> 0x0123456789ABCDEFL,         // exact dup of 1
      11L -> sevenOff,                     // 7-bit twin of 1
      12L -> (0x0123456789ABCDEFL ^ -1L),  // 64 bits away from 1
      13L -> null)
    val pairs = SigIndex.nearDupsAgainst(batch, "id", "sig", "sigix_t1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSet == Set((10L, 1L, 0L), (11L, 1L, 7L)),
      s"got: ${pairs.toSeq}")
    val kept = SigIndex.dropDupsAgainst(batch, "id", "sig", "sigix_t1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L, 13L),
      "the far sig AND the undecodable (null) row must survive — " +
        "nulls report upstream, they are never silently dropped")
    val e = intercept[IllegalArgumentException] {
      SigIndex.nearDupsAgainst(batch, "id", "sig", "sigix_t1",
        maxDistance = 8)
    }
    assert(e.getMessage.contains("Hamming 7"),
      "distances beyond the recall guarantee must be rejected loudly")
  }

  test("append is incremental: a twin of an appended signature is " +
       "caught by the NEXT batch without rebuilding; bucket counts " +
       "merge-bump") {
    SigIndex.write(sigsDf(1L -> 0x1111222233334444L), "id", "sig",
      "sigix_t2")
    val batch1 = sigsDf(20L -> 0x5555666677778888L)
    assert(SigIndex.nearDupsAgainst(batch1, "id", "sig", "sigix_t2")
      .count() == 0)
    SigIndex.append(batch1, "id", "sig", "sigix_t2")
    // twin of the APPENDED sig (2 bits off) and of the original
    val batch2 = sigsDf(
      30L -> (0x5555666677778888L ^ 3L),
      31L -> 0x1111222233334444L)
    val pairs = SigIndex.nearDupsAgainst(batch2, "id", "sig", "sigix_t2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((30L, 20L), (31L, 1L)), s"got $pairs")
    // counts reflect both epochs: 4 chunk rows per indexed sig
    val total = spark.table("sigix_t2_sigbucketcounts")
      .agg(sum("n")).head().getLong(0)
    assert(total == 8L, s"expected 2 sigs x 4 bands, got $total")
  }

  test("hot-bucket cap: buckets over the index-population cap are " +
       "skipped — the documented recall/cost lever for degenerate " +
       "constant signatures") {
    // 40 identical sigs pool 40 into each of their 4 buckets
    SigIndex.write((1L to 40L).map(i => i -> java.lang.Long.valueOf(0xABCDL))
      .toDF("id", "sig"), "id", "sig", "sigix_t3")
    val batch = sigsDf(100L -> 0xABCDL)
    assert(SigIndex.nearDupsAgainst(batch, "id", "sig", "sigix_t3",
      maxBucket = 10).count() == 0,
      "all 4 bucket paths exceed the cap — candidate set must be empty")
    assert(SigIndex.nearDupsAgainst(batch, "id", "sig", "sigix_t3",
      maxBucket = 1000).count() == 40)
  }

  test("append with _sigbucketcounts MISSING (crash window) rebuilds " +
       "exact counts — the fallback must not double-count the batch") {
    SigIndex.write(sigsDf(
      1L -> 0x1111222233334444L,
      2L -> 0x0123456789ABCDEFL), "id", "sig", "sigix_t4")
    // a crash between the count table's drop and its rewrite: the
    // filter's hot guard and the append's bump both take the fallback
    spark.sql("DROP TABLE sigix_t4_sigbucketcounts")
    val batch = sigsDf(
      40L -> 0x1111222233334444L,   // exact twin of 1: filtered
      41L -> 0x5555666677778888L,   // novel
      42L -> (0x0123456789ABCDEFL ^ -1L))  // far from everything
    val kept = SigIndex.dropDupsAgainst(batch, "id", "sig", "sigix_t4")
    SigIndex.append(kept, "id", "sig", "sigix_t4")
    val expected = spark.table("sigix_t4_sigbuckets")
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
    val counts = spark.table("sigix_t4_sigbucketcounts")
    assert(counts.except(expected).isEmpty &&
      expected.except(counts).isEmpty)
    assert(counts.agg(sum("n")).head().getLong(0) == 16L,
      "4 indexed sigs (2 written + 2 appended survivors) x 4 bands")
  }
}
