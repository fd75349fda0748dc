package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB case:
  *
  *  - exact dedup: hash-groupBy — one shuffle on a 16-byte digest, with
  *    partial aggregation before the exchange;
  *  - MinHash + LSH: per-row signature computation is pure codegen'd
  *    column work; only (band, bucket) keys shuffle — candidate pairs are
  *    generated per-bucket, never a global cross join;
  *  - SimHash: 64-bit signature per doc; near-dup candidates via banded
  *    16-bit chunks, verified by hamming distance (`bit_count(a^b)`);
  *  - n-gram Jaccard: exact verification on candidate pairs only.
  */
object Dedup {

  /** The shared MinHash hash-family constants: p_j(x) = a_j·x + b_j with
    * a_j odd (multiply-shift universal hashing). ONE definition — every
    * signature entry point must use the same family or signatures from
    * different paths would be silently incomparable. */
  private def hashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  // ------------------------------------------------------------------
  // Exact dedup
  /** One row per distinct content hash: (hash, n_dups, keep_id). */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast(BinaryType)).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Drop exact duplicates, keeping the smallest id per content hash.
    * Shuffles once on the content hash; no window over the full rows. */
  def dropExactDups(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactDupGroups(df, textCol, idCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------------
  // Shingling
  /** Character k-shingles WITH duplicates — cheap (no O(n²) dedup); use
    * for MinHash signatures where min() is duplicate-insensitive. */
  def charShinglesRaw(text: Column, k: Int): Column =
    when(length(text) >= k,
      transform(sequence(lit(1), length(text) - (k - 1)),
        i => substring_col(text, i, k)))
      .otherwise(array(text))

  /** Distinct character k-shingles (set semantics, e.g. for Jaccard). */
  def charShingles(text: Column, k: Int): Column =
    array_distinct(charShinglesRaw(text, k))

  private def substring_col(text: Column, pos: Column, len: Int): Column =
    text.substr(pos, lit(len))

  /** Distinct word n-grams over whitespace tokens. */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  /** MinHash signature. Each shingle is string-hashed ONCE (xxhash64, a
    * native Catalyst expression); the numHashes families are then cheap
    * linear permutations p_j(x) = a_j·x + b_j over the 64-bit base hash
    * (multiply-shift universal hashing — rehashing the string per family
    * would cost numHashes× the string work for no extra independence).
    * Constants come from a fixed-seed PRNG so signatures are stable
    * across runs and executors. */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val params = hashParams(numHashes)
    val base = transform(shingles, s => xxhash64(s))
    val mins = params.map { case (a, b) =>
      array_min(transform(base, x => x * a + b))
    }
    array(mins: _*)
  }

  /** LSH banding: rows with an identical band slice land in one bucket.
    * Returns (idCol, band, bucket) — explode is numBands rows per doc. */
  def lshBuckets(df: DataFrame, idCol: String, sigCol: String,
                 numBands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)),
          b => xxhash64(slice(col(sigCol), b * rowsPerBand + 1,
                 lit(rowsPerBand)), b)))
          .as(Seq("band", "bucket")))

  /** Candidate near-dup pairs (a < b) from shared LSH buckets. Buckets
    * larger than `maxBucket` are dropped (degenerate content — at 100 TB a
    * hot bucket would otherwise produce a quadratic pair blow-up; the cap
    * bounds per-bucket work, the same role as Pig's skewed-join sampling). */
  def lshCandidatePairs(df: DataFrame, idCol: String, sigCol: String,
                        numBands: Int, rowsPerBand: Int,
                        maxBucket: Int = 1000): DataFrame = {
    // rowsPerBand = 0 (numBands > numHashes after integer division)
    // would hash an EMPTY slice per band — every doc in one bucket,
    // then the size cap silently drops everything
    require(numBands >= 1 && rowsPerBand >= 1,
      s"banding needs numBands >= 1 and rowsPerBand >= 1 " +
        s"(got $numBands x $rowsPerBand)")
    cappedCandidatePairs(
      lshBuckets(df, idCol, sigCol, numBands, rowsPerBand), idCol, maxBucket)
  }

  /** Shared bucket→pairs step for every LSH family (MinHash bands, SimHash
    * chunks, random-hyperplane bands): group a `(idCol, band, bucket)`
    * frame per (band, bucket), DROP buckets larger than `maxBucket`
    * (degenerate content would otherwise go quadratic), and emit distinct
    * (id_a < id_b) candidate pairs.
    *
    * Shape note (r17, measured): a bucket-keyed SELF-JOIN form (count →
    * filter → members ⋈ members) was prototyped to get the pair
    * generation out of interpreted HOF land and was ~1 s faster on the
    * probe-multiplied q104 — but Spark's self-join deduplication
    * re-aliases one side and exchange reuse does NOT fire across the
    * copies, so every caller whose bucket stream sits on a real
    * aggregation (the 64-agg minhash signatures) recomputed that
    * aggregation 2–4× per pairs call: q43 3.6→6–12 s, q80 4→6–9 s,
    * q105 3→6–11 s. This form consumes the bucket stream exactly ONCE;
    * that dominates at every measured scope.
    *
    * Pair generation (r18) streams through two codegen'd generators —
    * posexplode picks each member as `id_a`, then explode(slice) emits
    * its strictly-greater bucket-mates as `id_b` — instead of the old
    * nested-transform HOF that built one bucket's FULL (i<j) pair
    * array in memory: higher-order functions are CodegenFallback
    * (interpreted per grouped row — measured ~2.5 s of q104's 3.4 s),
    * and the flattened array was O(maxBucket²) structs in a single
    * allocation at the cap (17k cap → ~144M structs, an OOM at real-
    * corpus bucket sizes). Now per-row transient state is O(bucket)
    * (each id_a row carries one reference to the bucket's id array),
    * pairs stream straight into the distinct's partial aggregate, and
    * every expression in the path (slice/size/sort_array + the
    * generators) is codegen-capable. The pair SET is unchanged: same
    * sorted array, same (i<j) enumeration, same distinct. */
  def cappedCandidatePairs(buckets: DataFrame, idCol: String,
                           maxBucket: Int): DataFrame = {
    val grouped = buckets.groupBy(col("band"), col("bucket"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(sort_array(col("ids")).as("ids"))
    // per-bucket pair generation: ids sorted; member i pairs with every
    // later member (posexplode's pos is 0-based, slice is 1-based, so
    // the strictly-after suffix starts at pos + 2; slice clamps at the
    // array end and explode drops the empty suffix of the last member)
    grouped
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids"))))
          .as("id_b"))
      .distinct()
  }

  /** EXACT all-pairs word-n-gram Jaccard above a threshold, in the
    * scalable relational form (inverted-index join): explode each doc's
    * DISTINCT grams, self-join on the gram to count |A∩B| per pair, then
    * |A∪B| = |A| + |B| − |A∩B|. No approximation and no cross join — the
    * join cost is Σ_gram df(gram)², driven by gram document-frequency,
    * not corpus size². This is the exact verification twin that gates the
    * approximate MinHash pipeline (q43); on corpora with very hot grams
    * (boilerplate headers) the df² term dominates — dedup the boilerplate
    * first or raise n. Reference semantics: the same Jaccard the
    * reference computes per candidate pair (test/org/apache/pig — no
    * direct counterpart; extension operator). */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val grams = df.select(col(idCol),
      explode(wordNgrams(col(textCol), n)).as("gram"))
    val sizes = grams.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val ga = grams.select(col(idCol).as("id_a"), col("gram"))
    val gb = grams.select(col(idCol).as("id_b"), col("gram"))
    val inter = ga.join(gb, "gram").filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT all-pairs hamming-distance filter over 64-bit signatures —
    * the quadratic verification twin for the banded SimHash pipeline.
    * O(n²) bit_count comparisons (codegen'd longs): fine as a CHECK on
    * bounded inputs, NOT a production path at 100 TB — that's what the
    * banding is for. */
  def exactHammingPairs(sigs: DataFrame, idCol: String,
                        maxDistance: Int): DataFrame = {
    val a = sigs.select(col(idCol).as("id_a"), col("simhash").as("sig_a"))
    val b = sigs.select(col(idCol).as("id_b"), col("simhash").as("sig_b"))
    // explicit broadcast: the input is documented BOUNDED (this is the
    // quadratic verify twin), and with estimate-based static broadcasts
    // off a non-equi join would otherwise plan a CartesianProduct
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
  }

  /** All-pairs exact 128-bit hamming (quadratic — the verify twin of
    * [[simhashNearDups128]], never the production path). */
  def exactHamming128Pairs(sigs: DataFrame, idCol: String,
                           maxDistance: Int): DataFrame = {
    val a = sigs.select(col(idCol).as("id_a"),
      col("simhash_lo").as("lo_a"), col("simhash_hi").as("hi_a"))
    val b = sigs.select(col(idCol).as("id_b"),
      col("simhash_lo").as("lo_b"), col("simhash_hi").as("hi_b"))
    // bounded verify twin: same explicit-broadcast note as the 64-bit form
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming128(col("lo_a"), col("hi_a"),
                   col("lo_b"), col("hi_b")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
  }

  /** Exact n-gram Jaccard similarity of two shingle sets. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) > 0,
      size(array_intersect(a, b)).cast(DoubleType) /
        size(array_union(a, b)))
      .otherwise(lit(0.0))

  /** End-to-end MinHash near-dup pipeline: shingle → sign → band →
    * candidate pairs → exact-Jaccard verify ≥ threshold. */
  /** MinHash signatures via explode + numHashes `min` aggregates. Unlike
    * the array-HOF form (interpreted lambdas over per-row arrays), every
    * stage here is whole-stage-codegen'd: explode → xxhash64 → partial
    * min-agg before the exchange, so only numHashes longs per doc cross
    * the shuffle regardless of document size. This is the 100 TB shape. */
  def minhashSignatures(shingled: DataFrame, idCol: String,
                        numHashes: Int): DataFrame =
    // ONE hash family, one implementation: delegate to the gram-stream
    // form so the two signature entry points can never drift apart
    minhashSignaturesFromGrams(
      shingled.select(col(idCol), explode(col("shingles")).as("__g")),
      idCol, "__g", numHashes)

  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 5, numHashes: Int = 64,
                      numBands: Int = 16, threshold: Double = 0.8): DataFrame =
    minhashNearDupsWith(df, idCol, textCol,
      t => charShingles(t, shingleK), numHashes, numBands, threshold)

  /** MinHash near-dups over word n-grams. Grams build IN-ROW as 64-bit
    * hash-of-token-hashes (the explodeHashedWordNgrams kernel) — the
    * per-row token-hash and gram arrays are transient codegen'd
    * transforms, and NO per-token exchange exists in the plan (the
    * previous form windowed every token through a per-doc
    * shuffle+sort). The hashed gram stream feeds (a) the signature
    * aggregation (64 partial min-aggs — 64 longs per doc cross the
    * shuffle) and (b) the verify step, which collects gram-hash SETS
    * only for candidate-pair docs (semi-join first). The usual choice
    * for documents: ~10× fewer shingles than character k-grams. */
  def minhashNearDupsByWords(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, numHashes: Int = 64,
                             numBands: Int = 16,
                             threshold: Double = 0.8,
                             maxBucket: Int = 1000): DataFrame = {
    require(numBands >= 1 && numBands <= numHashes &&
      numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands " +
        s"($numBands) — a remainder would silently ignore signature tail")
    // grams are built IN-ROW as 64-bit hash-of-token-hashes (the
    // explodeHashedWordNgrams kernel q100/q45 already use) — the old
    // form posexplode'd every TOKEN through a per-doc window
    // (shuffle+sort of the whole token stream) and materialized each
    // gram as a string. Both consumers are hash-compatible: the
    // signature min-agg only needs a uniform 64-bit gram key, and the
    // verify jaccard compares gram SETS, identical on hashes absent a
    // 64-bit collision (the standing caveat). Docs with < n tokens
    // hash their whole token list as the single gram (same identity
    // semantics as the old whole-text gram). Null-text and zero-token
    // docs DO carry one shared gram on both forms (ansi=false:
    // size(null) = -1 routes them into the short-doc branch — old
    // gram "", new gram xxhash64(null) = xxhash64(empty) = the seed),
    // so degenerate empty docs pair with each other at jaccard 1.0,
    // exactly as before. Measured r13 (A/B, same harness): pair
    // sets bit-identical (256 @ sf0.1, 2560 @ sf1); wall ~1.25× better
    // at sf0.1, a wash at sf1 locally where the 64 min-aggs dominate —
    // kept because it deletes a whole per-token exchange+sort from the
    // plan (the term that matters on IO-bound storage) and the verify
    // sets carry longs instead of gram strings.
    val grams = graft.GraftSession.trackPersist(
      explodeHashedWordNgrams(df, Seq(idCol), textCol, n, "gram"))
    val sigs = minhashSignaturesFromGrams(grams, idCol, "gram", numHashes)
    // pairs feed TWO consumers (the candidate-id explode and the final
    // verify double-join); unpersisted, each consumer re-ran the
    // whole signature aggregation + banding above them (PlanAudit r17:
    // the SortMergeJoin/banding subtree appeared twice in q43's
    // executed plan). The pair frame is two longs per candidate —
    // persist it, pay the aggregation once
    val pairs = graft.GraftSession.trackPersist(
      lshCandidatePairs(sigs, idCol, "sig",
        numBands, numHashes / numBands, maxBucket))
    // exact-Jaccard verify on candidate docs only
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val candSets = grams.join(candIds, idCol)
      .groupBy(col(idCol)).agg(collect_set(col("gram")).as("sh"))
    val sa = candSets.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val sb = candSets.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Signatures from an exploded (id, gram) stream — every stage
    * codegen'd, partial-aggregated before the exchange. */
  def minhashSignaturesFromGrams(grams: DataFrame, idCol: String,
                                 gramCol: String, numHashes: Int): DataFrame = {
    val params = hashParams(numHashes)
    val hashed = grams.select(col(idCol), xxhash64(col(gramCol)).as("h"))
    val aggs = params.zipWithIndex.map { case ((a, b), j) =>
      min(col("h") * a + b).as(s"m$j")
    }
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(j => col(s"m$j")): _*).as("sig"))
  }

  def minhashNearDupsWith(df: DataFrame, idCol: String, textCol: String,
                          shingler: Column => Column, numHashes: Int,
                          numBands: Int, threshold: Double): DataFrame = {
    require(numBands >= 1 && numBands <= numHashes &&
      numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands " +
        s"($numBands) — a remainder would silently ignore signature tail")
    // The shingle scan feeds three consumers (signing, and both sides of
    // the verify join) — persist it once (tracked). At 100 TB this
    // intermediate would be a checkpointed table; the plan shape is the
    // same.
    val shingled = graft.GraftSession.trackPersist(
      df.select(col(idCol), shingler(col(textCol)).as("shingles")))
    val sigs = minhashSignatures(shingled, idCol, numHashes)
    val pairs = lshCandidatePairs(sigs, idCol, "sig",
      numBands, numHashes / numBands)
    val sa = shingled.select(col(idCol).as("id_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col(idCol).as("id_b"), col("shingles").as("sh_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------------
  // SimHash
  /** 64-bit SimHash per document from whitespace tokens: bit i of the
    * signature is the sign of Σ_tokens (±1 by bit i of xxhash64(token)).
    * Implemented as 64 conditional sums in ONE aggregation pass (all
    * codegen'd); docs with similar token multisets get close signatures.
    *
    * CONTRACT: zero-token documents (empty/whitespace text) emit NO
    * signature row — there is nothing to near-dup on, and a synthetic
    * all-zero signature would spuriously pair every empty doc with any
    * doc whose bit sums happen to balance. Identical empty docs are
    * exact duplicates; the exact-dedup path owns them. (Pinned by
    * ProbeSpec "degenerate docs".) */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // per-doc signatures are ROW-LOCAL — the native SimhashSign
    // expression folds the 64 conditional bit sums into one pass over
    // the in-row token-hash array, deleting the token explode AND the
    // 64-column groupBy exchange the relational form needed (r13;
    // signatures bit-identical: same xxhash64 per token, same ±1 sums
    // with multiplicity, same sum>0 tie rule, and empty/whitespace
    // docs still emit NO row — SimhashSign is null on empty arrays)
    df.select(col(idCol),
        graft.functions.VectorExpressions.simhash_sign(
          transform(TextAnalysis.tokens(col(textCol)),
            t => xxhash64(t))).as("simhash"))
      .where(col("simhash").isNotNull)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast(LongType)

  /** SimHash near-dup candidates: band the 64-bit signature into four
    * 16-bit chunks (docs within hamming distance 3 share ≥1 exact chunk),
    * bucket the chunks, verify candidate pairs by hamming ≤ maxDistance.
    * Buckets over `maxBucket` ids are dropped — one hot chunk (degenerate
    * near-identical corpora) would otherwise produce a quadratic pair
    * blow-up, the same guard as [[lshCandidatePairs]].
    *
    * Scale ceiling: the 4×16-bit banding gives 2^16 buckets per band —
    * FIXED by the pigeonhole guarantee (4 bands ⇒ any pair at hamming
    * ≤ 3 shares a band), so E[bucket] = n/65536 grows with the corpus
    * and the cap starts dropping buckets around n ≈ 65M·(maxBucket/1000).
    * Past that, raise maxBucket (verify cost grows linearly), use the
    * 128-bit variant ([[simhash128]]/[[simhashNearDups128]] — 32-bit
    * bands push the ceiling ~2^16 higher), or prefer the MinHash
    * pipeline, whose band buckets are 64-bit hashes and never saturate
    * ([[minhashNearDupsByWords]]).
    *
    * `multiProbe` (opt-in) is the standard bit-flip multi-probe recall
    * lever: every doc posts each 16-bit chunk AND its 16 one-bit-flip
    * neighbors (17 buckets per band, 68 per doc). Two chunks land in a
    * common bucket whenever they differ in ≤ 2 bits (the two probe
    * masks XOR-cancel), so with 4 bands the pigeonhole guarantee moves
    * from hamming ≤ 3 to hamming ≤ 11 — covering the d ≤ 7–8 range the
    * plain banding only catches at ~0.4 recall. Costs: 17× bucket
    * traffic, and bucket POPULATIONS grow ~17× too, so raise
    * `maxBucket` proportionally if the cap starts dropping buckets.
    * (No such lever exists for the MINHASH pipeline, by construction:
    * its band buckets are hashes of row-slices, so neighboring
    * signatures don't land in neighboring buckets — minhash recall is
    * tuned with numBands/rowsPerBand instead, which ARE its
    * parameters. Bit-flip probing applies exactly to the sign-bit
    * families: simhash 64/128 here, hyperplane LSH in
    * [[graft.ml.Similarity.nearNeighborPairs]].) */
  def simhashNearDups(sigs0: DataFrame, idCol: String,
                      maxDistance: Int = 3,
                      maxBucket: Int = 1000,
                      multiProbe: Boolean = false): DataFrame = {
    // the signature aggregation feeds three consumers (chunking + both
    // verify sides) — persist it once (tracked) instead of re-running the
    // token scan
    val sigs = graft.GraftSession.trackPersist(sigs0)
    val chunked =
      if (!multiProbe)
        sigs.select(col(idCol),
          posexplode(array((0 until 4).map(b =>
            shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*))
            .as(Seq("band", "bucket")))
      else {
        // mask 0 = the exact chunk; masks 2^i = its one-bit flips.
        // All 17 buckets of one band are distinct, so a doc appears at
        // most once per (band, bucket) and pair generation is unchanged.
        val masks = 0L +: (0 until 16).map(i => 1L << i)
        sigs.select(col(idCol),
          explode(flatten(array((0 until 4).map { b =>
            val chunk = shiftright(col("simhash"), b * 16)
              .bitwiseAND(0xFFFFL)
            array(masks.map(m => struct(lit(b).as("band"),
              chunk.bitwiseXOR(lit(m)).as("bucket"))): _*)
          }: _*))).as("e"))
          .select(col(idCol), col("e.band").as("band"),
            col("e.bucket").as("bucket"))
      }
    val pairs = cappedCandidatePairs(chunked, idCol, maxBucket)
    val a = sigs.select(col(idCol).as("id_a"), col("simhash").as("sig_a"))
    val b = sigs.select(col(idCol).as("id_b"), col("simhash").as("sig_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
  }

  /** 128-bit SimHash: two independent 64-bit halves (the high half
    * salts the token hash), 128 conditional sums in ONE aggregation
    * pass — the scale path past [[simhash]]'s documented banding
    * ceiling. Output columns `simhash_lo`, `simhash_hi`. */
  def simhash128(df: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    // same row-local form as [[simhash]]: two independent halves (the
    // high half salts the token hash exactly as before), two native
    // one-pass signatures, zero exchanges
    val toks = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol),
        graft.functions.VectorExpressions.simhash_sign(
          transform(toks, t => xxhash64(t))).as("simhash_lo"),
        graft.functions.VectorExpressions.simhash_sign(
          transform(toks, t => xxhash64(lit("graft.simhash.hi"), t)))
          .as("simhash_hi"))
      .where(col("simhash_lo").isNotNull)
  }

  /** Hamming distance between two 128-bit (two-long) signatures. */
  def hamming128(aLo: Column, aHi: Column,
                 bLo: Column, bHi: Column): Column =
    (bit_count(aLo.bitwiseXOR(bLo)) +
     bit_count(aHi.bitwiseXOR(bHi))).cast(LongType)

  /** [[simhashNearDups]] on 128-bit signatures: four 32-BIT bands (two
    * per half) keep the hamming ≤ 3 pigeonhole guarantee while giving
    * 2^32 buckets per band — E[bucket] = n/2^32, so the bucket cap
    * doesn't start dropping recall until n ≈ 4.3B·(maxBucket/1000)
    * docs, ~2^16 past the 64-bit variant's ceiling. */
  def simhashNearDups128(sigs0: DataFrame, idCol: String,
                         maxDistance: Int = 3,
                         maxBucket: Int = 1000,
                         multiProbe: Boolean = false): DataFrame = {
    val sigs = graft.GraftSession.trackPersist(sigs0)
    def bandChunk(b: Int): Column = {
      val half = if (b < 2) col("simhash_lo") else col("simhash_hi")
      shiftright(half, (b % 2) * 32).bitwiseAND(0xFFFFFFFFL)
    }
    val chunked =
      if (!multiProbe)
        sigs.select(col(idCol),
          posexplode(array((0 until 4).map(bandChunk): _*))
            .as(Seq("band", "bucket")))
      else {
        // same two-sided one-bit-flip scheme as [[simhashNearDups]]:
        // 33 buckets per 32-bit band, any band within 2 bits collides,
        // pigeonhole guarantee moves to hamming ≤ 11
        val masks = 0L +: (0 until 32).map(i => 1L << i)
        sigs.select(col(idCol),
          explode(flatten(array((0 until 4).map { b =>
            array(masks.map(m => struct(lit(b).as("band"),
              bandChunk(b).bitwiseXOR(lit(m)).as("bucket"))): _*)
          }: _*))).as("e"))
          .select(col(idCol), col("e.band").as("band"),
            col("e.bucket").as("bucket"))
      }
    val pairs = cappedCandidatePairs(chunked, idCol, maxBucket)
    val a = sigs.select(col(idCol).as("id_a"),
      col("simhash_lo").as("lo_a"), col("simhash_hi").as("hi_a"))
    val b = sigs.select(col(idCol).as("id_b"),
      col("simhash_lo").as("lo_b"), col("simhash_hi").as("hi_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        hamming128(col("lo_a"), col("hi_a"),
                   col("lo_b"), col("hi_b")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
  }

  // ------------------------------------------------------------------
  // Cluster resolution: near-dup pairs → one canonical doc per cluster

  /** Connected components over an undirected pair set — the cluster-
    * resolution step between "find near-dup pairs" (minhash/simhash/
    * embedding banding) and "drop the duplicates": transitively-linked
    * docs form one cluster, and each doc is labeled with the cluster's
    * minimum id as its canonical representative.
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14): O(log n) rounds,
    * each round a pair of groupBy+join shuffles keyed on node id. The
    * per-node minimum is a plain aggregate and the rewrite side is a
    * join against that 2-column min table — no neighbor lists are ever
    * collected, so a billion-node component (every doc sharing one
    * boilerplate page) never materializes a hub's adjacency in a single
    * task. Convergence is detected with ONE partial-aggregated job per
    * round: (count, bit_xor of xxhash64(u,v)) — an order-insensitive
    * fingerprint of the edge set. Equal fingerprints on distinct edge
    * sets collide with probability ~2^-64 per round — far below
    * hardware error rates — and the old `except` probe cost one extra
    * distributed join-shaped job per round, which at 100 TB is minutes
    * times O(log n) rounds. Each round's
    * edge set is checkpointed to truncate lineage; superseded snapshots
    * are released by the ContextCleaner once unreferenced (local mode)
    * or, with a checkpoint dir, cleaned when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set — a
    * cluster deployment should set it, since O(log n) rounds each leave
    * a full edge-set snapshot behind otherwise.
    *
    * Returns (id, component) for every distinct node in `pairs`, with
    * component = min id reachable (self for isolated nodes).
    *
    * SMALL-GRAPH FAST PATH: when the canonical edge count is at most
    * `driverMaxEdges` (default 2^18) and the id type has a known
    * Spark-order-compatible driver ordering, the components resolve by
    * a driver-side union-find instead — near-dup pair sets are tiny
    * relative to the corpus (a few matches per duplicated doc), and
    * O(log n) distributed rounds of checkpoint+fingerprint jobs cost
    * seconds of fixed scheduling overhead that a 100k-edge union-find
    * does in milliseconds, on a real cluster as much as locally
    * (measured r13: q93's CC leg 3.4 s → <0.1 s at sf0.1). The edge
    * count is known for free from the convergence fingerprint's first
    * evaluation; memory is bounded by the threshold (≤2^18 edges).
    * Pass `driverMaxEdges = 0` to force the distributed path. The
    * default (-1) reads the session conf `graft.cc.driverMaxEdges`
    * (falling back to 2^18) — the threshold is tunable per session
    * without a recompile; an explicit argument wins over the conf.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          driverMaxEdges: Long = -1L): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter,
      driverMaxEdges)._1

  /** [[connectedComponents]] plus the number of contraction rounds it
    * took — the measurable backing for the O(log n) claim (HardeningSpec
    * asserts the round count against the log2 bound at 10M edges).
    * The driver fast path reports 0 rounds. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, driverMaxEdges: Long = -1L): (DataFrame, Int) = {
    // -1 = "not set explicitly" → the session conf decides (0 still
    // forces distributed, larger values raise the fast-path threshold)
    val maxEdges =
      if (driverMaxEdges >= 0) driverMaxEdges
      else graft.GraftSession.longConf(pairs.sparkSession,
        "graft.cc.driverMaxEdges", 1L << 18)
    // each round references the previous edge set several times (the
    // symmetrize-union + min-join), so without truncation the logical
    // plan grows multiplicatively per round — checkpoint every round to
    // cut lineage
    def cp(df: DataFrame): DataFrame = BandedIndex.snapshot(df)
    // materialize the (possibly expensive) upstream pair pipeline ONCE —
    // both the node list and the initial edge set read from it. Ids keep
    // their native type: min-contraction only needs an ordering, so
    // string ids (URLs, UUIDs) work as-is — no lossy cast to long.
    val pr = cp(pairs.select(col(aCol).as("a"), col(bCol).as("b")))
    val nodes = pr.select(col("a").as("id"))
      .union(pr.select(col("b").as("id"))).distinct()
    // canonical directed edges u > v
    var edges = cp(pr
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
              least(col("a"), col("b")).as("v"))
      .distinct())
    // order-insensitive edge-set fingerprint, computed in the SAME job
    // as the count (one aggregate, partial-agg'd map-side)
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(col("u"), col("v")).as("__h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(__h)").as("h")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var (n, fp) = fingerprint(edges)
    // the id-type check comes FIRST (no node job at all for types the
    // driver path can't order), and the node bound is enforced by ONE
    // limit+collect (a count would re-run the same distinct again at
    // collect time). The cap math is overflow-safe for huge thresholds
    // (driverMaxEdges = Long.MaxValue must mean "always", not wrap).
    val driverOrd =
      if (n > 0 && n <= maxEdges) driverOrderingFor(pr.schema("a").dataType)
      else None
    if (driverOrd.isDefined) {
      val cap = (math.min(maxEdges, (Int.MaxValue.toLong - 1) / 4)
        * 4 + 1).toInt
      val nodeRows = nodes.limit(cap).collect()
      if (nodeRows.length < cap) {
        // the raw pair stream can dwarf its distinct edge set
        // (duplicates, self-pairs) — the node bound kept this collect
        // proportional to the threshold, never to the input
        return (driverComponents(edges, nodeRows, pr.schema("a").dataType,
          driverOrd.get, nodes.sparkSession), 0)
      }
    }
    var converged = n == 0
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: every neighbor v > u links to m = min(N(u) ∪ {u});
      // output stays canonical because m <= u < v
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      val large = sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
        .distinct()
        // the small-star below consumes `large` TWICE (the sMins
        // aggregation and the rewrite join) through a self-referential
        // join, and exchange reuse does not fire across Spark's
        // self-join re-aliasing (the r17 finding) — unpersisted, the
        // large-star join+distinct (2 exchanges over the full edge
        // set) executed once per consumer, every round. Scoped
        // persist: released right after the round's checkpoint
        // materializes, so per-round caches never accumulate.
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // small-star: all strictly-smaller neighbors of u (and u itself)
      // link to m = min of those neighbors
      val sMins = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = cp(large.join(sMins, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(sMins.select(col("u"), col("m").as("v")))
        .distinct())
      // cp() is eager — `small` is materialized, large can go
      large.unpersist(blocking = false)
      val (nNew, fpNew) = fingerprint(small)
      converged = nNew == n && fpNew == fp
      edges = small
      n = nNew
      fp = fpNew
      iter += 1
    }
    // star-contraction provably converges in O(log n) rounds; hitting
    // the cap means something is wrong — fail loudly, never return a
    // partially-contracted (silently incorrect) assignment
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")
    // at the fixpoint every edge points a node straight at its
    // component min; isolated nodes (only self-pairs) map to themselves
    val owned = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("component"))
    (nodes.join(owned, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component")), iter)
  }

  /** Driver-side union-find over a SMALL collected pair set (the
    * [[connectedComponents]] fast path). Returns None when the id type
    * has no driver ordering matching Spark's sort order — the caller
    * then falls through to the distributed contraction. The ordering
    * must match Spark's `min` exactly (the distributed path's
    * representative choice): numerics compare numerically; strings
    * compare as UTF-8 BYTES (Spark's UTF8String order, NOT Java's
    * UTF-16 compareTo — they differ above U+FFFF); binary compares
    * unsigned lexicographic. */
  /** Driver ordering matching Spark's sort order for `idType`, or None
    * when the type is unsupported (the caller then stays distributed).
    * Orderings run on hash-equal KEY wrappers (Array[Byte] → Seq[Byte])
    * so binary identity-equality never corrupts the union-find map. */
  private def driverOrderingFor(
      idType: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    def bytesCompare(x: Seq[Byte], y: Seq[Byte]): Int = {
      val n = math.min(x.length, y.length)
      var i = 0
      var c = 0
      while (i < n && c == 0) {
        c = (x(i) & 0xff) - (y(i) & 0xff); i += 1
      }
      if (c != 0) c else x.length - y.length
    }
    val bytesOrd: Ordering[Seq[Byte]] =
      (x: Seq[Byte], y: Seq[Byte]) => bytesCompare(x, y)
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
      case StringType =>
        Some(Ordering.by((x: Any) =>
          x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets
            .UTF_8).toSeq)(bytesOrd))
      case BinaryType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[Seq[Byte]])(bytesOrd))
      case _ => None
    }
  }

  private def driverComponents(edges: DataFrame,
      nodeRows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType,
      ord: Ordering[Any],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    def key(x: Any): Any = x match {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      // path compression
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    // register every node (isolated ones appear only here), then
    // union the distinct canonical edges
    nodeRows.foreach(row => find(key(row.get(0))))
    edges.collect().foreach { row =>
      val (a, b) = (key(row.get(0)), key(row.get(1)))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ord.lt(ra, rb)) rb else ra) =
        if (ord.lt(ra, rb)) ra else rb
    }
    // representative = min member per component (union already links
    // toward the smaller root, so the root IS the min)
    def unkey(x: Any): Any = x match {
      case s: Seq[_] if idType == BinaryType =>
        s.asInstanceOf[Seq[Byte]].toArray
      case v => v
    }
    val out = parent.keys.toSeq.map { k =>
      org.apache.spark.sql.Row(unkey(k), unkey(find(k)))
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType))))
  }

  /** Drop near-duplicates given the discovered pair set: resolve pairs
    * into clusters with [[connectedComponents]] and keep only each
    * cluster's minimum-id document (plus all unpaired docs). */
  def dropNearDups(docs: DataFrame, pairs: DataFrame, idCol: String,
                   aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val dupes = connectedComponents(pairs, aCol, bCol)
      .where(col("id") =!= col("component"))
      .select(col("id").cast(docs.schema(idCol).dataType).as(idCol))
    docs.join(dupes, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------------
  // Benchmark decontamination: eval-set n-gram overlap

  /** Flag every document sharing at least one word n-gram with an eval/
    * benchmark set (the standard n-gram contamination check run before
    * training; n = 13 is the common production choice — lower n only for
    * tiny test corpora). The eval side collapses to a DISTINCT gram set
    * and is explicitly broadcast: benchmarks are tiny next to a 100 TB
    * corpus, so the corpus scan never shuffles — each task stream-probes
    * the broadcast gram hash set and emits (id, contaminated). */
  /** Ids of docs sharing ≥1 n-gram with the eval set — the ONE
    * definition of "contaminated" that both the flag and drop entry
    * points consume (they must never drift). */
  private def contaminatedIds(docs: DataFrame, idCol: String,
                              textCol: String, evalDf: DataFrame,
                              evalTextCol: String, n: Int): DataFrame = {
    // both sides hash grams identically (token-hash combination) — the
    // broadcast eval side carries 8-byte longs instead of 13-word
    // strings, and the corpus side never builds gram strings at all
    val evalGrams = explodeHashedWordNgrams(evalDf, Seq.empty, evalTextCol,
      n, "gram").distinct()
    explodeHashedWordNgrams(docs, Seq(idCol), textCol, n, "gram")
      .join(broadcast(evalGrams), "gram")
      .select(col(idCol)).distinct()
  }

  def contaminationFlags(docs: DataFrame, idCol: String, textCol: String,
                         evalDf: DataFrame, evalTextCol: String,
                         n: Int = 13): DataFrame = {
    val hit = contaminatedIds(docs, idCol, textCol, evalDf, evalTextCol, n)
    docs.select(col(idCol))
      .join(hit.withColumn("__hit", lit(true)), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__hit"), lit(false)).as("contaminated"))
  }

  /** Drop the contaminated documents outright. */
  def dropContaminated(docs: DataFrame, idCol: String, textCol: String,
                       evalDf: DataFrame, evalTextCol: String,
                       n: Int = 13): DataFrame =
    docs.join(contaminatedIds(docs, idCol, textCol, evalDf, evalTextCol, n),
      Seq(idCol), "left_anti")

  /** Append `out` = the row's DISTINCT word n-gram 64-bit hashes
    * (array<long>), built by token-hash combination — each token is
    * xxhash64'd once and grams combine n token hashes as longs, never
    * building a per-gram string (measured 4× on the q100 path) and
    * never shuffling text. Rows with fewer than n tokens hash their
    * whole token-hash sequence as ONE gram (wordNgrams' short-doc
    * rule). Gram equality matches raw-gram equality absent a 64-bit
    * collision. `keep` = columns carried through. */
  def withHashedWordNgrams(df: DataFrame, keep: Seq[String],
                           textCol: String, n: Int,
                           out: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val keepCols = keep.map(col)
    df.select(keepCols :+ transform(toks, t => xxhash64(t)).as("__th"): _*)
      .select(keepCols :+ array_distinct(
        when(size(col("__th")) >= n,
          transform(sequence(lit(1), size(col("__th")) - (n - 1)),
            i => xxhash64((0 until n).map(j =>
              element_at(col("__th"), i + lit(j))): _*)))
          .otherwise(array(xxhash64(col("__th"))))).as(out): _*)
  }

  /** One row per (kept columns, distinct word n-gram hash). Same gram
    * construction as [[withHashedWordNgrams]] but the explode wraps the
    * gram EXPRESSION directly rather than a materialized array column:
    * explode over a bare attribute triggers InferFiltersFromGenerate,
    * whose inferred `size(gs) > 0` predicate gets alias-substituted
    * through the projections into a filter that re-evaluates the whole
    * token-hash transform PER element_at access — measured 10× slower.
    * Keep the generator child complex and the rule declines. */
  def explodeHashedWordNgrams(df: DataFrame, keep: Seq[String],
                              textCol: String, n: Int,
                              out: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val keepCols = keep.map(col)
    df.select(keepCols :+ transform(toks, t => xxhash64(t)).as("__th"): _*)
      .select(keepCols :+ explode(array_distinct(
        when(size(col("__th")) >= n,
          transform(sequence(lit(1), size(col("__th")) - (n - 1)),
            i => xxhash64((0 until n).map(j =>
              element_at(col("__th"), i + lit(j))): _*)))
          .otherwise(array(xxhash64(col("__th")))))).as(out): _*)
  }

  /** ExactSubstr-style repeated n-gram statistics (the corpus-level
    * repeated-span signal from Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): per document, the count of
    * its DISTINCT word n-grams and how many of those occur in at least
    * one OTHER document too — the inputs to span-level dedup policies
    * (drop, trim, or downweight docs by dup fraction).
    *
    * Scale shape: the per-doc distinct happens inside the row
    * (array_distinct over a codegen'd transform — no shuffle); the
    * corpus then shuffles ONE 64-bit hash per distinct gram (never
    * text) for the global frequency count, which joins back on the
    * same key. Docs with fewer than n words carry no grams and are
    * absent from the output, matching the SQL-oracle semantics. */
  def repeatedNgramStats(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // hash each token ONCE, then combine n token-hashes per gram as
    // longs (hash-of-hashes): per-gram slice+concat_ws string building
    // measured ~4× slower at corpus scale for identical distinct-count
    // semantics (equal absent a 64-bit collision, same caveat as the
    // oracle comparison)
    val tokHashes = transform(toks, t => xxhash64(t))
    // the gram stream feeds BOTH the global frequency count and the
    // join-back — persist it so the corpus is scanned (and the
    // token-hash transform computed) ONCE, not once per consumer; at
    // 100 TB the second consumer otherwise costs a full extra corpus
    // pass (the minhashNearDupsByWords pattern above)
    val grams = graft.GraftSession.trackPersist(docs
      .where(size(toks) >= n)
      .select(col(idCol).as("doc_id"), tokHashes.as("__th"))
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("__th")) - (n - 1)),
          i => xxhash64((0 until n).map(j =>
            element_at(col("__th"), i + lit(j))): _*)))).as("g")))
    val counts = grams.groupBy("g").agg(count(lit(1)).as("nd"))
    grams.join(counts, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("nd") > 1, 1)).as("n_dup_grams"))
  }

  /** ExactSubstr span-level dedup — the REMOVAL half of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"):
    * where [[repeatedNgramStats]] flags documents containing
    * corpus-repeated n-grams, this operator CUTS the repeated spans out
    * of the text, keeping exactly one canonical occurrence per gram.
    *
    * Semantics (token-level, `k = minSpanTokens`):
    *  1. every word k-gram occurrence in the corpus is keyed by its
    *     gram; a gram occurring more than once (across or within docs)
    *     is repeated;
    *  2. the occurrence with the smallest (doc id, offset) is the
    *     canonical one and survives; every other occurrence marks its k
    *     tokens for removal — adjacent/overlapping removed grams merge
    *     into maximal spans for free, because removal is per-token
    *     (the union of the covered offsets), exactly the "extend
    *     matching grams into maximal repeated spans" rule;
    *  3. output per doc: `clean_text` (surviving tokens joined by a
    *     single space — whitespace is normalized like every other text
    *     operator here) and `removed_tokens`.
    *
    * Scale shape (the q100 discipline — never all-pairs, never
    * shuffling text in the gram stage):
    *  - grams build IN-ROW as hash-of-token-hashes (each token
    *    xxhash64'd once, k token-hashes combine per gram), so an
    *    occurrence travels as (64-bit gram hash, id, int offset);
    *  - the occurrence stream is repartitioned by gram hash ONCE and
    *    persisted: the frequency+canonical aggregate AND the join-back
    *    both consume that partitioning exchange-free (a repeated
    *    boilerplate gram is a skewed key — the join-back is
    *    AQE-skew-split, the aggregate is partially aggregated before
    *    the exchange);
    *  - per-doc removal offsets aggregate as bare ints (one per removed
    *    gram; the k-token expansion + distinct happens in-row AFTER the
    *    shuffle), and the text itself is touched exactly once, in the
    *    final id-keyed join that rewrites it — `array_except` is
    *    hash-set backed, so reconstruction is O(tokens), not
    *    O(tokens × removed).
    *
    * Gram equality is hash equality (same 64-bit caveat as
    * [[repeatedNgramStats]]'s oracle: collisions ~1e-8 at test scale).
    * Docs with fewer than k tokens pass through with whitespace
    * normalized and `removed_tokens = 0`. */
  def dropRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                        minSpanTokens: Int = 5): DataFrame = {
    val k = minSpanTokens
    require(k >= 2, s"minSpanTokens must be >= 2, got $k")
    // wsTokens, NOT the script-aware tokens: clean_text is REBUILT as
    // concat_ws(" ", surviving tokens), so the split must be its own
    // inverse — script-aware splitting would permanently inject spaces
    // between every CJK codepoint of an UNTOUCHED document. Matching
    // granularity follows the reconstruction granularity: spans match
    // at whitespace words (an unsegmented CJK run is one unit).
    val toks = TextAnalysis.wsTokens(col(textCol))
    val tokHashes = transform(toks, t => xxhash64(t))
    // (gram hash, id, 0-based token offset) — 20 bytes/occurrence.
    // Repartition by gram BEFORE the persist so both consumers below
    // (the canonical aggregate and the join-back) reuse one exchange.
    val occ = graft.GraftSession.trackPersist(docs
      .where(size(toks) >= k)
      .select(col(idCol).as("__id"), tokHashes.as("__th"))
      .select(col("__id"), posexplode(
        transform(sequence(lit(1), size(col("__th")) - (k - 1)),
          i => xxhash64((0 until k).map(j =>
            element_at(col("__th"), i + lit(j))): _*))))
      .toDF("__id", "__off", "__g")
      .repartition(col("__g")))
    // repeated grams + their canonical (min (id, offset)) occurrence
    val rep = occ.groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        min(struct(col("__id"), col("__off"))).as("__c"))
      .where(col("__n") > 1)
      .select(col("__g"), col("__c.__id").as("__cid"),
        col("__c.__off").as("__coff"))
    // every non-canonical occurrence of a repeated gram → removal marks
    val removed = occ.join(rep, "__g")
      .where(col("__id") =!= col("__cid") || col("__off") =!= col("__coff"))
      .select(col("__id"), col("__off"))
    // per doc: the distinct token offsets covered by removed grams.
    // The agg buffer holds ONE int per removed gram; the k-wide
    // expansion + distinct runs in-row after the shuffle.
    val remIdx = removed.groupBy(col("__id"))
      .agg(collect_list(col("__off")).as("__offs"))
      .select(col("__id"), array_sort(array_distinct(flatten(transform(
        col("__offs"), o => sequence(o, o + (k - 1)))))).as("__rem"))
    // rewrite the text: keep tokens whose offset survives array_except
    docs.select(col(idCol), toks.as("__t"))
      .join(remIdx, col(idCol) === col("__id"), "left")
      .select(col(idCol), col("__t"),
        when(col("__rem").isNotNull,
          transform(
            array_except(sequence(lit(0), size(col("__t")) - 1),
              col("__rem")),
            j => element_at(col("__t"), j + lit(1))))
          .otherwise(col("__t")).as("__kept"))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        (size(col("__t")) - size(col("__kept"))).cast(LongType)
          .as("removed_tokens"))
  }

  // ------------------------------------------------------------------
  // Front door

  /** The standard document-level fuzzy-dedup pipeline as ONE call —
    * the chain a pretraining corpus runs, with the measured default
    * knobs from the gates (q109/q41/q43/q103):
    *
    *  1. URL canonicalization (when `urlCol` is given): two spellings
    *     of one page collide on [[Urls.normalize]]; the smallest id
    *     per canonical URL survives (null-URL docs always survive this
    *     stage — no URL is not a duplicate signal);
    *  2. exact dedup — one content-digest shuffle, min id kept;
    *  3. MinHash near-dup drop — in-row hashed word 3-grams, 64
    *     hashes × 16 bands, exact-Jaccard verify at `minhashThreshold`,
    *     connected components, cluster-min kept;
    *  4. repeated-span removal — corpus-repeated runs of
    *     `minSpanTokens`+ tokens cut from non-canonical occurrences.
    *
    * Pure composition of the individually gate-verified stages; each
    * stage only ever REMOVES rows (or tokens). Output:
    * (idCol, clean_text, removed_tokens) — join other columns back by
    * id. Every stage's scale shape is documented at its definition;
    * nothing here adds a shuffle beyond the stages themselves. */
  def standardPipeline(docs: DataFrame, idCol: String, textCol: String,
                       urlCol: Option[String] = None,
                       minhashThreshold: Double = 0.8,
                       minSpanTokens: Int = 5): DataFrame = {
    val urlDeduped = urlCol match {
      case Some(u) =>
        // unique sentinel key per null-URL doc: grouping nulls together
        // would collapse every URL-less doc into one survivor
        val key = coalesce(Urls.normalize(col(u)),
          concat(lit(" nourl:"), col(idCol).cast("string")))
        val withKey = docs.withColumn("__ukey", key)
        val keepIds = withKey.groupBy(col("__ukey"))
          .agg(min(col(idCol)).as(idCol)).select(idCol)
        withKey.join(keepIds, Seq(idCol), "left_semi").drop("__ukey")
      case None => docs
    }
    val exact = dropExactDups(urlDeduped, textCol, idCol)
    val pairs = minhashNearDupsByWords(exact, idCol, textCol,
      n = 3, numHashes = 64, numBands = 16, threshold = minhashThreshold)
    val nearDeduped = dropNearDups(exact, pairs, idCol)
    dropRepeatedSpans(nearDeduped, idCol, textCol, minSpanTokens)
  }
}
