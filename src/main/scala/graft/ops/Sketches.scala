package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch kernels (minhash / simhash) as ONE typed mapPartitions pass per
  * document: tokenize once, hash each shingle once (FNV-1a 64), derive the
  * K minhash permutations with cheap mix functions. This replaces the
  * first-cut Column-expression formulation (16 md5 calls per shingle),
  * which benchmarked 40s at sf0.01 — the kernel is ~100× less hashing
  * work and stays a narrow scan→map stage (no shuffle).
  */
object Sketches {

  @inline def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  @inline private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def tokensOf(text: String): Array[String] =
    if (text == null || text.isEmpty) Array.empty
    // Locale.ROOT: these tokens feed DETERMINISTIC hash keys (shingles,
    // simhash) — default-locale lowercase would silently change every
    // sketch on e.g. a tr-TR JVM ('I' → 'ı')
    else text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  /** Word-shingle hashes (one 64-bit hash per n-gram, single pass). */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val toks = tokensOf(text)
    if (toks.length < n) return Array.empty
    val out = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i + n <= toks.length) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        val t = toks(i + j)
        var k = 0
        while (k < t.length) { h ^= t.charAt(k).toLong; h *= 0x100000001b3L; k += 1 }
        h ^= ' '.toLong; h *= 0x100000001b3L
        j += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  /** MinHash signature: numHashes mins over mixed shingle hashes. */
  def minhash(shingles: Array[Long], numHashes: Int): Array[Long] = {
    if (shingles.isEmpty) return Array.empty
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val base = shingles(i)
      var p = 0
      while (p < numHashes) {
        val v = mix(base ^ (p.toLong * 0x9e3779b97f4a7c15L))
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit simhash over whitespace tokens. */
  def simhash(text: String): Long = {
    val toks = tokensOf(text)
    if (toks.isEmpty) return 0L
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = fnv64(toks(t))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** (doc_id, sig array<long>) minhash signatures for a documents table. */
  def minhashSignatures(docs: DataFrame, shingleN: Int, numHashes: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val sig = minhash(shingleHashes(text, shingleN), numHashes)
        if (sig.isEmpty) None else Some((id, sig))
      })
      .toDF("doc_id", "sig")
  }

  /** The ONE banding projection (sig array → exploded (band, bkey) rows,
    * bkey = murmur3 of the band's signature slice) shared by
    * [[minhashBanded]] and the cnt-carrying candidate path — the bkey
    * derivation must stay byte-identical between them (the prefiltered
    * candidate set's subset-of-plain property depends on it), so it
    * exists exactly once. `carry` = extra per-doc columns to ride along.
    */
  private def bandRows(sig: DataFrame, bands: Int, rowsPerBand: Int,
                       carry: Seq[String]): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    sig.select(keep :+
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bkey"))
      }: _*)).as("bb"): _*)
      .select(keep :+ col("bb.band").as("band") :+ col("bb.bkey").as("bkey"): _*)
  }

  /** (doc_id, band, bkey) banded minhash rows — the shared base of the
    * dup-group / candidate-pair tails (and of Verify's external oracle,
    * which re-derives those tails in DuckDB from this table).
    */
  def minhashBanded(docs: DataFrame, shingleN: Int = 3, bands: Int = 4,
                    rowsPerBand: Int = 4): DataFrame =
    bandRows(minhashSignatures(docs, shingleN, bands * rowsPerBand),
      bands, rowsPerBand, Nil)

  /** MinHash+LSH near-dup groups (kernel-backed twin of
    * TextOps.minhashDupGroups — same banding/groupBy shape).
    */
  def minhashDupGroups(docs: DataFrame, shingleN: Int = 3, bands: Int = 4,
                       rowsPerBand: Int = 4, sampleK: Int = 5): DataFrame =
    // bounded-state group listing (see Dedup.boundedGroups): a mega
    // bucket of templated docs must not materialize its full membership
    // in one collect_set buffer
    Dedup.boundedGroups(
        minhashBanded(docs, shingleN, bands, rowsPerBand),
        Seq("band", "bkey"), "doc_id", sampleK)
      .filter(size(col("doc_ids")) >= 2)
      .select(col("band"), col("bkey"), col("n"), col("doc_ids"))

  /** (doc_id, sig, cnt) signatures + DISTINCT-shingle counts — the
    * cnt-carrying twin of [[minhashSignatures]] (kept separate so the
    * plain path never pays the per-doc distinct-count HashSet). `cnt` is
    * exactly the set size [[jaccardVerify]] later intersects
    * (`shingleHashes(text, n).distinct`), which is what makes the
    * size-ratio bound below LOSSLESS.
    */
  private def minhashSignaturesCnt(docs: DataFrame, shingleN: Int,
                                   numHashes: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val sh = shingleHashes(text, shingleN)
        val sig = minhash(sh, numHashes)
        if (sig.isEmpty) None
        else {
          val set = new java.util.HashSet[java.lang.Long]()
          var i = 0
          while (i < sh.length) { set.add(sh(i)); i += 1 }
          Some((id, sig, set.size))
        }
      })
      .toDF("doc_id", "sig", "cnt")
  }

  /** Candidate pairs from minhash bands WITHOUT per-bucket truncation:
    * each band bucket contributes (anchor=min member, other) star pairs —
    * O(bucket size) pairs, O(1) aggregation state (a min), and connected
    * components restore transitivity downstream. This is the
    * pair-generation shape that survives adversarial buckets (thousands
    * of templated near-identical docs), where a bounded member sample
    * would silently drop candidates.
    *
    * `sizeRatioMinJaccard` > 0 enables the LOSSLESS size-ratio prefilter
    * (VERDICT r5 item 1): J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|)
    * (|∩| ≤ min, |∪| ≥ max), so any pair whose distinct-shingle-count
    * ratio falls below the verify threshold j cannot pass the exact
    * Jaccard filter — dropping it here changes nothing downstream while
    * skipping the wide shingle-array verify joins for pairs that can't
    * pass. Worth it ONLY where set sizes are heavy-tailed (documents);
    * on near-uniform sizes (titles, 3-10 tokens) the bound removes <1%
    * of candidates while the count plumbing costs ~30% of the candidate
    * stage — measured at 1.06M titles, see Threads.fuzzyVerifiedPairs.
    * The filter arithmetic is the SAME
    * correctly-rounded double division ≥ j the verify stage runs, and
    * division is monotone in both operands, so
    * fl(|∩|/|∪|) ≤ fl(min/max): a float edge can never drop a pair the
    * exact filter would keep (SketchAccuracySpec pins equality). Pass
    * the verify stage's own minJaccard; 0.0 = off.
    */
  /** Anchor-star bucket columns via ONE window (late r7, measured twice
    * — shared by both [[minhashCandidatePairs]] branches,
    * [[minhashVerifiedPairsInline]] and `Similarity.cosineDupPairs`):
    * attaches `a` = min(anchorStruct) per `partCols` bucket (the
    * min-id row — include the id FIRST in the struct plus any payload
    * columns to ride along) and drops singleton buckets and each
    * anchor's own row. One exchange + one sort, where the previous
    * groupBy + join-back planned two exchanges and SMJ sorts on both
    * sides — interleaved A/Bs: 1.06M titles 1.80-3.60 → 1.46-2.47 s
    * (identical 192,178 pairs), sf1 documents end-to-end through
    * doc_neardup_groups (`Dedup.nearDupPairs` → `groupsFromPairs`)
    * 5.17-5.84 → 4.20-4.73 s (identical 4,756 groups).
    * Hot-bucket note: WindowExec buffers one bucket group at a time
    * (spilling via UnsafeExternalSorter) where SMJ streamed it —
    * acceptable: anchor-star output is O(bucket) there regardless, and
    * the buffered rows are small (callers keep heavy columns out of
    * `anchorStruct` payloads except the bounded title `sh` arrays).
    */
  private[graft] def anchorStarred(df: DataFrame, partCols: Seq[String],
                                   idCol: String,
                                   anchorStruct: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(partCols.map(col): _*)
    df.withColumn("a", min(anchorStruct).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("n") >= 2 && col(idCol) =!= col(s"a.$idCol"))
  }

  def minhashCandidatePairs(docs: DataFrame, shingleN: Int = 3, bands: Int = 4,
                            rowsPerBand: Int = 4,
                            sizeRatioMinJaccard: Double = 0.0): DataFrame = {
    if (sizeRatioMinJaccard <= 0.0) {
      anchorStarred(minhashBanded(docs, shingleN, bands, rowsPerBand),
          Seq("band", "bkey"), "doc_id", struct(col("doc_id")))
        .select(col("a.doc_id").as("doc_id_a"), col("doc_id").as("doc_id_b"))
        .distinct()
    } else {
      // same banding projection (shared bandRows), with cnt riding along
      // (one int per row); min(struct(doc_id, cnt)) = the min-doc_id row
      // (doc_id is unique within a bucket), so the anchor choice is
      // IDENTICAL to the plain path — only provably-unverifiable pairs
      // are dropped, before the distinct so the dedup shuffle shrinks too
      anchorStarred(
          bandRows(minhashSignaturesCnt(docs, shingleN, bands * rowsPerBand),
            bands, rowsPerBand, Seq("cnt")),
          Seq("band", "bkey"), "doc_id", struct(col("doc_id"), col("cnt")))
        .filter(least(col("cnt"), col("a.cnt")).cast("double") /
          greatest(col("cnt"), col("a.cnt")) >= sizeRatioMinJaccard)
        .select(col("a.doc_id").as("doc_id_a"), col("doc_id").as("doc_id_b"))
        .distinct()
    }
  }

  /** Candidate generation + exact-Jaccard verification FUSED into the
    * banding stage (VERDICT r6 item 4) — for corpora whose distinct-
    * shingle sets are SMALL and bounded (titles: 3-10 tokens ⇒ ≤ ~80
    * bytes/row riding the band explode). The join form
    * ([[minhashCandidatePairs]] → [[jaccardVerify]]) shuffles the
    * candidate-pair table TWICE against the shingle table just to
    * intersect ≤10-element arrays; here the sorted distinct shingle-hash
    * array itself rides through [[bandRows]] and the anchor aggregate, so
    * each candidate row already holds both sets and verifies inline —
    * zero verify joins, and the pair-dedup shuffle runs over the
    * verified (~5% precision) survivors instead of the raw candidates.
    *
    * Pair-set equivalence with the join form (SketchAccuracySpec pin):
    * the anchor is min(struct(doc_id, sh)) = the min-doc_id row (doc_id
    * unique within a bucket), identical to the plain path's
    * min(doc_id); jaccard is the same array_intersect/array_union
    * division over the same `.distinct.sorted` hash arrays
    * ([[shingleTable]]'s definition); verify-then-distinct ≡
    * distinct-then-verify because jaccard is a pure function of the
    * pair. DOCUMENT dedup keeps the join form — its shingle arrays are
    * unbounded (thousands of hashes/doc) and may not ride a ×bands
    * explode + groupBy.
    */
  /** (doc_id, sig, sh) one-pass kernel shared by the inline-verify
    * variants — sh = sorted distinct shingle hashes riding along.
    */
  private def sigShingleTable(docs: DataFrame, shingleN: Int,
                              numHashes: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val raw = shingleHashes(text, shingleN)
        val sig = minhash(raw, numHashes)
        if (sig.isEmpty) None else Some((id, sig, raw.distinct.sorted))
      })
      .toDF("doc_id", "sig", "sh")
  }

  def minhashVerifiedPairsInline(docs: DataFrame, shingleN: Int, bands: Int,
                                 rowsPerBand: Int,
                                 minJaccard: Double): DataFrame = {
    val sigSh = sigShingleTable(docs, shingleN, bands * rowsPerBand)
    val banded = bandRows(sigSh, bands, rowsPerBand, Seq("sh"))
    // window anchor (see anchorStarred) carrying the bounded title
    // shingle array as payload so the verify is join-free
    anchorStarred(banded, Seq("band", "bkey"), "doc_id",
        struct(col("doc_id"), col("sh")))
      .withColumn("jaccard",
        size(array_intersect(col("a.sh"), col("sh"))).cast("double") /
          size(array_union(col("a.sh"), col("sh"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a.doc_id").as("doc_id_a"), col("doc_id").as("doc_id_b"),
        col("jaccard"))
      .distinct() // pairs sharing several bands appear once; jaccard is pair-determined
  }

  /** (doc_id, sh) 64-bit simhash per doc — shared base of the dup-group
    * / near-pair tails and of Verify's external oracle.
    */
  def simhashTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, simhash(text)) })
      .toDF("doc_id", "sh")
  }

  /** SimHash near-dup groups, kernel-backed (bounded-state listing —
    * see [[Dedup.boundedGroups]]).
    */
  def simhashDupGroups(docs: DataFrame, sampleK: Int = 5): DataFrame =
    Dedup.boundedGroups(simhashTable(docs), Seq("sh"), "doc_id", sampleK)
      .select(col("sh"), col("n"), col("doc_ids"))

  /** Banded simhash near-dup PAIRS with hamming ≤ maxHamming: the 64-bit
    * simhash splits into `bands` equal bands; by pigeonhole, two hashes
    * within hamming ≤ bands-1 share at least one exact band → candidates
    * come from `bands` balanced groupBys (one per band), then the exact
    * hamming filter keeps true near-dups. This is the scale shape of
    * hamming-radius search: no all-pairs, only per-band bucket joins.
    */
  /** Distinct-signature candidate pairs (sh_a < sh_b, hamming in
    * [1, maxHamming]) — the de-quadratic core of [[simhashNearDupPairs]]:
    * the band self-join runs over DISTINCT signatures, so a templated
    * corpus where one boilerplate page repeats a million times
    * contributes ONE row per band instead of an O(n²) within-bucket
    * join (the round-2 hot-bucket risk, VERDICT r2 item 2). Candidate
    * volume depends only on the distinct-signature distribution — never
    * on duplicate multiplicity (asserted by SketchAccuracySpec's
    * adversarial 50%-identical corpus). Public for that assertion.
    */
  def simhashSigPairs(sh: DataFrame, bands: Int, maxHamming: Int): DataFrame = {
    val width = 64 / bands
    val sigs = sh.select(col("sh")).distinct()
    val banded = sigs.select(
      col("sh"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sh"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("bkey"))
      }: _*)).as("bb"))
      .select(col("sh"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val a = banded.select(col("band"), col("bkey"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("bkey"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("sh_a") < col("sh_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("sh_a"), col("sh_b"), col("hamming"))
      .distinct() // signature pairs sharing several bands appear once
  }

  def simhashNearDupPairs(docs: DataFrame, bands: Int = 4, maxHamming: Int = 3,
                          sampleK: Int = 5): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming ≤ bands-1")
    val sh = simhashTable(docs)
      .transform(graft.tablefmt.LineageCut.cut(_)) // compute signatures once across all bands
    // candidates over DISTINCT signatures (linear in buckets), then the
    // signature pairs expand back to doc pairs through two joins on the
    // exact signature — the pair OUTPUT is inherently quadratic for
    // degenerate input, but no intermediate is anymore
    val sigPairs = simhashSigPairs(sh, bands, maxHamming)
    val cross = sigPairs
      .join(sh.select(col("doc_id").as("da"), col("sh").as("sh_a")), "sh_a")
      .join(sh.select(col("doc_id").as("db"), col("sh").as("sh_b")), "sh_b")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("hamming"))
    // hamming-0 pairs: members of one exact-signature group (each doc has
    // ONE signature, so cross and within are disjoint and dup-free)
    val within = sh.select(col("sh"), col("doc_id").as("id_a"))
      .join(sh.select(col("sh"), col("doc_id").as("id_b")), "sh")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    cross.unionByName(within)
  }

  /** (doc_id, sh: sorted distinct shingle hashes) per doc — shared base
    * of jaccardVerify and of Verify's external oracle (exploded there).
    */
  def shingleTable(docs: DataFrame, shingleN: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, shingleHashes(text, shingleN).distinct.sorted)
      })
      .toDF("doc_id", "sh")
  }

  /** Exact word-shingle Jaccard for candidate pairs, kernel-backed:
    * distinct shingle-hash sets per doc, then intersection/union on
    * sorted long arrays.
    *
    * DELIBERATELY the lazy join form — three r7 restructurings were
    * measured at sf1 and REFUTED (all slower, identical output):
    *  1. one-pass (sig+sh) kernel pinned via LineageCut, banding + both
    *     verify sides reading the pin: ~par locally, but materializes a
    *     corpus-sized tokenized table — wrong at 100 TB;
    *  2. eager-pinned pairs + candidate-semi-join-gated shingle kernel:
    *     4.2 → 8-12 s (each eager pin is a sequential job barrier that
    *     defeats AQE pipelining; candidate kernels are cheap anyway);
    *  3. the same gate lazy (no pins): 4.2 → 6.8-9 s (the id-harvest
    *     union breaks subplan canonicalization, so the candidate
    *     pipeline runs twice and the semi join adds two stages).
    * The lazy form stays one action: AQE broadcasts the small pair side
    * (no corpus-sized shuffle), ReuseExchange dedups the two identical
    * shingle-table subtrees, and nothing is ever materialized. See
    * BENCH/BASELINE.md r7 "near-dup verify refutations".
    */
  def jaccardVerify(docs: DataFrame, pairs: DataFrame, shingleN: Int = 3,
                    minJaccard: Double = 0.8): DataFrame = {
    val sh = shingleTable(docs, shingleN)
    pairs
      .join(sh.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")), "doc_id_a")
      .join(sh.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")), "doc_id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"))
  }
}
