package graft

import graft.ops.TextOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite with GenChecks {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Recursive temp-dir cleanup (suite runs must not accumulate parquet
    * dirs in /tmp); the walk stream is CLOSED before deleting (r4).
    */
  private def rmrf(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val stream = java.nio.file.Files.walk(root)
      val paths =
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala.toList
        } finally stream.close()
      paths.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("tokenDocFreq: plain count ≡ countDistinct(doc_id) when doc_id is the key") {
    import spark.implicits._
    // planted exact-dup TEXTS under DISTINCT ids (the sf1 dup shape),
    // repeated tokens within a doc, case/whitespace noise, an empty doc —
    // df must count DOCUMENTS (array_distinct collapses within-doc
    // repeats), and the one-shuffle count form must equal the
    // distinct-aggregation form exactly (each (doc_id, token) survives
    // the explode once because doc_id is unique). Vertical tab is not
    // whitespace under the oracle's RE2 \s: "vt\u000Bjoined" is ONE
    // token in both docs 52 and 53
    val docs = ((0L until 40L).map(i => (i, s"alpha beta beta tok$i  ALPHA")) ++
      (40L until 50L).map(i => (i, "the same dup text body")) ++
      Seq((50L, ""), (51L, "alpha"), (52L, "vt\u000Bjoined"), (53L, "vt\u000Bjoined alpha")))
      .toDF("doc_id", "text")
    val fast = TextOps.tokenDocFreq(docs, minDf = 2)
      .as[(String, Long)].collect().toMap
    val distinctForm = docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(trim(col("text"))), TextOps.RepWsPattern))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .as[(String, Long)].collect().toMap
    assert(fast == distinctForm)
    // spot values: "alpha" appears once per doc 0-39 despite ALPHA/alpha
    // within-doc repeats, plus docs 51 and 53
    assert(fast("alpha") == 42L)
    assert(fast("dup") == 10L)
    assert(fast("vt\u000Bjoined") == 2L && !fast.contains("vt") && !fast.contains("joined"))
    assert(!fast.contains("tok3")) // df=1 < minDf
    // and the plan actually lost the distinct aggregation: exactly one
    // Exchange (on token), no expand/two-phase distinct
    val plan = TextOps.tokenDocFreq(docs, minDf = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
  }

  test("contaminationHits: 13-gram overlap vs probes, self-hits excluded, brute-force checked") {
    import spark.implicits._
    val w = (0 until 40).map(i => s"tok$i") // 40 shared tokens
    val probeText = w.mkString(" ")
    val rows = Seq(
      (0L, probeText),                               // probe (0 % 97 == 0)
      (1L, probeText),                               // full copy: all grams hit
      (2L, w.drop(20).mkString(" ") + " tail xyz"),  // 20-token suffix overlap → 8 grams
      (3L, w.take(12).mkString(" ")),                // < 13 tokens: no grams at all
      (4L, (0 until 40).map(i => s"other$i").mkString(" ")), // disjoint vocabulary
      (5L, probeText.toUpperCase),                   // case-folded: still hits
      // tab-prefixed copy: trim strips SPACES only (both engines), so
      // the tab survives and yields a leading EMPTY token — full-window
      // grams still align from token 1 on (28 hits like the full copy)
      (6L, "\t" + probeText),
      // vertical-tab copy (ADVICE r8): U+000B is NOT whitespace under
      // the explicit RepWsPattern class (nor under the oracle's RE2
      // \s), so tok19␋tok20 fuses into ONE token and only the 7+7
      // windows clear of it still match — java \s+ would have split it
      // and scored 28 like the full copy
      (7L, w.take(20).mkString(" ") + "\u000B" + w.drop(20).mkString(" "))
    )
    val docs = rows.toDF("doc_id", "text")
    val probes = docs.filter($"doc_id" % 97 === 0)
    val got = TextOps.contaminationHits(docs, probes, n = 13)
      .as[(Long, Long)].collect().toMap
    // brute-force reference mirroring the kernel's exact semantics:
    // space-only trim, Locale.ROOT lowercase, RepWsPattern split (the
    // explicit class — java \s would diverge on the VT row) with
    // empties KEPT
    def grams(t0: String): Set[String] = {
      val t = t0.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val toks = java.util.regex.Pattern.compile(TextOps.RepWsPattern)
        .split(t.toLowerCase(java.util.Locale.ROOT)).toSeq
      if (toks.length < 13) Set.empty
      else toks.sliding(13).map(_.mkString(" ")).toSet
    }
    val probeGrams = grams(probeText)
    val expect = rows.collect { case (id, t) if id != 0L =>
      id -> (grams(t) & probeGrams).size.toLong
    }.filter(_._2 > 0).toMap
    assert(got == expect, s"got $got expect $expect")
    assert(got(1L) == 28L && got(2L) == 8L && got(5L) == 28L && got(6L) == 28L)
    assert(got(7L) == 14L, "VT fuses one token; 7 prefix + 7 suffix windows survive")
    assert(!got.contains(0L), "probe's self-hits excluded")
    assert(!got.contains(3L) && !got.contains(4L))
    // scale shape: the benchmark-sized probe side broadcasts — the corpus
    // gram stream must not shuffle for the join
    val contaminated = TextOps.contaminationHits(docs, probes, n = 13)
    contaminated.collect()
    assert(contaminated.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // hashed production twin (VERDICT r7 item 5): exact agreement, same
    // broadcast plan shape, and the join payload is LONGS — no gram
    // string crosses the broadcast
    val hashed = TextOps.contaminationHitsHashed(docs, probes, n = 13)
    assert(hashed.as[(Long, Long)].collect().toMap == got)
    hashed.collect()
    val hp = hashed.queryExecution.executedPlan.toString
    assert(hp.contains("BroadcastHashJoin"), hp.take(2000))
    val joinLine = hp.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    joinLine.foreach(l => assert(l.contains("gh") && !l.contains("gram#"), l))
  }

  test("sourceCap: k smallest doc_ids per source, WindowGroupLimit in the plan") {
    import spark.implicits._
    // a hot source (40 docs), a small source (2), an exactly-k source (3)
    val docs = ((0L until 40L).map(i => (i, s"text $i", "hot")) ++
      Seq((100L, "a", "small"), (101L, "b", "small"),
        (200L, "x", "exact"), (201L, "y", "exact"), (202L, "z", "exact")))
      .toDF("doc_id", "text", "source")
    val capped = TextOps.sourceCap(docs, k = 3)
    val got = capped.as[(Long, String)].collect().toSet
    val expect = (0L until 3L).map((_, "hot")).toSet ++
      Set((100L, "small"), (101L, "small"),
        (200L, "exact"), (201L, "exact"), (202L, "exact"))
    assert(got == expect)
    // the rank filter must optimize to a group limit (partial map-side
    // prune before the shuffle — the hot-domain skew defense)
    assert(capped.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"), capped.queryExecution.executedPlan.toString)
  }

  test("repetition signals: native RepStats ≡ Column twin ≡ brute force, single-eval map-only plan") {
    import spark.implicits._
    // adversarial whitespace/case edges: empty, all-space, tab-only
    // (split keeps LEADING and — with Spark's limit -1 — TRAILING empty
    // tokens), single token, all-same, alternating 2-gram repeats,
    // case folding, multi-space separators, tab-trailing text, a
    // vertical tab (NOT whitespace under the explicit class — one
    // token, where java \s would have split), and non-ASCII case folds
    // (İ → i+combining-dot, ẞ → ß, Cyrillic) where kernel ≡ twin must
    // hold beyond the ASCII fast path
    val texts = Seq(
      "", "   ", "\t", "a", "a a", "a b a b a b", "a a a a",
      "Alpha ALPHA alpha", "x y x y x", "one two three four",
      "a b  c", " padded  text ", "tab\ttokens here", "trail\t",
      "w0 w1 w0 w1 w0 w1 end", "a\u000Bb c a\u000Bb",
      "İ I i STRAẞE straße",
      "ПРИВЕТ привет") ++
      (0 until 20).map(i => s"w${i % 3} w${(i + 1) % 4} w${i % 2} w${i % 3} end$i")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def collectRep(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val native = collectRep(TextOps.repetition(docs))
    val column = collectRep(docs.select(col("doc_id") +:
      TextOps.repetitionColumns(col("text")).map { case (n, c) => c.as(n) }: _*))
    assert(native == column)
    // brute force mirroring both twins' exact semantics: space-only
    // trim, UTF8String.toLowerCase (the function Column lower() runs),
    // explicit-class split with limit -1 (trailing empties kept —
    // Spark's split semantics)
    val expect = texts.zipWithIndex.map { case (t0, i) =>
      val t = t0.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      i.toLong -> (if (t.isEmpty) (0L, 0L, 0L) else {
        val lowered = org.apache.spark.unsafe.types.UTF8String
          .fromString(t).toLowerCase.toString
        val toks = java.util.regex.Pattern.compile(TextOps.RepWsPattern)
          .split(lowered, -1).toSeq
        val n = toks.length
        val nd = toks.distinct.length
        val g2 = if (n < 2) Seq.empty else toks.sliding(2).map(_.mkString(" ")).toList
        val (n2, nd2) = (g2.length, g2.distinct.length)
        (n.toLong,
          if (n > 0) math.floor((n - nd) * 10000.0 / n).toLong else 0L,
          if (n2 > 0) math.floor((n2 - nd2) * 10000.0 / n2).toLong else 0L)
      })
    }.toMap
    assert(native == expect, s"native $native\nexpect $expect")
    // spot values: "a b a b a b" has 6 tokens 2 distinct → 6666; five
    // 2-grams, two distinct → 6000. The VT row is 3 tokens ("a\u000Bb"
    // twice) → dup 3333; İ/I fold to the same token in NO engine pair
    // we rely on (i+dot vs i) — just pin kernel ≡ twin above.
    assert(native(5L) == (6L, 6666L, 6000L))
    assert(native(15L) == (3L, 3333L, 0L))
    // tokenCount and fingerprint share that class (RE2 \s in their
    // oracles): the VT row is 3 tokens, and its VT survives normalization
    val vt = docs.filter(col("doc_id") === 15L)
      .select(TextOps.tokenCount(col("text")).cast("long"), TextOps.fingerprint(col("text")))
      .as[(Long, String)].head()
    val vtMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("a\u000Bb c a\u000Bb".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(vt == ((3L, vtMd5)))
    // scale/plan shape: per-row map only — no Exchange; the native path
    // really is the single-pass kernel (no HOF gram builder), and it
    // appears EXACTLY ONCE in the optimized AND physical plans although
    // three outputs derive from it — the ClassifyTitleExpr discipline: a
    // CollapseProject-style duplication would quadruple the kernel
    // silently. Pin over a parquet-backed scan: a LocalRelation
    // constant-folds the whole projection away and proves nothing.
    val tmp = java.nio.file.Files.createTempDirectory("repstats").toString
    try {
      docs.write.mode("overwrite").parquet(tmp)
      val nativeDf = TextOps.repetition(spark.read.parquet(tmp))
      val opt = nativeDf.queryExecution.optimizedPlan.toString
      val phys = nativeDf.queryExecution.executedPlan.toString
      Seq(opt, phys).foreach { plan =>
        assert(!plan.contains("Exchange") && !plan.contains("transform("), plan)
        assert("rep_stats".r.findAllIn(plan).length == 1, plan)
      }
      assert(collectRep(nativeDf) == expect)
    } finally rmrf(tmp)
  }

  test("piiScrubColumns: planted fixtures scrub exactly; email digits never double-count") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // extra adversarial rows beyond the planted four: digit run inside a
    // word, 6-digit run (below threshold), dotless/1-letter-TLD
    // non-emails, trailing punctuation after an address
    val extra = Seq(
      (1L, "ab12345678cd"), (2L, "only 123456 digits"),
      (3L, "user@localhost stays"), (4L, "a@b.c stays too"),
      (5L, "mail me: x@y.com. thanks"),
      (6L, "digits 99 in address n12345678@host.org tail"))
    val rows = graft.synth.Planted.pii ++ extra
    val docs = rows.toDF("doc_id", "text")
    val got = docs.select(col("doc_id") +:
      TextOps.piiScrubColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // brute force with the same java.util.regex patterns and order
    // (emails first, numbers counted on the email-scrubbed text)
    val expect = rows.map { case (id, t) =>
      val nE = TextOps.PiiEmailPattern.r.findAllIn(t).size.toLong
      val t1 = t.replaceAll(TextOps.PiiEmailPattern, "<EMAIL>")
      val nN = TextOps.PiiNumPattern.r.findAllIn(t1).size.toLong
      id -> (t1.replaceAll(TextOps.PiiNumPattern, "<NUM>"), nE, nN)
    }.toMap
    assert(got == expect, s"got $got\nexpect $expect")
    // pinned shapes: the planted four cover email-only / nums-only /
    // both / negative-control-byte-identical
    assert(got(980000001L) == ("zzpii reach <EMAIL> for access", 1L, 0L))
    assert(got(980000002L) == ("zzpii call <NUM> or <NUM> today", 0L, 2L))
    assert(got(980000003L) == ("zzpii <EMAIL> backup <NUM> zztail", 1L, 1L))
    assert(got(980000004L) == ("zzpii clean row with no sensitive content", 0L, 0L))
    // the address's own digits are redacted as <EMAIL>, not <NUM>
    assert(got(6L) == ("digits 99 in address <EMAIL> tail", 1L, 0L))
    assert(got(1L) == ("ab<NUM>cd", 0L, 1L))
    assert(got(2L) == ("only 123456 digits", 0L, 0L))
    assert(got(3L) == ("user@localhost stays", 0L, 0L))
    // map-only scale shape (parquet-backed: a LocalRelation would
    // constant-fold the projection and pin nothing)
    val tmp = java.nio.file.Files.createTempDirectory("piiscrub").toString
    try {
      docs.write.mode("overwrite").parquet(tmp)
      val df = spark.read.parquet(tmp).select(col("doc_id") +:
        TextOps.piiScrubColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && plan.contains("regexp_replace"), plan)
    } finally rmrf(tmp)
  }

  test("vocabTopK: exact counts, total-order tie break at the boundary, TakeOrdered plan") {
    import spark.implicits._
    // b and c tie at count 4: k=3 returns both (no truncation), and the
    // k=2 call below exercises the boundary — the total order (cnt desc,
    // token asc) must keep b and drop c deterministically;
    // case/whitespace noise collapses; empty and blank docs contribute
    // nothing
    val docs = Seq(
      (0L, "a a a a  B c"), (1L, " b b C c"), (2L, "a  c"), (3L, "b"),
      (4L, ""), (5L, "   "))
      .toDF("doc_id", "text")
    val got = TextOps.vocabTopK(docs, k = 3).as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 5L), ("b", 4L), ("c", 4L)), got.toString)
    val got2 = TextOps.vocabTopK(docs, k = 2).as[(String, Long)].collect().toSeq
    assert(got2 == Seq(("a", 5L), ("b", 4L)), got2.toString)
    // scale shape (parquet-backed): one hash aggregate exchange, then
    // TakeOrderedAndProject — no global sort exchange
    val tmp = java.nio.file.Files.createTempDirectory("vocabtopk").toString
    try {
      docs.write.mode("overwrite").parquet(tmp)
      val plan = TextOps.vocabTopK(spark.read.parquet(tmp), k = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), plan)
      assert(!plan.contains("rangepartitioning"), plan)
    } finally rmrf(tmp)
  }

  test("lineDedup: cross-doc lines scrubbed, within-doc repeats kept, join-free two-exchange plan") {
    import spark.implicits._
    // shapes under test: 3-way shared header + 2-way shared footer
    // (planted fixture shape), a line repeated only WITHIN one doc (must
    // stay — min=max on doc_id), a blank line shared across two docs
    // (boilerplate like any other), a trailing-newline empty, an all-dup
    // doc (text_clean = ''), an untouched negative control, and a
    // whole-doc single-line exact dup (the sf1 planted-dup shape)
    val rows: Seq[(Long, String)] = Seq(
      (1L, "hdr\nalpha only\nftr"),
      (2L, "hdr\nbeta only\nftr"),
      (3L, "gamma only\nhdr"),
      (4L, "solo\nsolo\nown line"),
      (5L, "blankhost a\n\nblanktail a"),
      (6L, "blankhost b\n\nblanktail b"),
      (7L, "trail only\n"),
      (8L, "hdr\nftr"),
      (9L, "all unique here\nand here"),
      (10L, "whole doc dup"),
      (11L, "whole doc dup"))
    // brute-force reference: dup line = exact string in >= 2 distinct docs
    val allLines = rows.flatMap { case (id, t) => t.split("\n", -1).map((id, _)) }
    val dupSet = allLines.distinct.groupBy(_._2)
      .filter(_._2.map(_._1).distinct.size >= 2).keySet
    val expect = rows.map { case (id, t) =>
      val ls = t.split("\n", -1)
      val kept = ls.filterNot(dupSet)
      id -> (ls.length.toLong, (ls.length - kept.length).toLong, kept.mkString("\n"))
    }.toMap
    val got = TextOps.lineDedup(rows.toDF("doc_id", "text"))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == expect, s"got $got\nexpect $expect")
    // pinned spot shapes: order preserved, within-doc repeat kept, the
    // shared blank line dropped, all-dup doc emptied, control untouched
    assert(got(1L) == (3L, 2L, "alpha only"))
    assert(got(4L) == (3L, 0L, "solo\nsolo\nown line"))
    assert(got(5L) == (3L, 1L, "blankhost a\nblanktail a"))
    assert(got(7L) == (2L, 1L, "trail only")) // the trailing '' matched doc 5/6's blank
    assert(got(8L) == (2L, 2L, ""))
    assert(got(9L) == (2L, 0L, "all unique here\nand here"))
    assert(got(10L) == (1L, 1L, "") && got(11L) == (1L, 1L, ""))
    // scale shape (parquet-backed): NO window over the line (a window
    // group buffers every occurrence of a boilerplate line in one task —
    // the unbounded-skewed-group trap, review r8); dup flags come from a
    // map-side-combinable min/max agg joined back, strategy unhinted
    // (the keepFromPairs AQE contract) — on this tiny-dup-set shape the
    // runtime choice must be a broadcast, so the exploded lines cross
    // exactly TWO hash exchanges (dup agg + per-doc rebuild)
    val tmp = java.nio.file.Files.createTempDirectory("linededup").toString
    try {
      rows.toDF("doc_id", "text").write.mode("overwrite").parquet(tmp)
      val dd = TextOps.lineDedup(spark.read.parquet(tmp))
      dd.collect() // AQE: judge the FINAL plan
      val plan = dd.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), plan)
      assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
      // the AQE dump repeats the tree under "== Initial Plan ==" —
      // count exchanges in the FINAL section only
      val finalPlan = plan.split("== Initial Plan ==").head
      val nHashExchanges =
        "Exchange hashpartitioning".r.findAllIn(finalPlan).size
      assert(nHashExchanges == 2,
        s"expected 2 hash exchanges, got $nHashExchanges:\n$finalPlan")
    } finally rmrf(tmp)
  }

  test("curated: agg keep-first ≡ windowed reference, gates judge the KEPT member, window-free one-exchange plan") {
    import spark.implicits._
    // dup groups share fp = md5(lower + ws-normalized text), so members
    // may differ in case/whitespace — which the case-SENSITIVE \bthe\b
    // stop-hits gate sees. Groups under test:
    //  g1: kept member (min id) PASSES all gates; its dup would too
    //  g2: kept member FAILS stop-hits ("The" capitalized) while its
    //      higher-id dup would pass — output must contain NEITHER (the
    //      gates judge only the kept row; a filter-before-dedup or
    //      any-member-ok bug flips this group)
    //  g3: russian text (lang gate drops), g4: too short (token gate),
    //  singletons passing and failing, a null-text row (dropped)
    val g1a = "alpha the beta gamma delta"
    val g2aFail = "The quick brown fox jumps"   // stop-hits 0 (case-sensitive)
    val g2bPass = "the quick brown fox jumps"   // same fp, stop-hits 1
    val rows: Seq[(Long, String)] = Seq(
      (10L, g1a), (11L, "ALPHA the beta  gamma delta"), // same fp as g1a
      (20L, g2aFail), (21L, g2bPass),
      (30L, "привет мир снова и снова"),
      (40L, "the end"), // 2 tokens < minTokens=3
      (50L, "standalone the words here ok"),
      (60L, "no stopword content here"))
    val docs = rows.toDF("doc_id", "text")
      .unionByName(Seq((70L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.curated(df, lang = "en", minTokens = 3, maxTokens = 100,
        minStopHits = 1)
    // windowed reference (the shape the DuckDB oracle keeps) — the ONE
    // shared copy of the window form (review r9)
    val ref = TextOps.curatedWindowReference(docs, lang = "en",
      minTokens = 3, maxTokens = 100, minStopHits = 1)
      .as[Long].collect().toSet
    val got = run(docs).as[Long].collect().toSet
    assert(got == ref, s"got $got ref $ref")
    assert(got == Set(10L, 50L), got.toString) // g2 fully dropped: kept member failed
    // scale/plan shape (parquet-backed): keep-first must be ONE
    // map-side-combinable aggregation — no Window (which buffers whole
    // dup groups WITH text in one task), no join, exactly one hash
    // exchange carrying (fp, struct(doc_id, ok)) — VERDICT r8 item 1
    val tmp = java.nio.file.Files.createTempDirectory("curated").toString
    try {
      docs.write.mode("overwrite").parquet(tmp)
      val cur = run(spark.read.parquet(tmp))
      cur.collect() // AQE: judge the FINAL plan
      val plan = cur.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), plan)
      assert(!plan.contains("Join"), plan)
      val finalPlan = plan.split("== Initial Plan ==").head
      assert("Exchange hashpartitioning".r.findAllIn(finalPlan).size == 1, finalPlan)
      assert(plan.contains("partial_min"), plan) // map-side combine half
      // …and a true Tungsten HashAggregate: primitive buffers only (a
      // min(struct) formulation planned SortAggregate = per-task sort
      // of the corpus)
      assert(plan.contains("HashAggregate"), plan)
      assert(!plan.contains("SortAggregate"), plan)
    } finally rmrf(tmp)
  }

  test("property: contaminationHits and sourceCap match brute force on random corpora") {
    import spark.implicits._
    // random corpora from a SMALL shared vocabulary so cross-doc 13-gram
    // collisions actually occur, doc lengths straddling the n=13 boundary
    // (0..30 tokens), multi-space/case noise
    val tokG = Gen.oneOf((0 until 6).map(i => s"w$i"))
    val docG = for {
      len <- Gen.choose(0, 30)
      toks <- Gen.listOfN(len, tokG)
      upper <- Gen.oneOf(true, false)
      sep <- Gen.oneOf(" ", "  ")
    } yield {
      val s = toks.mkString(sep)
      if (upper) s.toUpperCase else s
    }
    val corpusG = Gen.choose(5, 25).flatMap(n => Gen.listOfN(n, docG))
    samples(corpusG, 8).zipWithIndex.foreach { case (texts, ci) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val docs = rows.toDF("doc_id", "text")
      val probes = docs.filter($"doc_id" % 3 === 0)
      def grams(t0: String): Set[String] = {
        // mirror the kernel exactly: space-only trim, ROOT lowercase,
        // \s+ split with empties kept (vacuous for space-separated input)
        val t = t0.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        val toks = t.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
        if (toks.length < 13) Set.empty
        else toks.sliding(13).map(_.mkString(" ")).toSet
      }
      val probeGramsByDoc = rows.filter(_._1 % 3 == 0)
        .map { case (id, t) => id -> grams(t) }
      val expect = rows.map { case (id, t) =>
        val hits = grams(t).filter(g =>
          probeGramsByDoc.exists { case (pid, pg) => pid != id && pg.contains(g) })
        id -> hits.size.toLong
      }.filter(_._2 > 0).toMap
      val got = TextOps.contaminationHits(docs, probes, n = 13)
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"corpus $ci: got $got expect $expect\n$rows")
      // hashed twin agrees exactly on every random corpus
      val gotHashed = TextOps.contaminationHitsHashed(docs, probes, n = 13)
        .as[(Long, Long)].collect().toMap
      assert(gotHashed == expect, s"corpus $ci hashed: got $gotHashed expect $expect")
      // sourceCap vs brute force on a skewed random source assignment
      val withSrc = rows.map { case (id, t) => (id, t, s"s${id % 3 % 2}") }
        .toDF("doc_id", "text", "source")
      val k = 2
      val capExpect = rows.map(_._1).groupBy(id => s"s${id % 3 % 2}")
        .flatMap { case (src, ids) => ids.sorted.take(k).map(id => (id, src)) }.toSet
      val capGot = TextOps.sourceCap(withSrc, k).as[(Long, String)].collect().toSet
      assert(capGot == capExpect, s"corpus $ci sourceCap")
    }
  }
}
