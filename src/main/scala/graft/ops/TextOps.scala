package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators for large-scale training-data
  * pipelines, over a `documents(doc_id, text, lang, source, n_chars)`
  * table. Ops here are pure Column expressions (whole-stage codegen, no
  * UDFs) and DuckDB-oracle-checkable — except the n-gram builder inside
  * [[contaminationHits]], a typed kernel for the same reason the
  * sketch-based dedup family (minhash/simhash/jaccard) lives in
  * [[Sketches]] as typed kernels: per-token hot loops beat interpreted
  * lambda / re-evaluated expressions by integer factors.
  *
  * Scale notes per op are in the Scaladoc — the design constraint is
  * 100 TB / 10^12 rows, so: map-side-combinable aggregations only,
  * bounded per-group state, no driver collects.
  */
object TextOps {

  // ---------- text analysis ------------------------------------------------

  /** Whitespace token count — pure expression, codegen'd. Splits on
    * [[RepWsPattern]] (RE2's `\s`, the oracle's class; java `\s` would
    * also split on vertical tab).
    */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), RepWsPattern)))

  /** Cyrillic-vs-Latin script heuristic language id (SQL-expressible twin
    * of graft.lang.LangId for oracle parity; the full detector is the
    * Scala one). Integer arithmetic only — no FP divergence.
    */
  def langIdHeuristic(text: Column): Column = {
    val cyr = length(regexp_replace(text, "[^\\u0400-\\u04FF]", ""))
    val lat = length(regexp_replace(text, "[^A-Za-z]", ""))
    when(cyr * 2 > cyr + lat, lit("ru"))
      .when(lat > 0, lit("en"))
      .otherwise(lit(""))
  }

  /** Quality-score components: length, punctuation count, stopword hits,
    * mean word length ×100 (int). Deterministic, integer-valued.
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val toks = tokenCount(text)
    val punct = length(regexp_replace(text, "[^.!?,;:]", ""))
    // occurrences of "the" as a word = chars removed / 3 (integer-exact,
    // identical in Spark and DuckDB regex engines)
    val stopHits = (length(text) - length(regexp_replace(text, "\\bthe\\b", ""))) / 3
    Seq(
      "n_tokens" -> toks.cast("long"),
      "n_punct" -> punct.cast("long"),
      "stop_hits" -> stopHits.cast("long"),
      "len_per_token_x100" ->
        when(toks > 0, ((length(text) * 100) / toks).cast("long")).otherwise(lit(0L))
    )
  }

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alnum-non-space marks — the class-run approximation of a GPT-2
    * style pre-tokenizer, chosen so the regex means the same thing in
    * Spark (regexp_count) and DuckDB RE2 (len(regexp_extract_all)).
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  /** Document fingerprint: md5 of lowercased, whitespace-normalized text
    * (runs of [[RepWsPattern]] → one space). md5 is bit-identical across
    * Spark and DuckDB → oracle-checkable.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), RepWsPattern, " "))

  /** Token document-frequency table (corpus vocabulary statistics): one
    * map-side-combinable shuffle on token (uniform key). The standard
    * first stage of tf-idf / vocab pruning for training data.
    *
    * PRECONDITION: `doc_id` must be unique in `docs` — the documents
    * TABLE contract (it is the key). df is computed as a plain count
    * because each (doc_id, token) provably survives the explode exactly
    * once under that contract; a caller unioning corpora with repeated
    * doc_ids would get row counts, not document counts. The safety net
    * is real: the doc_token_df DuckDB oracle keeps count(DISTINCT
    * doc_id), so a uniqueness violation in driver data turns the query
    * red instead of passing silently.
    */
  def tokenDocFreq(docs: DataFrame, minDf: Long = 2): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(trim(col("text"))), RepWsPattern))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      // doc frequency = count, NOT countDistinct: array_distinct makes
      // tokens unique within a doc and doc_id is the table's key, so each
      // (doc_id, token) survives the explode exactly once — countDistinct
      // here computed the identical value through an extra expand +
      // distinct-shuffle on (token, doc_id) before the real aggregation
      // (2 shuffles, no map-side combine on the first). A plain count is
      // one map-side-combinable shuffle on token. TextOpsSpec pins the
      // equality on a corpus with planted exact-dup TEXTS (distinct ids).
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)

  /** Benchmark decontamination: which docs share at least one word
    * n-gram with a PROBE set (held-out benchmark / eval texts) — the
    * standard pre-training hygiene pass (n=13 is the common window).
    * Returns (doc_id, n_hits = distinct contaminated grams), self-hits
    * (probe doc matching itself) excluded.
    *
    * Gram generation is a typed kernel (tokenize once per doc — see the
    * comment inside; the Column formulations re-tokenized per gram);
    * everything downstream is Column expressions, with semantics
    * identical to the DuckDB list-comprehension oracle. Scale shape:
    * the probe gram set
    * is benchmark-sized (thousands of docs) and corpus-size-independent
    * — an EXPLICIT broadcast hint pins it to the build side (estimated
    * stats on an exploded gram stream can exceed
    * autoBroadcastJoinThreshold, which would silently degrade to a
    * corpus-gram sort-merge shuffle), so the corpus grams stream
    * map-side through the join with NO corpus-sized shuffle; the only
    * shuffle is the final per-doc count over the (tiny) hit set. Grams
    * are matched as raw strings here for oracle-comparability;
    * [[contaminationHitsHashed]] is the production twin that ships
    * xxhash64 longs instead (≈12× smaller broadcast, spec-pinned
    * agreement).
    */
  // (id, gram) word-n-gram table via a typed kernel: tokenize ONCE per
  // doc, emit the sliding windows in a plain JVM loop. Both Column
  // formulations were measured ~7 s at sf1 and rejected: transform(
  // sequence, i => ...) puts the gram build inside a HigherOrderFunction
  // lambda (evaluated interpreted per element, the r7 zip_with-cosine
  // trap), and the explode-positions + slice/array_join form lets
  // CollapseProject inline `split(text)` into the post-explode
  // projection — the doc is re-tokenized once PER GRAM (~38×) either
  // way. The kernel matches the Column/DuckDB semantics exactly: lower →
  // trim → split on whitespace (trim-first means no empty tokens; <n
  // tokens ⇒ no grams; null text ⇒ no rows).
  // Semantics mirror trim → lower → split('\s+') as BOTH engines define
  // them (r7 review finding): trim strips SPACES only (Java String.trim
  // would also eat tabs/newlines, changing the token list vs the oracle
  // — a tab-prefixed doc legitimately yields a leading empty token in
  // both engines, and the gram strings containing it must match),
  // lowercase is Locale.ROOT (default-locale toLowerCase is wrong on
  // e.g. tr-TR JVMs where 'I' → 'ı'). NULL doc_id or text rows are
  // dropped up front — exactly the rows the oracle's join can never emit
  // (NULL comparisons are never true in SQL).
  private def gramTable(df: DataFrame, idAs: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        var b = 0
        var e = text.length
        while (b < e && text.charAt(b) == ' ') b += 1
        while (e > b && text.charAt(e - 1) == ' ') e -= 1
        // RepWsPattern, not java \s (which also matches vertical tab —
        // the DuckDB oracle's RE2 \s does not; ADVICE r8: the explicit
        // class means the same thing in both engines, as already done in
        // doc_repetition / doc_vocab_topk)
        val toks = text.substring(b, e)
          .toLowerCase(java.util.Locale.ROOT).split(RepWsPattern)
        if (toks.length < n) Iterator.empty
        else (0 to toks.length - n).iterator
          .map(i => (id, toks.slice(i, i + n).mkString(" ")))
      })
      .toDF(idAs, "gram")
  }

  def contaminationHits(docs: DataFrame, probes: DataFrame,
                        n: Int = 13): DataFrame = {
    val dg = gramTable(docs, "doc_id", n)
    val pg = broadcast(gramTable(probes, "probe_id", n))
    dg.join(pg, dg("gram") === pg("gram") && dg("doc_id") =!= pg("probe_id"))
      .groupBy(dg("doc_id"))
      .agg(countDistinct(dg("gram")).as("n_hits"))
  }

  /** The production-scale twin of [[contaminationHits]] (VERDICT r7 item
    * 5): grams ride the broadcast and the join as xxhash64 LONGS instead
    * of raw ~13-token strings. Same kernel, same plan shape (probe side
    * broadcast-pinned, corpus grams stream map-side), but the broadcast
    * payload shrinks ~12× — at a real benchmark suite (millions of probe
    * grams) that is the difference between a comfortable broadcast and a
    * failed one (measured at the 10× tier: see BENCH/BASELINE.md r8).
    *
    * Semantics: identical to the raw-string form UNLESS two distinct
    * grams collide in xxhash64 (then a hit could be over- or
    * under-counted by the collided gram) — at 64 bits the birthday bound
    * for a billion-gram probe suite is ~3e-2 colliding PAIRS, i.e.
    * vanishing; TextOpsSpec pins exact agreement on the planted fixtures
    * and on random corpora, and the doc_decontaminate_hashed query runs
    * against the SAME DuckDB raw-string oracle, so a collision at any
    * tier turns the driver's check red instead of passing silently.
    */
  def contaminationHitsHashed(docs: DataFrame, probes: DataFrame,
                              n: Int = 13): DataFrame = {
    val dg = gramTable(docs, "doc_id", n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
    val pg = broadcast(gramTable(probes, "probe_id", n)
      .select(col("probe_id"), xxhash64(col("gram")).as("gh")))
    dg.join(pg, dg("gh") === pg("gh") && dg("doc_id") =!= pg("probe_id"))
      .groupBy(dg("doc_id"))
      .agg(countDistinct(dg("gh")).as("n_hits"))
  }

  /** Per-source quota capping (the per-domain cap of web-corpus curation:
    * no single site may dominate the training mix): keep the k smallest
    * doc_ids per source. Deterministic (doc_id unique ⇒ total order
    * within a source).
    *
    * Scale shape: rank-≤-k over a window optimizes to WindowGroupLimit
    * (spec-pinned) — Spark inserts a PARTIAL group-limit before the
    * shuffle, so a hot domain with 10^9 docs ships at most k rows per
    * map partition instead of all of them; per-group state is O(k)
    * either side of the exchange.
    */
  def sourceCap(docs: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("source"))
  }

  /** Gopher-style repetition signals (the "repetitious text" quality
    * rules of web-corpus curation, re-expressed as per-row Column
    * arithmetic): fraction of duplicated tokens and fraction of
    * duplicated 2-grams in a document. Heavily repetitive documents
    * (boilerplate, keyword stuffing, generation loops) score high and
    * get filtered before training.
    *
    * Fractions are ×10000-floored integers — exact cross-engine compare,
    * same argument as doc_ngram_jaccard: both engines divide the same
    * exact small ints (correctly-rounded IEEE division), and the true
    * rational quotient is ≥ 1/n away from any other integer boundary, so
    * the floor cannot straddle engines.
    *
    * Scale shape: pure per-row expressions, embarrassingly parallel — a
    * single map stage with no shuffle at any corpus size. The 2-gram
    * builder uses `transform`/`element_at` HOFs (interpreted lambdas);
    * this is the SQL-expressible oracle twin — the hot path is
    * [[graft.functions.RepStats]], a single-pass native expression
    * (equality spec-pinned in TextOpsSpec).
    */
  def repetitionColumns(text: Column): Seq[(String, Column)] =
    repetitionFromCounts(repetitionCountsColumn(text))

  /** The hot-path op over a documents table: counts from the single-pass
    * native [[graft.functions.RepStats]] kernel (no interpreted HOF
    * lambdas, no gram-string arrays materialized). The kernel is
    * projected ONCE into a named column and the three outputs derive
    * from that reference — CollapseProject keeps a non-cheap
    * multi-referenced expression un-inlined, and TextOpsSpec pins
    * exactly one `rep_stats` occurrence in both the optimized and
    * physical plans (the ClassifyTitleExpr discipline: a collapse
    * regression would silently quadruple the kernel).
    */
  def repetition(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.rep_stats(col("text")).as("rc"))
      .select(col("doc_id") +:
        repetitionFromCounts(col("rc")).map { case (n, c) => c.as(n) }: _*)

  /** Tokenizer for the repetition op, shared verbatim by the Column
    * twin, the native kernel and the DuckDB oracle: an EXPLICIT
    * whitespace class instead of `\s` because java.util.regex `\s`
    * matches vertical tab (0x0B) while RE2's does not — the explicit
    * class means the same thing in all three engines (review r8).
    */
  val RepWsPattern = "[ \\t\\n\\f\\r]+"

  /** [n_tokens, n_distinct_tokens, n_2grams, n_distinct_2grams] as pure
    * Column arithmetic — the SQL-expressible oracle twin of RepStats.
    */
  private[graft] def repetitionCountsColumn(text: Column): Column = {
    val toks = when(length(trim(text)) === 0, typedLit(Seq.empty[String]))
      .otherwise(split(lower(trim(text)), RepWsPattern))
    val n = size(toks)
    // 1-based element_at; guarded so sequence() never sees start > stop
    val grams2 = when(n < 2, typedLit(Seq.empty[String]))
      .otherwise(transform(sequence(lit(1), n - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
    array(n, size(array_distinct(toks)), size(grams2), size(array_distinct(grams2)))
  }

  private def repetitionFromCounts(counts: Column): Seq[(String, Column)] = {
    // LONG arithmetic: the numerators multiply counts by 10000, and a
    // single ~215k-duplicated-token document (exactly what this filter
    // targets) overflows Int — ArithmeticException under Spark 4's
    // default ANSI mode. The DuckDB oracle computes the same numerator
    // in BIGINT (review r8).
    val n = element_at(counts, 1).cast("long")
    val nd = element_at(counts, 2).cast("long")
    val n2 = element_at(counts, 3).cast("long")
    val nd2 = element_at(counts, 4).cast("long")
    Seq(
      "n_tokens" -> n,
      "dup_token_x10k" ->
        when(n > 0, floor(((n - nd) * lit(10000L)) / n)).otherwise(lit(0L)),
      "dup_2gram_x10k" ->
        when(n2 > 0, floor(((n2 - nd2) * lit(10000L)) / n2)).otherwise(lit(0L)))
  }

  /** Corpus vocabulary top-k (the tokenizer-training / vocab-pruning
    * first pass): the k most frequent tokens by TOTAL term frequency —
    * the term-frequency complement of [[tokenDocFreq]]'s document
    * frequency. Ordering is TOTAL (count desc, then token asc), so the
    * returned set is deterministic even under count ties.
    *
    * Scale shape: explode → ONE map-side-combinable shuffle on token
    * (partial counts collapse to ≤|vocab| rows per map task before the
    * exchange) → `orderBy.limit(k)` = TakeOrderedAndProject (k-row heap
    * per partition, driver merges k·p rows) — no global sort, no
    * single-partition window. TextOpsSpec pins the TakeOrdered plan.
    */
  def vocabTopK(docs: DataFrame, k: Int = 20): DataFrame =
    docs
      // RepWsPattern, not java \s (which also matches vertical tab —
      // RE2's \s does not; the explicit class means the same thing in
      // both engines, review r8 — the doc_repetition lesson applied here)
      .select(explode(split(lower(trim(col("text"))), RepWsPattern)).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Cross-document duplicate-LINE removal (the C4/RefinedWeb line-dedup
    * curation pass: navigation bars, cookie banners and boilerplate
    * repeat verbatim across pages and are scrubbed line-wise, not
    * doc-wise). A line is dropped iff its exact text occurs in ≥ 2
    * DISTINCT documents; a line repeated only WITHIN one document stays
    * (that is [[repetitionColumns]]' job). Returns
    * (doc_id, n_lines, n_dropped, text_clean) with surviving lines
    * rejoined in original order ('' when every line was boilerplate).
    *
    * Cross-doc multiplicity is min(doc_id)≠max(doc_id) — NOT
    * countDistinct (the r7 tokenDocFreq lesson: Expand + an extra
    * shuffle) — computed as a map-side-combinable AGGREGATE on the line
    * and joined back, NOT as a window over the line: a window group
    * buffers every occurrence of its key in one task, and a ubiquitous
    * boilerplate line (this op's own target — the blank line, a
    * site-wide cookie banner) occurs in 10^8-10^9 docs at crawl scale —
    * an unbounded skewed group and a spill-bound straggler. The agg
    * keeps two longs per line regardless of multiplicity (hot lines
    * collapse map-side to one partial row per task), and the join back
    * streams: the dup-set side is grouped (one row per line), so a hot
    * probe key never amplifies, and AQE's skew split applies. The
    * dup-set join strategy is deliberately unhinted — the keepFromPairs
    * contract: curated corpora have tiny dup sets (runtime broadcast →
    * the exploded lines are never shuffled a second time), dup-heavy
    * crawls have corpus-scale ones (broadcast would OOM; a shuffle join
    * is right) — AQE's runtime stats own the choice. TextOpsSpec pins
    * the window-free plan and the broadcast half on the driver-tier
    * shape. Per-doc rebuild state is the doc's own surviving lines —
    * bounded by the row width the raw table already carries.
    *
    * Determinism notes, mirrored exactly by the DuckDB oracle: split is
    * on '\n' with trailing empties KEPT (limit -1), so blank lines
    * present in ≥ 2 docs are boilerplate like any other line; NULL-text
    * docs vanish from the output on both engines (explode/unnest of
    * NULL emits no rows).
    */
  def lineDedup(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("ord", "line")))
    val dup = lines
      .groupBy(col("line"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("line"), lit(true).as("is_dup"))
    lines.join(dup, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        count(col("is_dup")).as("n_dropped"), // non-null flags = dropped
        concat_ws("\n",
          transform(
            array_sort(collect_list(
              when(col("is_dup").isNull, struct(col("ord"), col("line"))))),
            s => s.getField("line"))).as("text_clean"))
  }

  /** Email pattern shared by the Spark and DuckDB sides of the PII
    * scrubber — classes + greedy quantifiers only, so java.util.regex
    * and RE2 agree on every match (both leftmost-first).
    */
  val PiiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs (≥7): phone numbers, SSN-ish ids, account numbers. */
  val PiiNumPattern = "[0-9]{7,}"

  /** PII scrubbing (the redaction pass of a training-data pipeline):
    * replace email addresses with `<EMAIL>`, then long digit runs with
    * `<NUM>`, and count each. Numbers are counted AFTER the email pass —
    * digits inside an address are already redacted as part of `<EMAIL>`
    * and must not double-count (the oracle mirrors the same order).
    *
    * Scale shape: pure per-row regexp expressions (codegen'd) — a single
    * map stage, no shuffle, no UDF. The synthetic corpus contains no
    * PII, so [[graft.synth.Planted.pii]] rows make every tier exercise
    * both patterns plus a negative control (VERDICT r7 item 1 pattern).
    */
  def piiScrubColumns(text: Column): Seq[(String, Column)] = {
    val nEmails = size(regexp_extract_all(text, lit(PiiEmailPattern), lit(0))).cast("long")
    val t1 = regexp_replace(text, PiiEmailPattern, "<EMAIL>")
    val nNums = size(regexp_extract_all(t1, lit(PiiNumPattern), lit(0))).cast("long")
    Seq(
      "text_scrubbed" -> regexp_replace(t1, PiiNumPattern, "<NUM>"),
      "n_emails" -> nEmails,
      "n_nums" -> nNums)
  }

  /** Deterministic reproducible sampling: keep a row iff the first two
    * hex digits of md5(key) fall below the threshold — identical
    * selection in any engine with md5 (no RNG, no seed drift, stable
    * under re-partitioning). threshold "20" ≈ 12.5%.
    */
  def deterministicSample(df: DataFrame, keyCol: String, hexThreshold: String): org.apache.spark.sql.Column =
    substring(md5(col(keyCol).cast("string")), 1, 2) < hexThreshold

  /** The canonical curation chain, composed from the ops above: exact
    * dedup (keep the smallest doc_id per fingerprint) ∘ language gate ∘
    * quality gates.
    *
    * Scale shape (VERDICT r8 item 1): keep-first dedup is a map-side-
    * combinable `groupBy(fp).agg(min(doc_id), min_by(ok, doc_id))` —
    * NOT a window over fp. The window form buffered every member of a
    * dup group (text column included) in one task: a 10^6-copy
    * templated page — exactly what exact dedup targets — became one
    * spill-bound straggler, the shape [[lineDedup]]'s scaladoc rejects
    * for crawl-scale boilerplate. Here every per-row predicate
    * (language + both quality gates) is evaluated in the scan's map
    * stage and rides the aggregate as one boolean, so the only shuffle
    * carries (fp, doc_id, ok) ≈ 50 bytes/row, hot fingerprints collapse
    * map-side to one partial per task, and per-key state is O(1) — no
    * join-back needed because the output is the kept doc_id alone.
    * Both aggregates keep PRIMITIVE buffers (long; boolean+long), so
    * the stage is a true Tungsten HashAggregate — a min(struct(doc_id,
    * ok)) formulation computed the same thing but planned SortAggregate
    * (struct buffers are not mutable), paying a per-task sort of the
    * corpus (plan-pinned against in TextOpsSpec).
    * Equivalence with the windowed form (the doc_curated oracle keeps
    * that shape in DuckDB, where oracle-tier groups are fine):
    * min_by(ok, doc_id) is the min-doc_id row's predicate because
    * doc_id is the table key (no ordering ties), and the gates only
    * ever applied to the kept row — TextOpsSpec pins equality
    * (including a dup group whose kept member fails a gate its other
    * member passes) and the window-free one-exchange HashAggregate
    * plan.
    */
  def curated(docs: DataFrame, lang: String = "en", minTokens: Int = 20,
              maxTokens: Int = 100000, minStopHits: Int = 1): DataFrame = {
    val ok = langIdHeuristic(col("text")) === lang &&
      tokenCount(col("text")).between(minTokens, maxTokens) &&
      (length(col("text")) - length(regexp_replace(col("text"), "\\bthe\\b", ""))) / 3 >= minStopHits
    docs
      .select(fingerprint(col("text")).as("fp"), col("doc_id"), ok.as("ok"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"),
        min_by(col("ok"), col("doc_id")).as("keep_ok"))
      // null-text rows group under the null fp with keep_ok = null —
      // the filter drops them, exactly as the windowed form's
      // `langId(null) === lang` (NULL) filter did
      .filter(coalesce(col("keep_ok"), lit(false)))
      .select(col("keep_id").as("doc_id"))
  }

  /** The r8 WINDOW form of [[curated]], kept as the executable reference
    * (the shape the frozen DuckDB oracle expresses): TextOpsSpec pins
    * `curated ≡ curatedWindowReference`; the window-vs-agg A/B that chose
    * the agg form is recorded in OPTIMIZATION_r09.md. Not a production
    * path: the window buffers whole dup groups with text in one task
    * (see [[curated]]'s scaladoc).
    */
  private[graft] def curatedWindowReference(docs: DataFrame, lang: String = "en",
      minTokens: Int = 20, maxTokens: Int = 100000,
      minStopHits: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp"))
    docs
      .select(col("doc_id"), col("text"), fingerprint(col("text")).as("fp"))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keep_id"))
      .filter(langIdHeuristic(col("text")) === lang)
      .filter(tokenCount(col("text")).between(minTokens, maxTokens))
      .filter((length(col("text")) - length(regexp_replace(col("text"), "\\bthe\\b", ""))) / 3 >= minStopHits)
      .select(col("doc_id"))
  }

  // ---------- deduplication ------------------------------------------------

  /** Exact dedup: fingerprint groupBy. Map-side-combinable count + bounded
    * sample of member ids; scales like any hash aggregate (shuffle on the
    * 128-bit key, uniform by construction — no skew handling needed).
    */
  def exactDupGroups(docs: DataFrame, sampleK: Int = 5): DataFrame =
    // bounded-state listing (see Dedup.boundedGroups): a fingerprint
    // repeated 10^6 times must not materialize all its doc_ids in one
    // aggregation buffer
    Dedup.boundedGroups(
        docs.select(fingerprint(col("text")).as("fp"), col("doc_id")),
        Seq("fp"), "doc_id", sampleK, nAs = "n_dups")
      .select(col("fp"), col("n_dups"), col("doc_ids"))

}
