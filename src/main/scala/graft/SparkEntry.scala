package graft

import graft.extract.Extract
import graft.gloss.Classify
import graft.ops.{Multimodal, Similarity, Sketches, TextOps}
import graft.synth.Synth
import graft.threads.Threads
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — SURVEY.md §2 operator inventory, one entry per
  * implemented operator. Queries with a DuckDB-expressible relational
  * tail carry an oracle in [[oracleSql]] (column names aligned on both
  * sides); span extraction / sketch / ANN ops are rows-only checked here
  * and exactly fixture-checked in `sbt test` (SpanFixtureSpec et al.).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** documents ∪ the planted fixture rows (VERDICT r7 item 1): the three
    * queries whose driver-tier results were vacuously empty union these
    * deterministic rows on BOTH sides of the oracle compare — see
    * [[graft.synth.Planted]]. Only doc_exact_dedup / doc_decontaminate
    * consume this; every other documents query reads the raw table.
    */
  private def docsPlanted(s: SparkSession, d: String): DataFrame =
    docsUnion(s, d, graft.synth.Planted.docs)

  /** The same planted rows as a DuckDB VALUES literal — generated from
    * the SAME constants the Spark union reads, so the two sides cannot
    * drift. Texts are quote-free by construction (PlantedSpec pins it).
    */
  private def plantedDocsValuesSql: String =
    plantedValuesSql(graft.synth.Planted.docs, "pl")

  /** documents ∪ the planted PII rows — consumed ONLY by doc_pii_scrub
    * (see [[graft.synth.Planted.pii]]); every other query reads the raw
    * table or [[docsPlanted]].
    */
  private def docsPii(s: SparkSession, d: String): DataFrame =
    docsUnion(s, d, graft.synth.Planted.pii)

  private def plantedPiiValuesSql: String =
    plantedValuesSql(graft.synth.Planted.pii, "pp")

  /** documents ∪ the planted multi-line rows — consumed ONLY by
    * doc_line_dedup (see [[graft.synth.Planted.lines]]: corpus texts are
    * single-line, so cross-doc line scrubbing needs multi-line docs
    * sharing boilerplate lines to be non-vacuous below sf1).
    */
  private def docsLines(s: SparkSession, d: String): DataFrame =
    docsUnion(s, d, graft.synth.Planted.lines)

  // newlines inside the planted texts are legal inside a DuckDB string
  // literal verbatim (PlantedSpec pins per-LINE quote/backslash safety)
  private def plantedLinesValuesSql: String =
    plantedValuesSql(graft.synth.Planted.lines, "pln")

  // ONE implementation of the union-plus-generated-literal lockstep
  // pattern, parameterized by the fixture set (review r8): a future fix
  // to either side applies to every planted query at once — per-set
  // copies could silently un-lockstep one query's two compare sides.
  private def docsUnion(s: SparkSession, d: String,
                        rows: Seq[(Long, String)]): DataFrame = {
    import s.implicits._
    t(s, d, "documents").select(col("doc_id"), col("text"))
      .unionByName(rows.toDF("doc_id", "text"))
  }

  private def plantedValuesSql(rows: Seq[(Long, String)], alias: String): String =
    rows.map { case (id, text) => s"($id, '$text')" }
      .mkString("SELECT * FROM (VALUES ", ", ", s") AS $alias(doc_id, text)")

  private def plantedCustkeysValuesSql: String =
    graft.synth.Planted.custkeys
      .map(k => s"(CAST($k AS BIGINT))")
      .mkString("SELECT * FROM (VALUES ", ", ", ") AS pc(c_custkey)")

  /** Fused synth+extract sized to the sf tier. Tiers are sized so the
    * idf gate (SURVEY §7.4) is exercisable: a df=1 token fires (idf ≥ 8)
    * only when kept-N ≳ 5900, so sf0.01 generates 8000 (≈6000 kept);
    * sf0.001's 1000 docs stay below the gate — faithful to the
    * reference's corpus-size-dependent tantivy scores.
    */
  def extractedFor(spark: SparkSession, dir: String) = {
    // sf1 is the builder-promoted 10x tier (VERDICT r5 item 4; generated
    // by tools/make_sf1.py — dir name carries "sf1", which is not a
    // substring of any driver tier name)
    val n =
      if (dir.contains("sf0.1")) 20000L
      else if (dir.contains("sf0.01")) 8000L
      else if (dir.contains("sf1")) 200000L
      else 1000L
    Synth.extracted(spark, seed = 42L, nDocs = n)
  }

  // Session-scoped persisted-dataset memos (shared SessionMemo helper —
  // lock-free build + stopped-session pruning, see graft.util.SessionMemo).
  // The race-loser discard is deliberately a NO-OP for dataset memos:
  // Spark's CacheManager keys cache entries by CANONICALIZED PLAN, so a
  // loser whose plan equals the winner's would, via unpersist(), evict
  // the winner's cache entry too — the memoized Dataset would then
  // silently recompute on every later action (r5 review). A loser with a
  // distinct plan (fresh broadcast ids) leaks one cache entry until the
  // session ends — bounded, and strictly safer than the eviction.
  private def noDiscard[T]: T => Unit = _ => ()
  private val extractedCache =
    new graft.util.SessionMemo[(SparkSession, String), org.apache.spark.sql.Dataset[graft.model.ExtractedDoc]](_._1)(noDiscard)
  private val classifiedCache =
    new graft.util.SessionMemo[(SparkSession, String), org.apache.spark.sql.Dataset[graft.model.ClassifiedDoc]](_._1)(noDiscard)
  private val pdfCache =
    new graft.util.SessionMemo[(SparkSession, String), org.apache.spark.sql.Dataset[graft.model.ExtractedDoc]](_._1)(noDiscard)

  /** Extracted corpus for an sf dir, persisted ONCE per (session, dir)
    * and shared by [[classifiedFor]] and the span queries — the
    * extraction kernel runs a single time per job session.
    */
  def extractedCachedFor(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[graft.model.ExtractedDoc] =
    extractedCache.getOrBuild((spark, dir)) {
      extractedFor(spark, dir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Classified corpus for an sf dir — extracted, IDF'd, and classified
    * exactly ONCE per (session, dir), persisted, and shared by every
    * ext_* query and Verify's base-table dump. This is the steady-state
    * architecture (VERDICT r2 item 1) matching the reference's
    * build-index-once flow (src/main.rs:89-95,139-152): the round-2 form
    * re-ran extraction+classification 2-3× per action (ext_threads_fuzzy
    * 3.99 s), all pure recompute waste.
    */
  def classifiedFor(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[graft.model.ClassifiedDoc] =
    classifiedCache.getOrBuild((spark, dir)) {
      val bc = Classify.dictsBroadcast(spark)
      val ext = extractedCachedFor(spark, dir).toDF()
      val bcIdf = spark.sparkContext.broadcast(Classify.computeIdf(ext, bc.value))
      val cls = Classify.runWithIdfSlim(ext, bc, bcIdf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cls.count() // materialize now: downstream actions hit the cache
      cls         // ext stays persisted — shared with the span queries
    }

  private val threadsCache =
    new graft.util.SessionMemo[(SparkSession, String), DataFrame](_._1)(noDiscard)

  /** Exact-title thread table for an sf dir, aggregated ONCE per
    * (session, dir) and persisted — the r5 pipeline shape: threads feed
    * both the thread listing (ext_threads) and the per-category ranking
    * (ext_top) in one session, and re-running the salted two-phase agg
    * per consumer was pure recompute (the thread table itself is tiny —
    * one row per ≥2-member cluster).
    */
  def threadsFor(spark: SparkSession, dir: String): DataFrame =
    threadsCache.getOrBuild((spark, dir)) {
      val th = Threads.threads(classifiedFor(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      th.count()
      th
    }

  private val neardupPairsCache =
    new graft.util.SessionMemo[(SparkSession, String), DataFrame](_._1)(noDiscard)

  /** Verified near-dup pairs (a, b) for an sf dir, computed ONCE per
    * (session, dir) and persisted — the curation-session shape: the group
    * listing (doc_neardup_groups), the curated corpus (doc_neardup_keep)
    * and Verify's neardup_pairs base dump all consume the same
    * LSH+verify run; the pair table itself is tiny (verified survivors).
    */
  def neardupPairsFor(spark: SparkSession, dir: String): DataFrame =
    neardupPairsCache.getOrBuild((spark, dir)) {
      val p = graft.ops.Dedup.nearDupPairs(t(spark, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

  private val ivfCache =
    new graft.util.SessionMemo[(SparkSession, String), (DataFrame, DataFrame)](_._1)(noDiscard)

  /** IVF index (corpus assignments + query probe lists), trained ONCE per
    * (session, dir) and persisted — the build-once/search-many serving
    * shape. Training is deterministic (canonical-order fold), so Verify's
    * base dump and the ann_ivf_topk query sharing one training only saves
    * the second Lloyd's run, never changes rows.
    */
  def ivfFor(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfCache.getOrBuild((spark, dir)) {
      val emb = t(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val (a, p) = Similarity.ivfAssignProbes(spark, emb, queries)
      val ap = a.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pp = p.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ap.count(); pp.count()
      (ap, pp)
    }

  /** PDF corpus, extracted and persisted ONCE per (session, dir) — shared
    * by both pdf_* queries and Verify's base dump (generation is pure, so
    * sharing only saves work, never changes rows).
    */
  def pdfExtractedCachedFor(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[graft.model.ExtractedDoc] =
    pdfCache.getOrBuild((spark, dir)) {
      val ds = pdfExtractedFor(spark, dir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ds.count()
      ds
    }

  /** Candidate pairs for the n-gram-Jaccard demo query (first two sampled
    * members of each minhash band bucket) — shared with Verify's oracle
    * base dump so the DuckDB side verifies the same pair set.
    */
  def ngramCandPairs(docs: DataFrame): DataFrame =
    Sketches.minhashDupGroups(docs, sampleK = 4)
      .select(col("doc_ids")(0).as("doc_id_a"), col("doc_ids")(1).as("doc_id_b"))
      .filter(col("doc_id_b").isNotNull).distinct()

  /** PDF corpus for an sf dir (seed distinct from the HTML corpus) — the
    * north_rule's "PDF/layout parse" leg: from-scratch content-stream
    * text extraction (graft.pdf) into the SAME ExtractedDoc shape the
    * HTML path produces, sharing Extract.gate.
    */
  def pdfExtractedFor(spark: SparkSession, dir: String) = {
    val n =
      if (dir.contains("sf0.1")) 5000L
      else if (dir.contains("sf0.01")) 2000L
      else if (dir.contains("sf1")) 50000L
      else 500L
    graft.pdf.PdfExtract.run(graft.pdf.PdfSynth.corpus(spark, seed = 43L, nDocs = n))
  }

  /** Flagship: end-to-end extraction on sf0.001-scale synth corpus. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Synth.extracted(spark, 42L, 1000L)
      .select($"doc_id", $"lang", $"title_norm", $"n_text_spans", $"n_media_spans")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (scan/filter/agg/join/window/sort/limit) -----
    "q1_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          count(lit(1)).as("n_rows"))),
    "q2_join_agg" -> ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))),
    "q3_topk" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),
    "q4_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"))
    }),
    "q5_semijoin" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))),
    "q6_antijoin" -> ((s, d) => {
      // planted order-less customers (negative keys) make the anti-join
      // non-vacuous at every tier — at the driver tiers every real
      // customer has orders (VERDICT r7 item 1)
      import s.implicits._
      t(s, d, "customer").select(col("c_custkey"))
        .unionByName(graft.synth.Planted.custkeys.toDF("c_custkey"))
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    }),
    "q7_filter_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_discount") >= 0.05 && col("l_quantity") < 25)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_rows"))),
    "q8_multi_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("sum_acctbal"))),
    "q9_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"))),
    "q10_events_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))),
    "q11_sessionize" -> ((s, d) => {
      // session = run of events per user with gaps ≤ 30 min; classic
      // lag+cumsum sessionization (one shuffle on user_id)
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("epoch_s", unix_timestamp(col("ts").cast("timestamp")))
        .withColumn("gap_s", col("epoch_s") - lag(col("epoch_s"), 1).over(byUser))
        .withColumn("new_session",
          when(col("gap_s").isNull || col("gap_s") > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),

    "q12_percentiles" -> ((s, d) => {
      // discrete (index-based) percentiles: raw stored values, no
      // interpolation arithmetic → bit-identical across engines. The
      // collect_list form is the small-group correctness query; the scale
      // path is percentile_approx (bounded sketch).
      val sorted = sort_array(collect_list(col("l_extendedprice")))
      def at(q: Double) =
        element_at(sorted, ceil(count(lit(1)) * q).cast("int"))
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(at(0.5).as("p50"), at(0.9).as("p90"),
          round(max(col("l_extendedprice")), 2).as("mx"))
    }),
    "q13_rollup" -> ((s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .rollup(col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
        .select(coalesce(col("n_name"), lit("ALL")).as("n_name"), col("n_customers"))),

    // ---- text analysis over documents ---------------------------------
    "doc_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))),
    "doc_bpe_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n_bpe"))),
    "doc_langid" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.langIdHeuristic(col("text")).as("lang_pred"))),
    "doc_quality" -> ((s, d) => {
      val cols = TextOps.qualityColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      t(s, d, "documents").select(col("doc_id") +: cols: _*)
    }),
    "doc_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),
    "doc_exact_dedup" -> ((s, d) =>
      // planted dup groups (sizes 3 and 2) make this non-vacuous at
      // tiers whose real corpus has no exact dups (VERDICT r7 item 1)
      TextOps.exactDupGroups(docsPlanted(s, d))
        .select(col("fp"), col("n_dups"))),
    "doc_curated" -> ((s, d) =>
      TextOps.curated(t(s, d, "documents"))),
    "doc_token_df" -> ((s, d) =>
      TextOps.tokenDocFreq(t(s, d, "documents"), minDf = 5)),
    "doc_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.filter(TextOps.deterministicSample(docs, "doc_id", "20"))
        .select(col("doc_id"))
    }),

    // ---- sketch dedup (rows-only: hash functions not DuckDB-expressible)
    // array columns projected to scalars: the driver's pandas row-sort
    // compare can't hash ndarray cells (CORRECTNESS_r01 err)
    "doc_minhash_dedup" -> ((s, d) =>
      Sketches.minhashDupGroups(t(s, d, "documents"))
        .select(col("band"), col("bkey"), col("n"),
          concat_ws(",", transform(col("doc_ids"), _.cast("string"))).as("doc_ids"))),
    "doc_simhash_dedup" -> ((s, d) =>
      Sketches.simhashDupGroups(t(s, d, "documents"))
        .select(col("sh"), col("n"),
          concat_ws(",", transform(col("doc_ids"), _.cast("string"))).as("doc_ids"))),
    "doc_simhash_near" -> ((s, d) =>
      Sketches.simhashNearDupPairs(t(s, d, "documents"))
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))), // DuckDB bit_count → BIGINT
    "doc_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Sketches.jaccardVerify(docs, ngramCandPairs(docs), minJaccard = 0.5)
        // ×10000-floored integer: exact cross-engine compare, no
        // round-half semantics drift (both engines do the same double
        // division i/(na+nb-i), so the floor is bit-deterministic)
        .select(col("doc_id_a"), col("doc_id_b"),
          floor(col("jaccard") * 10000).cast("long").as("jaccard_x10k"))
    }),

    "doc_neardup_groups" -> ((s, d) =>
      graft.ops.Dedup.groupsFromPairs(neardupPairsFor(s, d))
        .select(col("component"), col("n_members"))),

    // the curation deliverable: corpus minus near-dup redundancy (min
    // doc_id kept per component); oracle re-derives the component drop
    // set from the neardup_pairs base via the same recursive CTE; the
    // pair table is the per-session memo both near-dup queries share
    "doc_neardup_keep" -> ((s, d) =>
      graft.ops.Dedup.keepFromPairs(t(s, d, "documents"), neardupPairsFor(s, d))),

    // benchmark decontamination: docs sharing a 13-gram with the probe
    // subset (deterministic doc_id % 97 stand-in for a held-out eval
    // set). The planted probe + two contaminated docs (n_hits 1 and 2)
    // make every tier non-vacuous (VERDICT r7 item 1).
    "doc_decontaminate" -> ((s, d) => {
      val docs = docsPlanted(s, d)
      TextOps.contaminationHits(docs, docs.filter(col("doc_id") % 97 === 0))
    }),

    // the hashed-gram production twin (grams ride the broadcast as
    // xxhash64 longs — VERDICT r7 item 5); its oracle is the SAME
    // raw-string SQL as doc_decontaminate, so any hash collision at any
    // tier turns this row red instead of passing silently
    "doc_decontaminate_hashed" -> ((s, d) => {
      val docs = docsPlanted(s, d)
      TextOps.contaminationHitsHashed(docs, docs.filter(col("doc_id") % 97 === 0))
    }),

    // per-source quota (the per-domain cap of web-corpus curation)
    "doc_source_cap" -> ((s, d) =>
      TextOps.sourceCap(t(s, d, "documents"), k = 10)),

    // Gopher-style repetition quality signals — hot path is the native
    // single-pass RepStats expression, projected once and derived from
    // (single-eval spec-pinned; the Column-HOF twin is the oracle-shaped
    // form, equality spec-pinned); map-only, no shuffle
    "doc_repetition" -> ((s, d) =>
      TextOps.repetition(t(s, d, "documents"))),

    // PII redaction pass: emails then long digit runs, counts of each;
    // planted rows make both patterns + the negative control non-vacuous
    // at every tier (the synthetic corpus contains no PII)
    "doc_pii_scrub" -> ((s, d) => {
      val cols = TextOps.piiScrubColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      docsPii(s, d).select(col("doc_id") +: cols: _*)
    }),

    // corpus vocabulary top-k (tokenizer-training first pass): one
    // map-side-combinable shuffle + TakeOrderedAndProject; total order
    // (cnt desc, token) makes the truncated set deterministic
    "doc_vocab_topk" -> ((s, d) =>
      TextOps.vocabTopK(t(s, d, "documents"), k = 20)),

    // C4-style cross-document duplicate-line scrubbing; planted
    // multi-line fixtures make it non-vacuous at every tier (corpus
    // texts are single-line, so only whole-doc dups would fire)
    "doc_line_dedup" -> ((s, d) =>
      TextOps.lineDedup(docsLines(s, d))),

    // ---- similarity search over embeddings (rows-only: float scores) --
    "ann_brute_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      Similarity.bruteForceTopK(s, emb, queries, k = 5)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),
    "ann_lsh_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      Similarity.lshBucketTopK(s, emb, queries, k = 5, nBits = 6)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),
    "ann_lsh_multiprobe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      Similarity.lshMultiProbeTopK(s, emb, queries, k = 5, nBits = 8)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),
    "ann_ivf_topk" -> ((s, d) => {
      val (assigned, probes) = ivfFor(s, d) // index built once per session
      Similarity.ivfSearch(assigned, probes, k = 5)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),
    "emb_cosine_dup" -> ((s, d) =>
      Similarity.cosineDupPairs(s, t(s, d, "embeddings"), minSim = 0.4,
          bands = 4, bitsPerBand = 8)
        .select(col("id_a"), col("id_b"))),

    // ---- multimodal plumbing ------------------------------------------
    "media_meta" -> ((s, d) =>
      // width/height/frames/sample_rate/duration are PARSED from
      // format-true PNG/JPEG/WAV/MP4 bytes; the oracle recomputes them
      // from the generator's parameter formulas
      Multimodal.extractMeta(Multimodal.mediaTable(t(s, d, "documents")))
        .toDF().select(col("doc_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("frames").cast("long").as("frames"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("duration_ms").cast("long").as("duration_ms"))),
    "media_frame_plan" -> ((s, d) =>
      Multimodal.frameSamplePlan(
        Multimodal.extractMeta(Multimodal.mediaTable(t(s, d, "documents"))),
        stride = 30)
        .select(col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"))), // DuckDB range → BIGINT

    // ---- the reference pipeline (extraction → classify → threads) -----
    "ext_lang_split" -> ((s, d) => {
      classifiedFor(s, d).toDF()
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    }),
    "ext_spans" -> ((s, d) => {
      extractedCachedFor(s, d).toDF()
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .select(col("doc_id"), col("span.kind").as("kind"),
          col("span.offset").as("offset"))
    }),
    "ext_categories" -> ((s, d) =>
      classifiedFor(s, d).toDF()
        .groupBy(col("category")).agg(count(lit(1)).as("n_docs"))),
    "ext_threads" -> ((s, d) =>
      Threads.ranked(threadsFor(s, d))
        .select(col("title_norm"), col("size"))),
    "ext_threads_near" -> ((s, d) =>
      Threads.ranked(Threads.threadsNear(classifiedFor(s, d)))
        .select(col("title_norm"), col("size"))),
    "ext_threads_fuzzy" -> ((s, d) =>
      Threads.ranked(Threads.threadsFuzzy(classifiedFor(s, d)))
        .select(col("title_norm"), col("size"))),
    "ext_entities" -> ((s, d) =>
      classifiedFor(s, d).toDF()
        .select(explode(col("entities")).as(Seq("class", "words")))
        .groupBy(col("class")).agg(count(lit(1)).as("n_docs"))),
    "ext_top" -> ((s, d) =>
      Threads.top(threadsFor(s, d))
        .select(col("category"), col("rank").cast("long").as("rank"),
          col("title_norm"), col("size"))), // rank → long: DuckDB row_number is BIGINT

    // ---- the PDF leg (north_rule: "PDF/layout parse") -----------------
    "pdf_lang_split" -> ((s, d) =>
      pdfExtractedCachedFor(s, d).toDF()
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))),
    "pdf_spans" -> ((s, d) =>
      pdfExtractedCachedFor(s, d).toDF()
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .select(col("doc_id"), col("span.kind").as("kind"),
          col("span.offset").as("offset")))
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_price,
        |count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q3_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4_window" ->
      """SELECT o_custkey, first_orderkey FROM (
        |  SELECT o_custkey, o_orderkey AS first_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q5_semijoin" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,
    "q6_antijoin" ->
      s"""SELECT c_custkey FROM (
         |  SELECT c_custkey FROM customer UNION ALL $plantedCustkeysValuesSql)
         |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q7_filter_agg" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |count(*) AS n_rows FROM lineitem
        |WHERE l_discount >= 0.05 AND l_quantity < 25""".stripMargin,
    "q8_multi_join" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q9_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q10_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q11_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |  CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id,
        |    epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        |    FROM events))
        |GROUP BY user_id""".stripMargin,
    "doc_token_count" ->
      """SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |FROM documents""".stripMargin,
    "q12_percentiles" ->
      """SELECT l_returnflag,
        |(array_agg(l_extendedprice ORDER BY l_extendedprice))[CAST(ceil(0.5*count(*)) AS INT)] AS p50,
        |(array_agg(l_extendedprice ORDER BY l_extendedprice))[CAST(ceil(0.9*count(*)) AS INT)] AS p90,
        |round(max(l_extendedprice), 2) AS mx
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q13_rollup" ->
      """SELECT coalesce(n_name, 'ALL') AS n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name)""".stripMargin,
    "doc_bpe_tokens" ->
      """SELECT doc_id,
        |len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin,
    "doc_langid" ->
      """SELECT doc_id, CASE
        |WHEN length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g')) * 2
        |   > length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g'))
        |   + length(regexp_replace(text, '[^A-Za-z]', '', 'g')) THEN 'ru'
        |WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) > 0 THEN 'en'
        |ELSE '' END AS lang_pred FROM documents""".stripMargin,
    "doc_quality" ->
      """SELECT doc_id,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
        |(length(text) - length(regexp_replace(text, '\bthe\b', '', 'g'))) // 3 AS stop_hits,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE (length(text) * 100) // len(regexp_split_to_array(trim(text), '\s+')) END AS len_per_token_x100
        |FROM documents""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,
    "doc_exact_dedup" ->
      s"""SELECT fp, n_dups FROM (
         |  SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
         |  count(*) AS n_dups FROM (
         |    SELECT doc_id, text FROM documents UNION ALL $plantedDocsValuesSql)
         |  GROUP BY 1) WHERE n_dups >= 2""".stripMargin,
    "doc_curated" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, text,
        |  min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS keep_id
        |  FROM documents)
        |WHERE doc_id = keep_id
        |AND (CASE
        |  WHEN length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g')) * 2
        |     > length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g'))
        |     + length(regexp_replace(text, '[^A-Za-z]', '', 'g')) THEN 'ru'
        |  WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) > 0 THEN 'en'
        |  ELSE '' END) = 'en'
        |AND (CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END) BETWEEN 20 AND 100000
        |AND (length(text) - length(regexp_replace(text, '\bthe\b', '', 'g'))) // 3 >= 1""".stripMargin,
    "doc_token_df" ->
      """SELECT token, count(DISTINCT doc_id) AS df FROM (
        |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS token
        |  FROM documents)
        |WHERE length(token) > 0 GROUP BY token HAVING count(DISTINCT doc_id) >= 5""".stripMargin,
    "doc_sample" ->
      """SELECT doc_id FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'""".stripMargin,
    // coalesce(strlen(text), 0): the Spark side maps NULL text to an
    // empty body, so the oracle formulas must stay total under NULL too
    // (ADVICE r4 — current fixtures carry no NULLs, but the formulas
    // should not silently diverge if testdata ever does)
    "media_meta" ->
      """SELECT doc_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |CASE WHEN doc_id % 3 = 0
        |  THEN (CASE WHEN doc_id % 6 = 0 THEN 57 ELSE 17 END) + coalesce(strlen(text), 0)
        |  WHEN doc_id % 3 = 1 THEN 44 + coalesce(strlen(text), 0)
        |  ELSE 332 + coalesce(strlen(text), 0) END AS n_bytes,
        |CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 240
        |  WHEN doc_id % 3 = 2 THEN 160 + (doc_id % 10) * 32 ELSE 0 END AS width,
        |CASE WHEN doc_id % 3 = 0 THEN 16 + (doc_id // 3) % 180
        |  WHEN doc_id % 3 = 2 THEN 120 + ((doc_id // 3) % 10) * 24 ELSE 0 END AS height,
        |CASE WHEN doc_id % 3 = 2 THEN 10 + doc_id % 290 ELSE 1 END AS frames,
        |CASE WHEN doc_id % 3 = 1 THEN 8000 * (1 + doc_id % 5) ELSE 0 END AS sample_rate,
        |CASE WHEN doc_id % 3 = 1
        |  THEN coalesce(strlen(text), 0) * 1000 // (8000 * (1 + doc_id % 5) * (1 + doc_id % 2) * 2)
        |  WHEN doc_id % 3 = 2 THEN (10 + doc_id % 290) * 50
        |  ELSE 0 END AS duration_ms
        |FROM documents""".stripMargin,

    // ---- sketch-family tails over materialized base tables -----------
    // The hash kernels (FNV minhash/simhash/shingles, Murmur3 band keys)
    // are not DuckDB-expressible; Verify materializes their per-doc
    // outputs to $outDir/_base and DuckDB re-derives every relational
    // tail: banding, bucket grouping, sampling, hamming pairing, Jaccard
    // arithmetic, and connected components (recursive CTE).
    "doc_minhash_dedup" ->
      """SELECT band, bkey, count(*) AS n,
        |array_to_string(list_sort(list(doc_id))[1:5], ',') AS doc_ids
        |FROM read_parquet('{OUT}/_base/minhash_banded/*.parquet')
        |GROUP BY band, bkey HAVING count(*) >= 2""".stripMargin,
    "doc_simhash_dedup" ->
      """SELECT sh, count(*) AS n,
        |array_to_string(list_sort(list(doc_id))[1:5], ',') AS doc_ids
        |FROM read_parquet('{OUT}/_base/simhash/*.parquet')
        |GROUP BY sh HAVING count(*) >= 2""".stripMargin,
    "doc_simhash_near" ->
      """WITH sh AS (SELECT doc_id, sh FROM read_parquet('{OUT}/_base/simhash/*.parquet')),
        |banded AS (
        |  SELECT doc_id, sh, bb.band AS band, (sh >> (bb.band*16)) & 65535 AS bkey
        |  FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) bb)
        |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |  CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
        |FROM banded x JOIN banded y
        |  ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sh, y.sh)) <= 3""".stripMargin,
    "doc_ngram_jaccard" ->
      """WITH cand AS (SELECT doc_id_a, doc_id_b FROM read_parquet('{OUT}/_base/jaccard_cand/*.parquet')),
        |sh AS (SELECT doc_id, h FROM read_parquet('{OUT}/_base/shingles/*.parquet')),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.doc_id_a, c.doc_id_b, count(*) AS i
        |  FROM cand c JOIN sh x ON x.doc_id = c.doc_id_a
        |              JOIN sh y ON y.doc_id = c.doc_id_b AND y.h = x.h
        |  GROUP BY 1, 2)
        |SELECT i.doc_id_a, i.doc_id_b,
        |  CAST(floor(CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) * 10000) AS BIGINT) AS jaccard_x10k
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.doc_id_a
        |JOIN sizes nb ON nb.doc_id = i.doc_id_b
        |WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5""".stripMargin,
    "doc_neardup_groups" ->
      """WITH RECURSIVE
        |base AS (SELECT a, b FROM read_parquet('{OUT}/_base/neardup_pairs/*.parquet')),
        |edges AS (SELECT a, b FROM base UNION SELECT b, a FROM base),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
        |comp AS (SELECT src AS member, least(src, min(dst)) AS component
        |         FROM reach GROUP BY src)
        |SELECT component, count(*) AS n_members FROM comp GROUP BY component""".stripMargin,
    "doc_neardup_keep" ->
      """WITH RECURSIVE
        |base AS (SELECT a, b FROM read_parquet('{OUT}/_base/neardup_pairs/*.parquet')),
        |edges AS (SELECT a, b FROM base UNION SELECT b, a FROM base),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
        |comp AS (SELECT src AS member, least(src, min(dst)) AS component
        |         FROM reach GROUP BY src)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT member FROM comp WHERE member <> component)""".stripMargin,
    "doc_decontaminate" ->
      s"""WITH docs_p AS (
         |  SELECT doc_id, text FROM documents UNION ALL $plantedDocsValuesSql),
         |toks AS (
         |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM docs_p),
         |grams AS (
         |  SELECT doc_id, unnest([array_to_string(t[i:i+12], ' ') for i in range(1, len(t) - 11)]) AS gram
         |  FROM toks WHERE len(t) >= 13),
         |probes AS (SELECT doc_id AS probe_id, gram FROM grams WHERE doc_id % 97 = 0)
         |SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
         |FROM grams g JOIN probes p ON p.gram = g.gram AND p.probe_id <> g.doc_id
         |GROUP BY g.doc_id""".stripMargin,
    // the hashed twin verifies against the RAW-STRING oracle: equality
    // holds unless xxhash64 collides on two distinct grams (vanishing at
    // 64 bits; a collision = a red row, never a silent pass)
    "doc_decontaminate_hashed" ->
      s"""WITH docs_p AS (
         |  SELECT doc_id, text FROM documents UNION ALL $plantedDocsValuesSql),
         |toks AS (
         |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM docs_p),
         |grams AS (
         |  SELECT doc_id, unnest([array_to_string(t[i:i+12], ' ') for i in range(1, len(t) - 11)]) AS gram
         |  FROM toks WHERE len(t) >= 13),
         |probes AS (SELECT doc_id AS probe_id, gram FROM grams WHERE doc_id % 97 = 0)
         |SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
         |FROM grams g JOIN probes p ON p.gram = g.gram AND p.probe_id <> g.doc_id
         |GROUP BY g.doc_id""".stripMargin,
    "doc_source_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10""".stripMargin,
    // dup-token / dup-2-gram fractions are ×10000-floored ints: both
    // engines divide the same exact small ints (correctly-rounded IEEE
    // division; the true rational quotient is ≥ 1/n away from any other
    // integer boundary), so floor cannot straddle engines. The
    // whitespace class is EXPLICIT (TextOps.RepWsPattern): java \s
    // matches vertical tab, RE2's does not
    "doc_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+') END AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
        |         ELSE [t[i] || ' ' || t[i+1] for i in range(1, len(t))] END AS g2
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_tokens,
        |  CASE WHEN n > 0
        |    THEN CAST(floor((n - len(list_distinct(t))) * 10000 / n) AS BIGINT)
        |    ELSE 0 END AS dup_token_x10k,
        |  CASE WHEN len(g2) > 0
        |    THEN CAST(floor((len(g2) - len(list_distinct(g2))) * 10000 / len(g2)) AS BIGINT)
        |    ELSE 0 END AS dup_2gram_x10k
        |FROM g""".stripMargin,
    // same patterns, same order (emails scrubbed before numbers are
    // counted) as TextOps.piiScrubColumns; 'g' flag = replace ALL
    // (DuckDB's default is first-match-only, Spark's is all)
    "doc_pii_scrub" ->
      s"""WITH docs_p AS (
         |  SELECT doc_id, text FROM documents UNION ALL $plantedPiiValuesSql),
         |s1 AS (
         |  SELECT doc_id,
         |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1,
         |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails
         |  FROM docs_p)
         |SELECT doc_id,
         |  regexp_replace(t1, '[0-9]{7,}', '<NUM>', 'g') AS text_scrubbed,
         |  n_emails,
         |  len(regexp_extract_all(t1, '[0-9]{7,}')) AS n_nums
         |FROM s1""".stripMargin,
    // RE2's \s is exactly [ \t\n\f\r] — the Spark side splits on that
    // explicit class (TextOps.RepWsPattern), because java \s ALSO
    // matches vertical tab; the two tokenizers agree on every input
    "doc_vocab_topk" ->
      """SELECT token, cnt FROM (
        |  SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |    FROM documents)
        |  WHERE length(token) > 0 GROUP BY token)
        |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    // zipped unnests align positionally in DuckDB → (line, ord) pairs;
    // the windowed min≠max flag here is the EQUIVALENT one-pass SQL of
    // TextOps.lineDedup's agg+join-back (window groups are fine at
    // oracle tiers; the Spark side avoids them for crawl-scale skew),
    // with the ORDER BY ord string_agg rebuild (count-style n_dropped,
    // not sum(int) — DuckDB sums INTEGER into HUGEINT, which would
    // break the schema compare)
    "doc_line_dedup" ->
      s"""WITH docs_p AS (
         |  SELECT doc_id, text FROM documents UNION ALL $plantedLinesValuesSql),
         |split AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs_p),
         |lines AS (
         |  SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls)+1)) AS ord FROM split),
         |flag AS (
         |  SELECT doc_id, ord, line,
         |    CASE WHEN min(doc_id) OVER (PARTITION BY line)
         |      <> max(doc_id) OVER (PARTITION BY line) THEN 1 ELSE 0 END AS is_dup
         |  FROM lines)
         |SELECT doc_id,
         |  count(*) AS n_lines,
         |  count(CASE WHEN is_dup = 1 THEN 1 END) AS n_dropped,
         |  coalesce(string_agg(CASE WHEN is_dup = 0 THEN line END, chr(10) ORDER BY ord), '') AS text_clean
         |FROM flag GROUP BY doc_id""".stripMargin,
    "media_frame_plan" ->
      """SELECT doc_id, unnest(range(0, frames, 30)) AS frame_idx
        |FROM read_parquet('{OUT}/_base/media_meta/*.parquet')
        |WHERE kind = 'video'""".stripMargin,
    // ---- ANN oracles: DuckDB DOUBLE[] cosine + window rank -----------
    // DuckDB's list_cosine_similarity on DOUBLE[] matches our double
    // kernel to ~1 ulp; a rank flip needs two distinct candidates whose
    // sims differ by <1 ulp (the embeddings tables carry no duplicate or
    // zero vectors — verified). Signature/assignment bases materialized
    // by Verify; the probe-join + rank tail re-derives in SQL.
    "ann_brute_topk" ->
      """SELECT q_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q CROSS JOIN embeddings c
        |  WHERE q.vec_id % 100 = 0)
        |WHERE rank <= 5""".stripMargin,
    "ann_lsh_topk" ->
      """WITH s AS (SELECT vec_id, sig FROM read_parquet('{OUT}/_base/ann_sig6/*.parquet')),
        |q AS (SELECT e.vec_id AS q_id, e.embedding AS q_emb, s.sig
        |      FROM embeddings e JOIN s ON s.vec_id = e.vec_id WHERE e.vec_id % 100 = 0),
        |c AS (SELECT e.vec_id, e.embedding, s.sig
        |      FROM embeddings e JOIN s ON s.vec_id = e.vec_id)
        |SELECT q_id, vec_id, rank FROM (
        |  SELECT q.q_id, c.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_emb::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM q JOIN c ON c.sig = q.sig)
        |WHERE rank <= 5""".stripMargin,
    "ann_lsh_multiprobe" ->
      """WITH s AS (SELECT vec_id, sig FROM read_parquet('{OUT}/_base/ann_sig8/*.parquet')),
        |q AS (SELECT e.vec_id AS q_id, e.embedding AS q_emb, s.sig
        |      FROM embeddings e JOIN s ON s.vec_id = e.vec_id WHERE e.vec_id % 100 = 0),
        |probes AS (SELECT q_id, q_emb,
        |             CASE WHEN bb.b = 8 THEN sig ELSE xor(sig, 1 << bb.b) END AS bucket
        |           FROM q CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7,8]) AS b) bb),
        |c AS (SELECT e.vec_id, e.embedding, s.sig
        |      FROM embeddings e JOIN s ON s.vec_id = e.vec_id)
        |SELECT q_id, vec_id, rank FROM (
        |  SELECT p.q_id, c.vec_id,
        |    row_number() OVER (PARTITION BY p.q_id
        |      ORDER BY list_cosine_similarity(p.q_emb::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM probes p JOIN c ON c.sig = p.bucket)
        |WHERE rank <= 5""".stripMargin,
    "ann_ivf_topk" ->
      """SELECT q_id, vec_id, rank FROM (
        |  SELECT p.q_id, a.vec_id,
        |    row_number() OVER (PARTITION BY p.q_id
        |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
        |               a.vec_id) AS rank
        |  FROM read_parquet('{OUT}/_base/ivf_probes/*.parquet') p
        |  JOIN read_parquet('{OUT}/_base/ivf_assign/*.parquet') a ON a.cid = p.cid
        |  JOIN embeddings qe ON qe.vec_id = p.q_id
        |  JOIN embeddings ce ON ce.vec_id = a.vec_id)
        |WHERE rank <= 5""".stripMargin,

    // anchor-star + exact-cosine verify over materialized banded sigs;
    // DuckDB's DOUBLE[] cosine matches our double kernel to ~1 ulp —
    // a disagreement needs a pair within 1 ulp of exactly 0.4
    "emb_cosine_dup" ->
      """WITH banded AS (SELECT vec_id, band, sig FROM read_parquet('{OUT}/_base/emb_banded/*.parquet')),
        |anchors AS (SELECT band, sig, min(vec_id) AS anchor
        |            FROM banded GROUP BY band, sig HAVING count(*) >= 2),
        |cand AS (SELECT DISTINCT a.anchor AS id_a, b.vec_id AS id_b
        |         FROM banded b JOIN anchors a ON a.band = b.band AND a.sig = b.sig
        |         WHERE b.vec_id <> a.anchor)
        |SELECT c.id_a, c.id_b
        |FROM cand c
        |JOIN embeddings x ON x.vec_id = c.id_a
        |JOIN embeddings y ON y.vec_id = c.id_b
        |WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.4""".stripMargin,

    // ---- the reference pipeline's relational tails -------------------
    // These read the per-doc base tables that Verify materializes to
    // $outDir/_base (the extraction/classify kernels themselves are
    // fixture-checked in `sbt test`; these externalize the groupBy /
    // window / explode tails through DuckDB). `{OUT}` is substituted
    // with the absolute output dir by Verify at dump time.
    "ext_lang_split" ->
      """SELECT lang, count(*) AS n_docs
        |FROM read_parquet('{OUT}/_base/classified/*.parquet')
        |GROUP BY lang""".stripMargin,
    "ext_spans" ->
      """SELECT doc_id, kind, "offset"
        |FROM read_parquet('{OUT}/_base/spans/*.parquet')""".stripMargin,
    "pdf_lang_split" ->
      """SELECT lang, count(*) AS n_docs
        |FROM read_parquet('{OUT}/_base/pdf_extracted/*.parquet')
        |GROUP BY lang""".stripMargin,
    "pdf_spans" ->
      """SELECT doc_id, kind, "offset"
        |FROM read_parquet('{OUT}/_base/pdf_spans/*.parquet')""".stripMargin,
    "ext_categories" ->
      """SELECT category, count(*) AS n_docs
        |FROM read_parquet('{OUT}/_base/classified/*.parquet')
        |GROUP BY category""".stripMargin,
    "ext_entities" ->
      """SELECT class, count(*) AS n_docs
        |FROM read_parquet('{OUT}/_base/entities/*.parquet')
        |GROUP BY class""".stripMargin,
    "ext_threads" ->
      """SELECT title_norm, count(*) AS size
        |FROM read_parquet('{OUT}/_base/classified/*.parquet')
        |GROUP BY title_norm HAVING count(*) >= 2""".stripMargin,
    "ext_threads_near" ->
      """SELECT min(title_norm) AS title_norm, count(*) AS size
        |FROM read_parquet('{OUT}/_base/near_keyed/*.parquet')
        |GROUP BY cluster_key HAVING count(*) >= 2""".stripMargin,
    "ext_threads_fuzzy" ->
      """WITH RECURSIVE
        |base AS (SELECT a, b FROM read_parquet('{OUT}/_base/fuzzy_pairs/*.parquet')),
        |edges AS (SELECT a, b FROM base UNION SELECT b, a FROM base),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
        |comp AS (SELECT src AS member, least(src, min(dst)) AS component
        |         FROM reach GROUP BY src),
        |titles AS (SELECT t.title_norm, coalesce(c.component, t.tid) AS component
        |           FROM read_parquet('{OUT}/_base/title_tid/*.parquet') t
        |           LEFT JOIN comp c ON c.member = t.tid),
        |docs AS (SELECT d.title_norm, ti.component
        |         FROM read_parquet('{OUT}/_base/classified/*.parquet') d
        |         JOIN titles ti ON ti.title_norm = d.title_norm)
        |SELECT min(title_norm) AS title_norm, count(*) AS size
        |FROM docs GROUP BY component HAVING count(*) >= 2""".stripMargin,
    "ext_top" ->
      """WITH th AS (
        |  SELECT title_norm, count(*) AS size, min(category) AS category
        |  FROM read_parquet('{OUT}/_base/classified/*.parquet')
        |  GROUP BY title_norm HAVING count(*) >= 2
        |), buckets AS (
        |  SELECT CASE WHEN category = '' THEN 'other' ELSE category END AS category,
        |         title_norm, size FROM th
        |  UNION ALL
        |  SELECT 'any' AS category, title_norm, size FROM th
        |)
        |SELECT category, rank, title_norm, size FROM (
        |  SELECT category, title_norm, size,
        |    row_number() OVER (PARTITION BY category ORDER BY size DESC, title_norm) AS rank
        |  FROM buckets) WHERE rank <= 10""".stripMargin
  )
}
