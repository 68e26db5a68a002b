package graft.cli

import graft.gloss.Classify
import graft.model.Doc
import graft.synth.Synth
import graft.threads.Threads
import graft.tablefmt.Checkpoint
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entry point with the reference's five verbs
  * (reference: src/main.rs:73-82 / README.md:12-24):
  *
  * {{{
  *   Main languages|news|categories|threads|top
  *        [--input <parquet dir with (doc_id, spans)> | --htmldir <dir>
  *         | --synth <nDocs>] [--out <table dir>] [--buckets <n>]
  * }}}
  *
  * With --out, results are written as a checkpointed table (resumable,
  * per-unit lineage — see [[graft.tablefmt.Checkpoint]]) split into
  * `--buckets` commit units: by default the count an existing table's
  * manifests record, else 16. The JSON frames
  * printed to stdout mirror the reference's printers (src/printer.rs:6-62,
  * src/nlu/glossary.rs:218-278) from a driver-side collect CAPPED at
  * `MaxCliRows` — the stdout path is a CLI-compat shim, the table write is
  * the real sink (SURVEY.md §1.3 S4). `languages`, `news` and
  * `categories` print the `MaxCliRows` smallest ids of each frame
  * ([[smallestIdsByKey]], one exchange-free job), so a capped frame does
  * not depend on the partitioning. `languages --htmldir <dir> --out <table>`
  * runs 4 Spark jobs whatever `--buckets` is: the stdout ids (which also
  * build the extraction cache), the staging write's rebalance map and its
  * write, and the one transform write; commit units are then sealed by
  * directory moves (LanguagesJobsSpec). The classify verbs compute the
  * corpus IDF on every run, `--out` or not; with `--synth 2000 --out
  * <table>` at 4 or 16 buckets, `categories` runs 6 jobs on a first run
  * and 2 on a rerun into the same table, `top` 11 and 6 (TopJobsSpec).
  */
object Main {

  val MaxCliRows = 100000

  /** Local worker count of the CLI and bench mains: `SPARK_GRAFT_CPUS`,
    * else the host's cores (more threads than cores measures the
    * scheduler, not the job).
    */
  private[graft] def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val verb = args(0)
    val opts =
      try parseOpts(args.drop(1))
      catch { case e: CliArgError =>
        System.err.println(e.getMessage); sys.exit(2)
      }
    if (!Set("languages", "news", "categories", "threads", "top", "debug").contains(verb)) {
      System.err.println(s"unknown verb: $verb\n$usage"); sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(s"graft-$verb")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // reliable lineage cuts (spark.graft.checkpointDir) would otherwise
      // accumulate checkpoint data forever — Spark only deletes them on
      // RDD GC when this is on, and it must be set before context start
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, verb, opts)
    catch {
      case e: CliArgError =>
        System.err.println(e.getMessage); spark.stop(); sys.exit(2)
      case e: DriftError =>
        // --validate true found committed units whose input slices no
        // longer match their sealed fingerprints: refuse to extend the
        // table (exit 3 distinguishes drift from usage errors)
        System.err.println(e.getMessage); spark.stop(); sys.exit(3)
    }
    finally spark.stop()
  }

  /** User-input errors (bad flags/values) — the ONLY exception main
    * turns into a clean usage message + exit 2. A plain
    * IllegalArgumentException from deeper code (Scala `require`, Spark
    * argument checks) keeps its stack trace: a programming error must
    * not be disguised as a CLI typo.
    */
  private[graft] final class CliArgError(msg: String) extends IllegalArgumentException(msg)

  /** Raised by `--validate true` when committed units' input slices no
    * longer match their sealed lineage fingerprints (VERDICT r5 item 6:
    * a resumed production run must be able to ask "did my input drift
    * under committed units?"). Main maps it to exit 3 + the drifted
    * bucket listing on stderr.
    */
  private[graft] final class DriftError(msg: String) extends RuntimeException(msg)

  /** Numeric option with range validation and a clean failure instead of
    * a raw NumberFormatException stack trace (or a silent Int wrap —
    * `--buckets 4294967296` must not become buckets=0).
    */
  private[graft] def longOpt(opts: Map[String, String], key: String, default: Long,
                             min: Long = 0L, max: Long = Long.MaxValue): Long =
    opts.get(key) match {
      case None => default
      case Some(v) =>
        val n =
          try v.toLong
          catch { case _: NumberFormatException =>
            throw new CliArgError(s"--$key must be a number, got '$v'\n$usage")
          }
        if (n < min || n > max)
          throw new CliArgError(s"--$key must be in [$min, $max], got $v\n$usage")
        n
    }

  /** Strict --flag value pairing: a dangling flag (odd arg count) or a
    * non-flag token where a flag is expected aborts with usage instead of
    * being silently dropped — `--fuzzy` with a forgotten value must not
    * silently run exact clustering (VERDICT r4 item 6).
    */
  private[graft] def parseOpts(rest: Array[String]): Map[String, String] =
    rest.sliding(2, 2).map {
      // a flag token is never a value: an even-count list like
      // `--fuzzy --out` must not pair fuzzy="--out" and silently run
      // exact clustering (ADVICE r5 — the even-count twin of the
      // dangling-flag case below)
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
      case bad =>
        throw new CliArgError(
          s"malformed arguments at '${bad.mkString(" ")}' (expected --flag value)\n$usage")
    }.toMap

  private val usage =
    "usage: Main languages|news|categories|threads|top|debug [--input parquetDir | --htmldir htmlDir | --synth nDocs] [--out dir] [--buckets n] [--fuzzy true] [--validate true]"

  private def inputDocs(spark: SparkSession, opts: Map[String, String]): Dataset[Doc] = {
    import spark.implicits._
    (opts.get("input"), opts.get("htmldir")) match {
      case (Some(dir), _) => spark.read.parquet(dir).as[Doc]
      case (_, Some(dir)) => graft.sources.HtmlDirSource.read(spark, dir) // the reference's `tgnews <verb> <dir>` shape
      case _ => Synth.corpus(spark, 42L, longOpt(opts, "synth", 1000L))
    }
  }

  /** Per key, the `cap` smallest ids in ascending order — exactly
    * `ids.sorted.take(cap)` per key, duplicates kept — from a frame whose
    * two string columns are (key, id). This is the stdout cap: whatever
    * the partitioning, a key with more than `cap` ids prints the same
    * ids. ONE Spark job with no SQL exchange: each partition keeps a
    * max-heap of at most `cap` ids per key, and the partials merge through
    * `treeAggregate` as in [[Classify.dfCounts]], so no key's ids are
    * ever held whole. When the frame reads a persisted Dataset whose
    * cache is not built yet, this job builds it.
    */
  private[graft] def smallestIdsByKey(pairs: org.apache.spark.sql.DataFrame,
                                      cap: Int): Map[String, Array[String]] = {
    require(cap > 0, s"cap must be positive, got $cap")
    type Heaps = scala.collection.mutable.HashMap[String, java.util.PriorityQueue[String]]
    def add(m: Heaps, key: String, id: String): Heaps = {
      val heap = m.getOrElseUpdate(key,
        new java.util.PriorityQueue[String](java.util.Collections.reverseOrder[String]()))
      if (heap.size < cap) heap.add(id)
      else if (id < heap.peek) { heap.poll(); heap.add(id) }
      m
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    val rdd = pairs.as[(String, String)].rdd
    rdd.treeAggregate(new Heaps)(
      (m, kv) => add(m, kv._1, kv._2),
      (a, b) => { b.foreachEntry((k, heap) => heap.forEach(id => add(a, k, id))); a },
      Classify.treeDepth(rdd.getNumPartitions))
      .map { case (k, heap) => k -> heap.toArray(Array.empty[String]).sorted }
      .toMap
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Steady-state classification for the classify-consuming verbs: the
    * corpus is extracted ONCE (persisted, Tungsten byte path), the IDF is
    * one job over that extraction ([[Classify.computeIdf]], which also
    * builds the extraction cache), and every row is scored with that
    * GLOBAL IDF. Like the reference, which builds its index once per
    * process (src/main.rs:89-95), every run computes the IDF afresh;
    * nothing of it is kept under `--out`, and an IDF table that an older
    * build left there is ignored. Returns the classified Dataset
    * (checkpointed sinks slice THESE rows rather than re-classifying per
    * slice) and a `release` thunk the verb calls when done.
    * There is deliberately NO materializing count() here (VERDICT r4
    * item 1): the verb's first action — the checkpoint staging write or
    * the stdout aggregation — populates the classify cache as part of
    * its own job, saving one full pass over the corpus and one
    * serialized job boundary. The extraction cache therefore stays
    * persisted (it backs any not-yet-computed classified partitions)
    * until `release`, which frees both.
    *
    * The extraction is ALWAYS persisted: the IDF pass and the classify
    * pass both read it. `classified` is persisted only when
    * `persistClassified` is set, which a caller does when it reads it
    * more than once: with `--out` (table write plus stdout) and with
    * `--fuzzy true` (the fuzzy keying reads it twice). A plain `top`/
    * `threads`/`news`/`categories` and `debug` read it once, and a cache
    * there only costs an extra job and a columnar build of the entities
    * map.
    *
    * This is the ONE classify steady state: the verbs (and through
    * them the `ScalingBench` pipeline stage) and PipelineSpec's one-scan
    * tests all call it.
    */
  private[graft] def classifySteadyState(spark: SparkSession, docs: Dataset[Doc],
      persistClassified: Boolean): (Dataset[graft.model.ClassifiedDoc], () => Unit) = {
    import org.apache.spark.storage.StorageLevel
    // session-memoized dictionary broadcast (VERDICT r3 item 6)
    val bc = Classify.dictsBroadcast(spark)
    // classify-only extraction (ExtractTitleExpr): same kernel/gate as
    // the full expression but spans are never even materialized — the
    // classify verbs read only (doc_id, lang, title_norm). The languages
    // verb, which does need spans, runs the full expression itself.
    val extracted = graft.extract.ExtractTitleExpr.run(docs.toDF())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bcIdf = spark.sparkContext.broadcast(Classify.computeIdf(extracted, bc.value))
    val scored = Classify.runWithIdfSlim(extracted, bc, bcIdf)
    val classified =
      if (persistClassified) scored.persist(StorageLevel.MEMORY_AND_DISK) else scored
    // unpersist of a never-persisted Dataset is a no-op
    (classified, () => { extracted.unpersist(); classified.unpersist(); () })
  }

  def run(spark: SparkSession, verb: String, opts: Map[String, String]): Unit = {
    import spark.implicits._
    val docs = inputDocs(spark, opts)
    // an explicit --buckets wins; without it a table with sealed units
    // keeps the count its manifests record (another count re-slices the
    // committed rows, which the sink refuses), and a new table gets 16
    val buckets =
      if (opts.contains("buckets")) longOpt(opts, "buckets", 16L, min = 1L, max = 1000000L).toInt
      else opts.get("out")
        .flatMap(out => Checkpoint.readManifests(out).map(_.buckets).find(_ > 0))
        .getOrElse(16)

    // Checkpointed sink: commit units slice the INPUT by key hash, and the
    // bucket-local transform runs once over the uncommitted slices —
    // resume recomputes only those, never the whole pipeline. With --validate true,
    // the opt-in lineage audit runs FIRST (one extra input scan): any
    // committed unit whose current input slice no longer matches its
    // sealed fingerprint aborts the run with the drifted-bucket listing —
    // a drifted input must not be silently extended with fresh units
    // while the stale committed slices stand.
    def auditIfRequested(input: org.apache.spark.sql.DataFrame, keyCol: String,
                         out: String): Unit =
      if (opts.get("validate").contains("true")) {
        val drifted = Checkpoint.validateCommitted(spark, input, keyCol, out, buckets)
        if (drifted.nonEmpty)
          throw new DriftError(
            s"input drift under committed units of $out: " +
              s"buckets ${drifted.mkString(",")} no longer match their " +
              "sealed lineage fingerprints (recompute the table or drop " +
              "the drifted units' manifests to force their rewrite)")
      }

    // a table whose committed units were bucketed by a DIFFERENT key or
    // bucket count is a verb/--out/--buckets mismatch (e.g. `threads --out
    // <news-table>`), not input drift — the library's audit/resume raise
    // the typed KeyingMismatch (ONE predicate, one manifest read); surface
    // it as the usage error it is (exit 2) instead of a stack trace
    // (ADVICE r6)
    def keyingAsUsageError(body: => Unit): Unit =
      try body
      catch {
        case e: Checkpoint.KeyingMismatch =>
          throw new CliArgError(
            e.getMessage + " — point --out at a fresh directory or " +
              "rerun the verb and --buckets that wrote it")
      }
    def writeOut(input: org.apache.spark.sql.DataFrame, keyCol: String,
                 transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      opts.get("out").foreach { out =>
        keyingAsUsageError {
          auditIfRequested(input, keyCol, out)
          Checkpoint.resume(spark, input, keyCol, transform, out, buckets)
        }
      }

    verb match {
      case "languages" =>
        // ONE extraction pass (expression path, persisted) feeds both the
        // stdout collect and the checkpointed write — the table slices the
        // EXTRACTED rows by doc_id, so no per-slice re-extraction
        // (VERDICT r3 item 7; extraction is row-wise, so slicing the
        // output by doc_id ≡ extracting doc_id-sliced input)
        import org.apache.spark.storage.StorageLevel
        val extracted = graft.extract.ExtractSpansExpr.run(docs.toDF())
          .persist(StorageLevel.MEMORY_AND_DISK)
        // try/finally: a DriftError from writeOut's audit must still
        // release the extraction cache (r6 review #2)
        try {
          // the stdout ids come first: their exchange-free job also builds
          // the extraction cache, which the table write then reads
          val byLang = smallestIdsByKey(extracted.select($"lang", $"doc_id"), MaxCliRows)
          writeOut(extracted
            .select(col("doc_id"), col("lang"), col("title_norm"), col("spans")),
            "doc_id", identity)
          // {"lang_code": "en", "articles": [...]}, then ru — printer.rs:6-62
          val frames = Seq("en", "ru").map { l =>
            s"""{"lang_code": ${jsonStr(l)}, "articles": [${byLang.getOrElse(l, Array.empty[String]).map(jsonStr).mkString(", ")}]}"""
          }
          println(frames.mkString("[\n", ",\n", "\n]"))
        } finally extracted.unpersist()

      case "news" | "categories" =>
        val (classified, release) =
          classifySteadyState(spark, docs, persistClassified = opts.contains("out"))
        // the table slices the PERSISTED classified rows (already scored
        // with the global IDF) — classification runs once, not once for
        // stdout plus once per commit unit. try/finally: a DriftError
        // from writeOut's audit must still release the caches.
        try {
          writeOut(classified.toDF()
            .select(col("doc_id"), col("lang"), col("title_norm"),
              col("category"), col("is_news")),
            "doc_id", identity)
          val rows = classified.toDF()
          if (verb == "news") {
            val ids = smallestIdsByKey(
              rows.filter(col("is_news")).select(lit(""), col("doc_id")), MaxCliRows)
              .getOrElse("", Array.empty[String])
            println(s"""{"articles": [${ids.map(jsonStr).mkString(", ")}]}""")
          } else {
            val cats = smallestIdsByKey(
              rows.filter(col("category") =!= "").select(col("category"), col("doc_id")),
              MaxCliRows).toSeq.sortBy(_._1)
            val frames = cats.map { case (c, ids) =>
              s"""{"category": ${jsonStr(c)}, "articles": [${ids.map(jsonStr).mkString(", ")}]}"""
            }
            println(frames.mkString("[\n", ",\n", "\n]"))
          }
        } finally release()

      case "debug" =>
        // counters + stage timings (reference: src/main.rs:159-187)
        val t0 = System.nanoTime()
        val nInput = docs.count()
        val t1 = System.nanoTime()
        // classified is read once by the counters (and again only by the
        // opt-in audit), so it is not persisted
        val (classified, release) =
          classifySteadyState(spark, docs, persistClassified = false)
        try {
          // extract_classify_ms covers the extraction and IDF job; the
          // classify kernel runs fused into the counters' pass below
          val t2 = System.nanoTime()
          // every counter from ONE pass: a row per title, then totals
          // over those rows. A thread is a title with at least 2 docs —
          // exactly the rows Threads.threads keeps
          val perTitle = classified.toDF().groupBy(col("title_norm")).agg(
            count(lit(1)).as("n"),
            count(when(col("lang") === "en", 1)).as("n_en"),
            count(when(col("lang") === "ru", 1)).as("n_ru"),
            count(when(col("is_news"), 1)).as("n_news"))
          def total(c: String) = coalesce(sum(col(c)), lit(0L))
          val (nKept, nEn, nRu, nNews, nTitles, nThreads) = perTitle
            .agg(total("n"), total("n_en"), total("n_ru"), total("n_news"),
              count(lit(1)), count(when(col("n") >= 2, 1)))
            .as[(Long, Long, Long, Long, Long, Long)].head()
          val t3 = System.nanoTime()
          def ms(a: Long, b: Long) = (b - a) / 1000000
          println(
            s"""{"n_input": $nInput, "n_kept": $nKept, "n_en": $nEn, """ +
            s""""n_ru": $nRu, "n_news": $nNews, """ +
            s""""n_distinct_titles": $nTitles, "n_threads": $nThreads, """ +
            s""""scan_ms": ${ms(t0, t1)}, "extract_classify_ms": ${ms(t1, t2)}, """ +
            s""""threads_ms": ${ms(t2, t3)}}""")
          // debug writes no table, but `debug --validate true --out <t>`
          // is the read-only drift audit of an existing table: it exits 3
          // on drift like the writing verbs and never touches $out. The
          // audit keys by the table's RECORDED keying
          // (ADVICE r6: a fixed doc_id audit against a threads/top table
          // — keyed by title_norm or component — reported spurious drift):
          // doc_id and title_norm slices are reproducible from the
          // classified frame here; a component-keyed table needs the
          // fuzzy clustering this verb doesn't run, and a pre-key_col
          // table's keying is UNKNOWN (r7 review: the bare column set
          // conflated that with "no committed units" and audited it by
          // doc_id — spurious drift again) — both refuse with the real
          // story instead of a drift report.
          if (opts.get("validate").contains("true"))
            opts.get("out").foreach { out => keyingAsUsageError {
              val (nCommitted, recorded) = Checkpoint.recordedKeying(out)
              recorded.toList match {
                case _ if nCommitted == 0 => // nothing committed: audit is vacuous
                case List("doc_id") =>
                  auditIfRequested(classified.toDF().select(col("doc_id")), "doc_id", out)
                case List("title_norm") =>
                  auditIfRequested(classified.toDF().select(col("title_norm")), "title_norm", out)
                case Nil =>
                  throw new CliArgError(
                    s"--out $out holds committed units whose manifests predate " +
                      "key recording — debug cannot audit by recorded keying; " +
                      "run the audit via the verb that wrote the table (its " +
                      "audit asserts the key explicitly)")
                case other =>
                  throw new CliArgError(
                    s"--out $out holds a table keyed by '${other.mkString(",")}' — " +
                      "debug cannot audit it; run the audit via the verb that " +
                      "wrote the table (e.g. threads --fuzzy --validate true)")
              }
            }}
        } finally release()

      case "threads" | "top" =>
        // two-stage at scale: classify once (persisted when the table
        // write or the fuzzy keying reads it again), then cluster.
        // Exact: commit units slice by title hash (clusters = title
        // groups, so they never cross units). Fuzzy: components CROSS
        // title slices, so the global component id is computed FIRST and
        // commit units slice by it — stdout and the table now come from
        // the SAME clustering (VERDICT r3 item 3: the old sink silently
        // wrote exact-title threads under --fuzzy).
        val fuzzy = opts.get("fuzzy").contains("true")
        val (classified, release) = classifySteadyState(spark, docs,
          persistClassified = opts.contains("out") || fuzzy)
        var fuzzyKeyed: Option[org.apache.spark.sql.DataFrame] = None
        // try/finally: a DriftError from writeOut's audit must still
        // release the classify + fuzzy caches
        try {
          fuzzyKeyed =
            if (fuzzy)
              Some(Threads.fuzzyKeyed(classified.toDF())
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
            else None
          // the table's transform is the thread aggregation with the
          // sink's part_bucket as one more min column: it is constant
          // within a title or component, and partitionBy drops it from
          // the files, which keep the thread table's schema
          val th = fuzzyKeyed match {
            case Some(keyed) =>
              writeOut(keyed, "component", df => Threads.saltedSizeSample(df, "component",
                Threads.ArticleSampleK, Seq("title_norm", "category", "part_bucket")).drop("component"))
              Threads.threadsFromKeyed(keyed)
            case None =>
              writeOut(classified.toDF(), "title_norm", df => Threads.saltedSizeSample(df,
                "title_norm", Threads.ArticleSampleK, Seq("category", "part_bucket")))
              Threads.threads(classified)
          }
          if (verb == "threads") {
            val rows = Threads.ranked(th)
              .select($"title_norm", $"articles")
              .as[(String, Seq[String])].take(MaxCliRows)
            val frames = rows.map { case (t, a) =>
              s"""{"title": ${jsonStr(t)}, "articles": [${a.map(jsonStr).mkString(", ")}]}"""
            }
            println(frames.mkString("[\n", ",\n", "\n]"))
          } else {
            val rows = Threads.top(th)
              .select($"category", $"rank", $"title_norm", $"articles")
              .as[(String, Int, String, Seq[String])].collect()
            val frames = rows.groupBy(_._1).toSeq.sortBy {
              case ("any", _) => "" // any first, as the reference prints it
              case (c, _)     => c
            }.map { case (cat, ts) =>
              val threads = ts.sortBy(_._2).map { case (_, _, t, a) =>
                s"""{"title": ${jsonStr(t)}, "articles": [${a.map(jsonStr).mkString(", ")}]}"""
              }
              s"""{"category": ${jsonStr(cat)}, "threads": [${threads.mkString(", ")}]}"""
            }
            println(frames.mkString("[\n", ",\n", "\n]"))
          }
        } finally {
          fuzzyKeyed.foreach(_.unpersist())
          release()
        }
    }
  }
}
