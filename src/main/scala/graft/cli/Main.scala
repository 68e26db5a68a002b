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
  *        [--input <parquet dir with (doc_id, spans)>] [--synth <nDocs>]
  *        [--out <table dir>] [--buckets <n>]
  * }}}
  *
  * With --out, results are written as a checkpointed table (resumable,
  * per-unit lineage — see [[graft.tablefmt.Checkpoint]]). The JSON frames
  * printed to stdout mirror the reference's printers (src/printer.rs:6-62,
  * src/nlu/glossary.rs:218-278) from a driver-side collect CAPPED at
  * `MaxCliRows` — the stdout path is a CLI-compat shim, the table write is
  * the real sink (SURVEY.md §1.3 S4).
  */
object Main {

  val MaxCliRows = 100000

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
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

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Steady-state classification for the classify-consuming verbs: the
    * corpus is extracted ONCE (persisted, Tungsten byte path); with --out
    * the token-DF table is written to `$out/_idf` on the first run and
    * read back by every later run (resume included) — the reference's
    * build-index-once flow (src/main.rs:89-95): steady-state
    * classification is a single corpus scan, no per-job IDF recompute.
    * Returns the persisted classified Dataset (scored with the GLOBAL
    * IDF — checkpointed sinks slice THESE rows rather than re-classifying
    * per slice), a `release` thunk the verb calls when done, and a
    * `commitIdf` thunk that persists the `$out/_idf` sidecar. The sidecar
    * write is DEFERRED to commitIdf (called after the verb's checkpoint
    * write, i.e. after the `--validate` drift audit had its chance to
    * abort): a validate run that detects drift must leave `$out` fully
    * untouched — the r6 review found the old shape overwriting `_idf`
    * with the drifted corpus's IDF before the audit ran (r6 review #1).
    * There is deliberately NO materializing count() here (VERDICT r4
    * item 1): the verb's first action — the checkpoint staging write or
    * the stdout aggregation — populates the classify cache as part of
    * its own job, saving one full pass over the corpus and one
    * serialized job boundary. The extraction cache therefore stays
    * persisted (it backs any not-yet-computed classified partitions)
    * until `release`, which frees both.
    */
  private def classifySteadyState(spark: SparkSession, docs: Dataset[Doc],
      opts: Map[String, String]): (Dataset[graft.model.ClassifiedDoc], () => Unit, () => Unit) = {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    // session-memoized dictionary broadcast (VERDICT r3 item 6)
    val bc = Classify.dictsBroadcast(spark)
    // classify-only extraction (ExtractTitleExpr): same kernel/gate as
    // the full expression but spans are never even materialized — the
    // classify verbs read only (doc_id, lang, title_norm). The languages
    // verb, which does need spans, runs the full expression itself.
    val extracted = graft.extract.ExtractTitleExpr.run(docs.toDF())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (idf, commitIdf): (graft.gloss.TokenIdf, () => Unit) = opts.get("out") match {
      case Some(out) =>
        val idfDir = s"$out/_idf"
        val fpFile = java.nio.file.Paths.get(s"$out/_idf_fp")
        // input fingerprint gates reuse: a persisted IDF from a DIFFERENT
        // corpus must not silently score this one. The fingerprint runs on
        // the (persisted) extracted cache — no extra corpus scan.
        // coalesce: bit_xor aggregates to NULL on an empty extraction
        // (e.g. every doc dropped by the language gate)
        val fp = {
          val r = extracted.agg(
            count(lit(1)),
            coalesce(bit_xor(xxhash64(col("doc_id"), col("title_norm"))), lit(0L))).head()
          s"${r.getLong(0)}:${r.getLong(1)}"
        }
        val fresh = java.nio.file.Files.exists(fpFile) &&
          java.nio.file.Files.readString(fpFile).trim == fp &&
          new java.io.File(idfDir, "_SUCCESS").exists
        if (fresh) (Classify.idfFromTable(spark.read.parquet(idfDir)), () => ())
        else {
          // collect the bounded count set now (≤ vocabulary+1 rows),
          // persist it only when the verb commits — a death between the
          // table write and this sidecar write is safe: the next run
          // sees a stale fingerprint and recomputes the same IDF from
          // the same corpus before resuming
          val counts = Classify.dfTableSlim(extracted, bc.value)
            .select(col("token"), col("df").cast("long"))
            .as[(String, Long)].collect()
          (Classify.idfFromCounts(counts), () => {
            counts.toSeq.toDF("token", "df")
              .coalesce(1).write.mode("overwrite").parquet(idfDir)
            java.nio.file.Files.writeString(fpFile, fp)
            ()
          })
        }
      case None =>
        (Classify.idfFromTable(Classify.dfTableSlim(extracted, bc.value)), () => ())
    }
    val bcIdf = spark.sparkContext.broadcast(idf)
    val classified = Classify.runWithIdfSlim(extracted, bc, bcIdf)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (classified, () => { extracted.unpersist(); classified.unpersist(); () }, commitIdf)
  }

  def run(spark: SparkSession, verb: String, opts: Map[String, String]): Unit = {
    import spark.implicits._
    val docs = inputDocs(spark, opts)
    val buckets = longOpt(opts, "buckets", 16L, min = 1L, max = 1000000L).toInt

    // Checkpointed sink: commit units slice the INPUT by key hash, and the
    // transform runs per disjoint slice — resume recomputes only
    // uncommitted slices, never the whole pipeline. With --validate true,
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

    // a table whose committed units were bucketed by a DIFFERENT key is a
    // verb/--out mismatch (e.g. `threads --out <news-table>`), not input
    // drift — the library's audit/resume raise the typed KeyingMismatch
    // (ONE predicate, one manifest read); surface it as the usage error
    // it is (exit 2) instead of a stack trace (ADVICE r6)
    def writeOut(input: org.apache.spark.sql.DataFrame, keyCol: String,
                 transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      opts.get("out").foreach { out =>
        try {
          auditIfRequested(input, keyCol, out)
          // concurrent units: no idle cores between one unit's job and the next
          Checkpoint.resume(spark, input, keyCol, transform, out, buckets,
            unitParallelism = spark.sparkContext.defaultParallelism)
        } catch {
          case e: Checkpoint.KeyingMismatch =>
            throw new CliArgError(
              e.getMessage + " — point --out at a fresh directory or " +
                "rerun the verb that wrote it")
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
          writeOut(extracted
            .select(col("doc_id"), col("lang"), col("title_norm"), col("spans")),
            "doc_id", identity)
          // {"lang_code": "en", "articles": [...]}, then ru — printer.rs:6-62
          val byLang = extracted.select($"lang", $"doc_id")
            .as[(String, String)].groupByKey(_._1)
            .mapGroups((l, it) => (l, it.map(_._2).take(MaxCliRows).toArray.sorted))
            .collect().toMap
          val frames = Seq("en", "ru").map { l =>
            s"""{"lang_code": ${jsonStr(l)}, "articles": [${byLang.getOrElse(l, Array.empty[String]).map(jsonStr).mkString(", ")}]}"""
          }
          println(frames.mkString("[\n", ",\n", "\n]"))
        } finally extracted.unpersist()

      case "news" | "categories" =>
        val (classified, release, commitIdf) = classifySteadyState(spark, docs, opts)
        // the table slices the PERSISTED classified rows (already scored
        // with the global IDF) — classification runs once, not once for
        // stdout plus once per commit unit. try/finally: a DriftError
        // from writeOut's audit must still release the caches.
        try {
          writeOut(classified.toDF()
            .select(col("doc_id"), col("lang"), col("title_norm"),
              col("category"), col("is_news")),
            "doc_id", identity)
          commitIdf() // sidecar only after the audit + table write stood
          if (verb == "news") {
            val ids = classified.filter(_.is_news).map(_.doc_id)
              .take(MaxCliRows).sorted
            println(s"""{"articles": [${ids.map(jsonStr).mkString(", ")}]}""")
          } else {
            val cats = classified.filter(_.category.nonEmpty)
              .groupByKey(_.category)
              .mapGroups((c, it) => (c, it.map(_.doc_id).take(MaxCliRows).toArray.sorted))
              .collect().sortBy(_._1)
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
        val (classified, release, commitIdf) = classifySteadyState(spark, docs, opts)
        try {
          val nKept = classified.count()
          val t2 = System.nanoTime()
          val byLang = classified.groupByKey(_.lang).count().collect().toMap
          val nNews = classified.filter(_.is_news).count()
          val nTitles = classified.map(_.title_norm).distinct().count()
          val nThreads = Threads.threads(classified).count()
          val t3 = System.nanoTime()
          def ms(a: Long, b: Long) = (b - a) / 1000000
          println(
            s"""{"n_input": $nInput, "n_kept": $nKept, "n_en": ${byLang.getOrElse("en", 0L)}, """ +
            s""""n_ru": ${byLang.getOrElse("ru", 0L)}, "n_news": $nNews, """ +
            s""""n_distinct_titles": $nTitles, "n_threads": $nThreads, """ +
            s""""scan_ms": ${ms(t0, t1)}, "extract_classify_ms": ${ms(t1, t2)}, """ +
            s""""threads_ms": ${ms(t2, t3)}}""")
          // debug writes no table, but it DOES maintain the _idf sidecar —
          // so under --validate it must run the same audit the writing
          // verbs do before touching $out (r6 review #1: without this, a
          // drifted `debug --validate --out` overwrote the sidecar and
          // exited 0, leaving a later `top --validate` unable to see the
          // drift in _idf). The audit keys by the table's RECORDED keying
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
            opts.get("out").foreach { out =>
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
            }
          commitIdf()
        } finally release()

      case "threads" | "top" =>
        // two-stage at scale: persist classified once, then cluster.
        // Exact: commit units slice by title hash (clusters = title
        // groups, so they never cross units). Fuzzy: components CROSS
        // title slices, so the global component id is computed FIRST and
        // commit units slice by it — stdout and the table now come from
        // the SAME clustering (VERDICT r3 item 3: the old sink silently
        // wrote exact-title threads under --fuzzy).
        val (classified, release, commitIdf) = classifySteadyState(spark, docs, opts)
        var fuzzyKeyed: Option[org.apache.spark.sql.DataFrame] = None
        // try/finally: a DriftError from writeOut's audit must still
        // release the classify + fuzzy caches
        try {
          fuzzyKeyed =
            if (opts.get("fuzzy").contains("true"))
              Some(Threads.fuzzyKeyed(classified.toDF())
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
            else None
          val th = fuzzyKeyed match {
            case Some(keyed) =>
              writeOut(keyed, "component", df => Threads.threadsFromKeyed(df))
              Threads.threadsFromKeyed(keyed)
            case None =>
              writeOut(classified.toDF(), "title_norm",
                df => Threads.threads(df.as[graft.model.ClassifiedDoc]))
              Threads.threads(classified)
          }
          commitIdf() // sidecar only after the audit + table write stood
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
