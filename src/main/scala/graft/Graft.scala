package graft

import graft.extract.Extract
import graft.gloss.Classify
import graft.model.{ClassifiedDoc, Doc, ExtractedDoc}
import graft.threads.Threads
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Library facade — the five reference verbs as typed Dataset transforms
  * over the same extraction and classify paths the CLI and SparkEntry
  * run (one IDF pass, one expression classify). A reference
  * user's `tgnews <verb> <dir>` maps to:
  *
  * {{{
  *   val g = Graft(spark)                  // registers SQL functions too
  *   val docs = spark.read.parquet(in).as[Doc]
  *   g.languages(docs)                     // verb: languages
  *   g.news(docs); g.categories(docs)      // verbs: news / categories
  *   g.threads(docs); g.top(docs)          // verbs: threads / top
  * }}}
  */
final class Graft(val spark: SparkSession) {

  val dicts: Broadcast[Classify.Dicts] =
    Classify.dictsBroadcast(spark) // session-memoized, shared across facades

  /** HTML → ordered spans + language gate (verbs build on this). */
  def extract(docs: Dataset[Doc]): Dataset[ExtractedDoc] = Extract.run(docs)

  /** Corpus IDF (one eager pass) + the expression classify path. The
    * result is lazy: every action re-extracts. When several actions
    * consume one corpus, persist the extraction first — the CLI's steady
    * state (`cli.Main.classifySteadyState`) does exactly that.
    */
  def classify(docs: Dataset[Doc]): Dataset[ClassifiedDoc] = {
    val extracted = extract(docs).toDF()
    Classify.runWithIdfSlim(extracted, dicts,
      spark.sparkContext.broadcast(Classify.computeIdf(extracted, dicts.value)))
  }

  /** languages: (lang, doc_id) for the en/ru whitelist. */
  def languages(docs: Dataset[Doc]): DataFrame = {
    import spark.implicits._
    extract(docs).select($"lang", $"doc_id")
  }

  /** news: doc ids whose category is one of the six news categories. */
  def news(docs: Dataset[Doc]): DataFrame = {
    import spark.implicits._
    classify(docs).filter(_.is_news).select($"doc_id", $"category")
  }

  /** categories: (category, doc_id) for categorized docs. */
  def categories(docs: Dataset[Doc]): DataFrame = {
    import spark.implicits._
    classify(docs).filter(_.category.nonEmpty).select($"category", $"doc_id")
  }

  /** threads: ≥2-member clusters ranked by size. */
  def threads(docs: Dataset[Doc]): DataFrame =
    Threads.ranked(Threads.threads(classify(docs)))

  /** top: per-category buckets (+ "any"), top `limit` threads each. */
  def top(docs: Dataset[Doc], limit: Int = 10): DataFrame =
    Threads.top(Threads.threads(classify(docs)), limit)

  // ---- table-native verbs (Tungsten byte path) -----------------------
  // For input that is already a table (the 10^12-doc Iceberg-layout
  // shape), extraction runs as ONE Catalyst expression over the scan —
  // no encoder boundary (see ExtractSpansExpr; +24% measured at 2M
  // docs). Verbs that consume extraction RELATIONALLY stay object-free
  // end-to-end; news/categories need the entity classifier and go
  // through the typed path.

  /** languages over a (doc_id, spans) DataFrame — object-free plan. */
  def languagesDf(docs: DataFrame): DataFrame =
    graft.extract.ExtractSpansExpr.run(docs).select("lang", "doc_id")

  /** threads over a (doc_id, spans) DataFrame: expression extraction →
    * the same salted two-phase clustering as [[Threads.threads]] (shared
    * helper — one code path for the clustering contract).
    */
  def threadsDf(docs: DataFrame): DataFrame =
    Threads.ranked(Threads.saltedSizeSample(
      graft.extract.ExtractSpansExpr.run(docs), "title_norm",
      Threads.ArticleSampleK, Nil))
}

object Graft {
  def apply(spark: SparkSession): Graft = {
    graft.functions.GraftFunctions.register(spark)
    new Graft(spark)
  }
}
