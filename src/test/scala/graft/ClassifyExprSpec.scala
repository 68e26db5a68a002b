package graft

import graft.gloss.{Classify, ClassifyTitleExpr}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ClassifyTitleExpr (the Tungsten-native classification expression) vs
  * the typed mapPartitions path — equivalence net + single-eval pin,
  * mirroring ByteExtractSpec for the extraction expression.
  */
class ClassifyExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def norm(ds: org.apache.spark.sql.Dataset[graft.model.ClassifiedDoc]) =
    ds.collect().map(d => (d.doc_id, d.lang, d.title_norm, d.category, d.is_news,
      d.entities.view.mapValues(_.toList).toMap)).toSet

  test("expression path ≡ typed path on the synth corpus (8k docs, IDF-gated)") {
    val slim = graft.extract.ExtractTitleExpr.run(
      graft.synth.Synth.corpus(spark, 42L, 8000L).toDF())
      .persist()
    val bc = Classify.dictsBroadcast(spark)
    val bcIdf = spark.sparkContext.broadcast(Classify.computeIdf(slim, bc.value))
    val expr = norm(Classify.runWithIdfSlim(slim, bc, bcIdf))
    val typed = norm(Classify.runWithIdfSlimTyped(slim, bc, bcIdf))
    assert(expr == typed)
    assert(expr.nonEmpty)
    // the corpus actually exercises the interesting surface
    assert(expr.exists(_._4.nonEmpty))         // some categorized
    assert(expr.exists(!_._5))                 // some non-news
    assert(expr.exists(_._6.nonEmpty))         // some entities
    slim.unpersist()
  }

  test("the expression evaluates ONCE per row (CollapseProject must not duplicate it)") {
    import spark.implicits._
    // repartition blocks ConvertToLocalRelation — a bare Seq-backed
    // LocalRelation would be constant-folded on the driver and the plan
    // assertions below would see no expression at all
    val slim = Seq(
      ("d1", "en", "putin meets congress on trade budget"),
      ("d2", "en", "the quick brown fox"),
      ("d3", "ru", "правительство россии обсуждает бюджет"))
      .toDF("doc_id", "lang", "title_norm").repartition(2)
    val bc = Classify.dictsBroadcast(spark)
    val bcIdf = spark.sparkContext.broadcast(Classify.computeIdf(slim, bc.value))
    val out = Classify.runWithIdfSlim(slim, bc, bcIdf).toDF()
    def exprCount(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val opt = df.queryExecution.optimizedPlan.toString
      // the PHYSICAL plan too: a post-optimizer duplication (physical
      // project collapsing, future ScanOperation changes) must not
      // silently triple the kernel either (r6 review ×2)
      val phys = df.queryExecution.executedPlan.toString
      // the hot path is object-free: no encoder boundary survives
      // (the point of VERDICT r5 item 3)
      Seq(opt, phys).foreach { plan =>
        assert(!plan.contains("DeserializeToObject") &&
          !plan.contains("SerializeFromObject") &&
          !plan.contains("MapPartitions"), plan)
      }
      ("classify_title".r.findAllIn(opt).length,
        "classify_title".r.findAllIn(phys).length)
    }
    // all three derived columns consumed → both plans carry exactly ONE
    // classify_title (a CollapseProject-style duplication would show
    // three — tripling the most expensive per-row kernel)
    assert(exprCount(out.select("category", "is_news", "entities")) == ((1, 1)))
    // a single-field projection stays at one occurrence too
    assert(exprCount(out.select("category")) == ((1, 1)))
    assert(out.select("category", "is_news", "entities").collect().length == 3)
  }

  test("NULL title_norm rows are dropped, not classified to null structs (ADVICE r6)") {
    import spark.implicits._
    // OutType declares non-nullable struct fields while the expression is
    // nullable (UnaryExpression: null child → null struct) — a caller
    // with nullable title_norm would flow nulls through fields the
    // optimizer treats as non-null. Both paths must filter instead.
    val slim = Seq(
      ("d1", "en", "putin meets congress on trade budget"),
      ("d2", "en", null),
      ("d3", "ru", "правительство россии обсуждает бюджет"))
      .toDF("doc_id", "lang", "title_norm").repartition(2)
    val bc = Classify.dictsBroadcast(spark)
    val bcIdf = spark.sparkContext.broadcast(
      Classify.computeIdf(slim.filter($"title_norm".isNotNull), bc.value))
    val expr = Classify.runWithIdfSlim(slim, bc, bcIdf)
    val typed = Classify.runWithIdfSlimTyped(slim, bc, bcIdf)
    assert(expr.collect().map(_.doc_id).sorted.toSeq == Seq("d1", "d3"))
    assert(norm(expr) == norm(typed))
    // no null leaks into the declared-non-null fields
    assert(expr.collect().forall(d => d.category != null && d.entities != null))
  }
}
