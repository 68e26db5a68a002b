package graft

import graft.functions.GraftFunctions
import graft.ops.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
  private def queries = emb.filter(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("q_id"), col("embedding"))

  /** every query vector is in the corpus → rank 1 must be itself, sim≈1 */
  private def assertSelfTop1(df: org.apache.spark.sql.DataFrame): Unit = {
    import spark.implicits._
    val top1 = df.filter(col("rank") === 1)
      .select(col("q_id"), col("vec_id"), col("sim"))
      .as[(Long, Long, Double)].collect()
    assert(top1.nonEmpty)
    top1.foreach { case (q, v, s) =>
      assert(q == v, s"query $q: top-1 was $v")
      assert(math.abs(s - 1.0) < 1e-5)
    }
  }

  /** IVF as ann_ivf_topk composes it: build the index, then search it. */
  private def ivfIndexSearch(corpus: org.apache.spark.sql.DataFrame,
                             qs: org.apache.spark.sql.DataFrame, k: Int,
                             nProbe: Int = 2): org.apache.spark.sql.DataFrame = {
    val (assigned, probes) = Similarity.ivfAssignProbes(spark, corpus, qs, nProbe = nProbe)
    Similarity.ivfSearch(assigned, probes, k)
  }

  /** (component, n_members) of the connected components over the
    * verified cosine pairs: the dup groups emb_cosine_dup's pairs imply.
    */
  private def cosineGroups(corpus: org.apache.spark.sql.DataFrame,
                           minSim: Double): org.apache.spark.sql.DataFrame =
    graft.ops.Dedup.connectedComponentsAuto(
        Similarity.cosineDupPairs(spark, corpus, minSim).select(col("id_a"), col("id_b")))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))

  test("brute-force top-k: self is rank 1, k results per query") {
    import spark.implicits._
    val r = Similarity.bruteForceTopK(spark, emb, queries, k = 5).cache()
    assertSelfTop1(r)
    val perQ = r.groupBy(col("q_id")).count().as[(Long, Long)].collect()
    assert(perQ.forall(_._2 == 5))
  }

  test("LSH-bucketed top-k: self is rank 1 (same bucket trivially)") {
    assertSelfTop1(Similarity.lshBucketTopK(spark, emb, queries, k = 5, nBits = 6))
  }

  test("multi-probe LSH: self is rank 1 and recall ≥ single-probe") {
    import spark.implicits._
    val multi = Similarity.lshMultiProbeTopK(spark, emb, queries, k = 5, nBits = 8)
    assertSelfTop1(multi)
    // recall vs brute-force truth, compared against single-probe
    val truth = Similarity.bruteForceTopK(spark, emb, queries, k = 5)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val single = Similarity.lshBucketTopK(spark, emb, queries, k = 5, nBits = 8)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val multiSet = multi.select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    assert((multiSet & truth).size >= (single & truth).size)
  }

  test("IVF top-k: self is rank 1 (own centroid always probed)") {
    assertSelfTop1(ivfIndexSearch(emb, queries, k = 5))
  }

  /** Planted-dup corpus: 40 well-separated bases; bases 0-9 get 1-3
    * near-copies (1e-4 perturbation — same sign signatures w.h.p.).
    * Deterministic (seeded splitmix via Synth-style hashing).
    */
  private def plantedDups: (org.apache.spark.sql.DataFrame, Map[Long, Set[Long]]) = {
    import spark.implicits._
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def unit(seed: Long, dim: Int): Array[Float] = {
      val v = Array.tabulate(dim)(d => (mix(seed * 1009L + d).toDouble / Long.MaxValue).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val dim = 16
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    val groups = scala.collection.mutable.Map[Long, Set[Long]]()
    var nextId = 0L
    (0 until 40).foreach { b =>
      val base = unit(b + 1L, dim)
      val baseId = nextId; nextId += 1
      rows += ((baseId, base))
      if (b < 10) {
        val nCopies = 1 + (mix(b + 7L) & 0x7fffffffL).toInt % 3
        val ids = (0 until nCopies).map { c =>
          val pert = base.zipWithIndex.map { case (x, d) =>
            x + 1e-4f * (mix(b * 31L + c * 7L + d).toDouble / Long.MaxValue).toFloat
          }
          val id = nextId; nextId += 1
          rows += ((id, pert)); id
        }
        groups(baseId) = (ids :+ baseId).toSet
      }
    }
    // a zero vector must score 0.0 against everything (not NaN) and join no group
    rows += ((nextId, Array.fill(dim)(0.0f)))
    (rows.toSeq.toDF("vec_id", "embedding"), groups.toMap)
  }

  test("cosineDupPairs components equal the brute-force threshold transitive closure") {
    import spark.implicits._
    val (corpus, planted) = plantedDups
    val got = cosineGroups(corpus, minSim = 0.999)
      .as[(Long, Long)].collect().toMap
    // brute-force closure: all-pairs ≥ minSim → union-find (in-test oracle)
    val vecs = corpus.as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    for (i <- vecs.indices; j <- (i + 1) until vecs.length
         if cos(vecs(i)._2, vecs(j)._2) >= 0.999) {
      val (a, b) = (find(vecs(i)._1), find(vecs(j)._1))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val want = vecs.map(_._1).groupBy(find).filter(_._2.length >= 2)
      .map { case (root, ms) => root -> ms.length.toLong }
    assert(got == want)
    // and the planted groups are exactly recovered
    planted.foreach { case (baseId, ids) => assert(got(baseId) == ids.size.toLong) }
  }

  test("cosineDupPairs candidate volume is LINEAR on a degenerate corpus") {
    import spark.implicits._
    // 3000 identical vectors all share every band signature — the round-1
    // within-bucket self-join would generate ~4.5M pairs here; anchor-star
    // must produce exactly n-1 (one per non-anchor, deduped across bands)
    val n = 3000
    val v = Array.tabulate(16)(d => (d + 1).toFloat)
    val corpus = (0L until n.toLong).map(i => (i, v)).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDupPairs(spark, corpus, minSim = 0.999).collect()
    assert(pairs.length == n - 1, s"expected ${n - 1} star pairs, got ${pairs.length}")
    assert(pairs.forall(_.getLong(0) == 0L)) // anchor = min vec_id
    val groups = cosineGroups(corpus, minSim = 0.999)
      .as[(Long, Long)].collect()
    assert(groups.toSeq == Seq((0L, n.toLong)))
  }

  test("cosine_sim: zero vectors score 0.0, not NaN") {
    import spark.implicits._
    val df = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val sims = df.select(GraftFunctions.cosine_sim(col("embedding"),
      array(lit(1.0f), lit(1.0f))).as("s")).as[Double].collect()
    assert(sims.forall(!_.isNaN))
    assert(sims.contains(0.0))
  }

  test("native CosineSim ≡ old zip_with/cast form BITWISE (incl. zero vectors)") {
    import spark.implicits._
    // the r7 native kernel replaced the cast-to-double zip_with/aggregate
    // Column form; the ANN rank order (all four ann_*/emb_* oracles) hangs
    // off these doubles, so equality must be BITWISE, not approximate —
    // both accumulate left-to-right in double, so it is
    def oldForm(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val ad = a.cast("array<double>"); val bd = b.cast("array<double>")
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)
      val na = dot(ad, ad); val nb = dot(bd, bd)
      when(na === 0.0 || nb === 0.0, lit(0.0))
        .otherwise(dot(ad, bd) / sqrt(na * nb))
    }
    val zero = Seq((-1L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val pairs = emb.select(col("vec_id"), col("embedding")).unionByName(zero).limit(30)
      .crossJoin(emb.limit(30).select(col("vec_id").as("v2"), col("embedding").as("e2")))
    val both = pairs.select(
      GraftFunctions.cosine_sim(col("embedding"), col("e2")).as("native"),
      oldForm(col("embedding"), col("e2")).as("old"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, o) =>
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(o), s"$n vs $o")
    }
    // and the plan is the single native call — no higher-order lambdas left
    val plan = pairs.select(GraftFunctions.cosine_sim(col("embedding"), col("e2")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("cosine_sim"), plan.take(1500))
    assert(!plan.contains("zip_with"), plan.take(1500))
  }

  test("native SignLsh ≡ Array[Float] signature kernel RAW (all sf0.001 vectors, 3 plane sets)") {
    import spark.implicits._
    // the UDF→expression move (VERDICT r7 item 3) must not flip a single
    // bucket bit: every materialized signature base (ann_sig6/8,
    // emb_banded) and every LSH bucket key hangs off these ints
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val dim = vecs.head._2.length
    for (nBits <- Seq(6, 8, 12)) {
      val planes = Similarity.hyperplanes(dim, nBits, 42L)
      val got = Similarity.sigTable(spark, emb, nBits)
        .as[(Long, Int)].collect().toMap
      vecs.foreach { case (id, v) =>
        assert(got(id) == Similarity.signature(planes, v), s"nBits=$nBits id=$id")
      }
    }
    // banded: (band, sig) rows equal the per-band kernel signatures
    val banded = Similarity.signBanded(spark, emb, bands = 4, bitsPerBand = 8)
      .as[(Long, Int, Int)].collect().map { case (id, b, s) => (id, b) -> s }.toMap
    val bandPlanes = Array.tabulate(4)(b => Similarity.hyperplanes(dim, 8, 42L + 101L * b))
    vecs.foreach { case (id, v) =>
      (0 until 4).foreach { b =>
        assert(banded((id, b)) == Similarity.signature(bandPlanes(b), v))
      }
    }
    // null-embedding rows vanish, exactly like the UDF form (whose NULL
    // array posexploded to nothing) — not `bands` null-sig rows
    val withNull = Seq((1L, Array(1.0f, 2.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val rows = Similarity.signBanded(spark, withNull, bands = 4, bitsPerBand = 8)
      .as[(Long, Int, Int)].collect()
    assert(rows.length == 4 && rows.forall(_._1 == 1L), rows.mkString(","))
  }

  test("native IVF assign/probes ≡ the typed rule (argmax dotNorm, (-sim, cid) top-k)") {
    import spark.implicits._
    val (assigned, probes) = Similarity.ivfAssignProbes(spark, emb, queries)
    val gotAssign = assigned.select(col("vec_id"), col("cid"))
      .as[(Long, Int)].collect().toMap
    val gotProbes = probes.select(col("q_id"), col("cid"))
      .as[(Long, Int)].collect().groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet }
    // driver-side re-derivation of the typed rule this expression replaced
    val cents = Similarity.kmeansCentroids(spark, emb, nCentroids = 16, iters = 3, seed = 42L)
    def dn(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      val n = math.min(a.length, b.length); var i = 0
      while (i < n) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    def nearest(e: Array[Float], n: Int): Seq[Int] =
      cents.map { case (i, c) => (i, dn(c, e)) }
        .sortBy { case (i, s) => (-s, i) }.take(n).map(_._1).toSeq
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().foreach { case (id, e) =>
        assert(gotAssign(id) == nearest(e, 1).head, s"vec $id")
      }
    queries.select(col("q_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().foreach { case (q, e) =>
        assert(gotProbes(q) == nearest(e, 2).toSet, s"query $q")
      }
  }

  test("corpus legs are expression-only: no ScalaUDF, no encoder boundary (plan pin)") {
    // VERDICT r7 item 3 done-criterion: the full-corpus legs of every
    // embedding path run inside whole-stage codegen — no per-row UDF
    // deserialization, no typed-map DeserializeToObject
    val plans = Seq(
      "sigTable" -> Similarity.sigTable(spark, emb, nBits = 8),
      "signBanded" -> Similarity.signBanded(spark, emb),
      "lshBucket" -> Similarity.lshBucketTopK(spark, emb, queries, k = 5, nBits = 6),
      "lshMultiProbe" -> Similarity.lshMultiProbeTopK(spark, emb, queries, k = 5, nBits = 8),
      "ivfAssign" -> Similarity.ivfAssignProbes(spark, emb, queries)._1,
      "ivfProbes" -> Similarity.ivfAssignProbes(spark, emb, queries)._2)
    plans.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF"), s"$name:\n${p.take(2000)}")
      assert(!p.contains("DeserializeToObject") && !p.contains("MapElements"),
        s"$name:\n${p.take(2000)}")
    }
  }

  test("CosineSim: length mismatch → NULL (loud malformed row, like the zip_with form)") {
    import spark.implicits._
    // ADVICE r7: zip_with null-padded the shorter array so the old form
    // returned NULL on mismatched dims; the native kernel must not
    // silently score the min-length prefix instead
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)), // mismatch → NULL
      (2L, Array(1.0f, 0.0f), Array(1.0f, 0.0f))        // equal dims → 1.0
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), GraftFunctions.cosine_sim(col("a"), col("b")).as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).isEmpty, "mismatched dims must yield NULL")
    assert(math.abs(out(2L).get - 1.0) < 1e-12)
  }

  test("dotNorm kernel paths share the zero-norm semantics (brute force, no NaN)") {
    import spark.implicits._
    // ADVICE r2: a zero vector in the corpus must score 0.0 on EVERY path
    // — the heap kernel (dotNorm) and the expression scorer must agree,
    // not rely on the fixtures being zero-free. NaN would sort above every
    // real sim in the rank window and corrupt top-k order.
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val qs = Seq((1L, Array(1.0f, 0.0f))).toDF("q_id", "embedding")
    val r = Similarity.bruteForceTopK(spark, corpus, qs, k = 4)
      .select($"vec_id", $"sim").as[(Long, Double)].collect().toMap
    assert(!r.values.exists(_.isNaN))
    assert(r(2L) == 0.0) // zero vector: defined score, not NaN
    assert(r(2L) > r(4L) && r(2L) < r(3L)) // ranks between anti- and near-parallel
  }

  test("multi-probe candidate dedup shuffles IDS only, embeddings re-attach after") {
    // VERDICT r2 item 4 done-criterion: the dedup exchange carries two
    // longs, not O(cand·dim) embedding arrays. The distinct's partial
    // HashAggregate and its Exchange must mention only q_id/vec_id.
    val plan = Similarity.lshMultiProbeTopK(spark, emb, queries, k = 5, nBits = 8)
      .queryExecution.executedPlan.toString
    val dedupAgg = plan.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("keys=[q_id"))
      .toSeq
    assert(dedupAgg.nonEmpty, plan.take(2000))
    dedupAgg.foreach(l => assert(!l.contains("emb"), l))
    val dedupExchange = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(q_id"))
      .toSeq
    assert(dedupExchange.nonEmpty, plan.take(2000))
    dedupExchange.foreach(l => assert(!l.contains("emb"), l))
  }

  test("measured recall@5 on sf0.01 embeddings: multiprobe > single-probe") {
    import spark.implicits._
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val qs = emb01.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("q_id").cast("long"), col("vec_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    val truth = hits(Similarity.bruteForceTopK(spark, emb01, qs, k = 5))
    def recall(s: Set[(Long, Long)]): Double = (s & truth).size.toDouble / truth.size
    // recall/cost curve: fewer bits → bigger buckets → higher recall,
    // more candidates scored (cost ∝ corpus/2^nBits per query)
    val curve = Seq(4, 6, 8).map { b =>
      b -> recall(hits(Similarity.lshBucketTopK(spark, emb01, qs, k = 5, nBits = b)))
    }
    val rSingle = curve.last._2
    val rMulti = recall(hits(Similarity.lshMultiProbeTopK(spark, emb01, qs, k = 5, nBits = 8)))
    val rIvf = recall(hits(ivfIndexSearch(emb01, qs, k = 5)))
    val rIvf4 = recall(hits(ivfIndexSearch(emb01, qs, k = 5, nProbe = 4)))
    info(curve.map { case (b, r) => f"single@${b}bits=$r%.3f" }.mkString(" ") +
      f" multi@8bits=$rMulti%.3f ivf(nProbe=2/16)=$rIvf%.3f ivf(nProbe=4/16)=$rIvf4%.3f")
    assert(rIvf4 >= rIvf, "more probes cannot lower recall")
    // measured r2 (documented in BENCH/BASELINE.md): single@8=0.224,
    // multi@8=0.304, ivf=0.516 — synthetic embeddings are near-uniform,
    // the hardest case for LSH; the ordinal facts are the contract
    assert(rMulti > rSingle, s"multi-probe $rMulti must beat single-probe $rSingle")
    assert(rMulti >= 0.25, s"multi-probe recall too low: $rMulti")
    assert(rIvf >= 0.35, s"ivf recall too low: $rIvf")
  }
}
