package graft

import graft.ops.Dedup
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Both paths of the production CC: the driver union-find (default
    * threshold) and the distributed large-star/small-star rounds
    * (`driverThreshold = 1L` forces them).
    */
  private def ccBothPaths(pairs: org.apache.spark.sql.DataFrame): Seq[Map[Long, Long]] = {
    import spark.implicits._
    Seq(Dedup.connectedComponentsAuto(pairs),
        Dedup.connectedComponentsAuto(pairs, driverThreshold = 1L))
      .map(_.as[(Long, Long)].collect().toMap)
  }

  test("connected components merge transitive dup pairs") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star); 30 is in no pair
    val pairs = Seq((1L,2L),(2L,3L),(3L,4L),(10L,11L),(20L,21L),(20L,22L)).toDF("a","b")
    ccBothPaths(pairs).foreach { got =>
      assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L && got(4L) == 1L)
      assert(got(10L) == 10L && got(11L) == 10L)
      assert(got(20L) == 20L && got(21L) == 20L && got(22L) == 20L)
      assert(!got.contains(30L))
    }
  }

  test("long chain converges (diameter > 2)") {
    import spark.implicits._
    val chain = (0L until 20L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a","b")
    ccBothPaths(chain).foreach { got =>
      assert(got.values.toSet == Set(0L))
      assert(got.size == 20)
    }
  }

  test("driver and star CC paths equal a union-find oracle on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    (0 until 5).foreach { _ =>
      val n = 60
      val edges = (0 until 80).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // in-test oracle: union-find with the smaller root kept, so every
      // node maps to its component's minimum id
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.map(m => m -> find(m)).toMap
      ccBothPaths(edges.toDF("a", "b")).foreach { got =>
        assert(got == want, s"mismatch for edges $edges")
      }
    }
  }

  test("banded simhash finds hamming-close pairs without all-pairs compare") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base),
      (2L, base), // identical → hamming 0
      (3L, base + " nu"), // one token appended → small hamming
      (10L, "совершенно другой текст про другие вещи и слова здесь")
    ).toDF("doc_id", "text")
    val pairs = graft.ops.Sketches.simhashNearDupPairs(docs, bands = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 10L || p._2 == 10L))
  }

  test("anchor-star candidates: 50-doc templated cluster fully merges (no truncation)") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again in the park tonight"
    val docs = ((1 to 50).map(i => (i.toLong, s"$base edition $i")) :+
      (100L, "entirely different content about markets and quantum budgets here")).toDF("doc_id", "text")
    val groups = Dedup.groupsFromPairs(Dedup.nearDupPairs(docs, minJaccard = 0.5), sampleK = 60)
      .as[(Long, Long, Seq[Long])].collect()
    assert(groups.length == 1)
    assert(groups.head._2 == 50L, s"expected all 50 merged, got ${groups.head._2}")
  }

  test("near-dup pipeline finds groups on documents with real dups") {
    import spark.implicits._
    // fabricate docs: 3 exact-ish copies + 2 unrelated
    val base = "the quick brown fox jumps over the lazy dog again and again in the park"
    val docs = Seq(
      (1L, base), (2L, base + " extra"), (3L, "prefix " + base),
      (10L, "completely different words about quantum telescopes and asteroids"),
      (11L, "another unrelated piece of text mentioning markets and budgets")
    ).toDF("doc_id", "text")
    val groups = Dedup.groupsFromPairs(Dedup.nearDupPairs(docs, minJaccard = 0.3))
      .as[(Long, Long, Seq[Long])].collect()
    assert(groups.length == 1)
    assert(groups.head._3.toSet == Set(1L, 2L, 3L))
  }

  test("boundedGroups ≡ one-agg collect form, with map-side group-limit in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial: ONE mega group (5k members) + small groups + singletons
    val rows = ((0 until 5000).map(i => ("mega", i.toLong)) ++
      (0 until 7).map(i => ("small", (100000 + i).toLong)) ++
      Seq(("single", 999999L)))
      .toDF("k", "doc_id")
    val bounded = Dedup.boundedGroups(rows, Seq("k"), "doc_id", sampleK = 5)
    val got = bounded.select($"k", $"n", $"doc_ids")
      .as[(String, Long, Seq[Long])].collect().map { case (k, n, ids) => k -> ((n, ids)) }.toMap
    val oneAgg = rows.groupBy($"k")
      .agg(count(lit(1)).as("n"),
        slice(sort_array(collect_set($"doc_id")), 1, 5).as("doc_ids"))
      .filter($"n" >= 2)
      .as[(String, Long, Seq[Long])].collect().map { case (k, n, ids) => k -> ((n, ids)) }.toMap
    assert(got == oneAgg)
    assert(got("mega") == ((5000L, Seq(0L, 1L, 2L, 3L, 4L))))
    assert(got("small")._1 == 7L)
    assert(!got.contains("single"))
    // the scale guarantee, pinned in the executed plan: ONE aggregation
    // (no second exchange, no join), with the min_k partial below the
    // exchange — O(K) state and wire per group per task
    bounded.collect()
    val plan = bounded.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min_k") || plan.contains("partial_minklongs"), plan)
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Join"), plan)
  }

  test("min_k_str ≡ sorted-collect slice, including non-ASCII binary order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // binary UTF8 order ≠ locale order: "Z" < "a" < "é" < "ж"; plus a
    // mega group to exercise heap replacement
    val rows = ((0 until 3000).map(i => ("mega", f"doc$i%05d")) ++
      Seq(("mix", "a"), ("mix", "Z"), ("mix", "é"), ("mix", "ж"), ("mix", "b")))
      .toDF("k", "doc_id")
    val got = rows.groupBy($"k")
      .agg(graft.functions.MinK.min_k_str($"doc_id", 3).as("ids"))
      .as[(String, Seq[String])].collect().toMap
    val ref = rows.groupBy($"k")
      .agg(slice(sort_array(collect_list($"doc_id")), 1, 3).as("ids"))
      .as[(String, Seq[String])].collect().toMap
    assert(got == ref)
    assert(got("mix") == Seq("Z", "a", "b"))
    assert(got("mega") == Seq("doc00000", "doc00001", "doc00002"))
  }

  test("boundedGroups accepts INT ids (implicit int→long widening — ADVICE r7)") {
    import spark.implicits._
    // doc_id is IntegerType here: the slice(sort_array(collect_*)) form
    // this aggregate replaced accepted any orderable numeric; strict
    // LongType made an int-keyed caller fail ANALYSIS
    val rows = Seq(("g", 3), ("g", 1), ("g", 2), ("h", 9)).toDF("k", "doc_id")
    assert(rows.schema("doc_id").dataType == org.apache.spark.sql.types.IntegerType)
    val got = Dedup.boundedGroups(rows, Seq("k"), "doc_id", sampleK = 2)
      .as[(String, Long, Seq[Long])].collect()
      .map { case (k, n, ids) => k -> ((n, ids)) }.toMap
    assert(got == Map("g" -> ((3L, Seq(1L, 2L))))) // h: n=1 filtered
    // …and REJECTS fractional ids at analysis (ADVICE r8): the previous
    // ImplicitCastInputTypes admitted double→long, silently TRUNCATING a
    // fractional id; the integral-only contract fails loudly instead
    val doubles = Seq(("g", 1.5), ("g", 2.5)).toDF("k", "doc_id")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Dedup.boundedGroups(doubles, Seq("k"), "doc_id", sampleK = 2).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("min_k") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"), ex.getMessage)
  }

  test("keepFromPairs join-strategy contract: tiny drop set → broadcast anti-join") {
    import spark.implicits._
    // the contract (VERDICT r7 item 4): NO static broadcast hint — the
    // drop set's size is corpus-dependent (a raw crawl's drop set is
    // corpus-scale, where a forced broadcast OOMs and SMJ is right), so
    // AQE/planner stats own the choice. This pins the small-set half on
    // a driver-tier-shaped fixture, on BOTH drop-set plan shapes:
    val docs = (0L until 2000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    // (a) driver union-find path: drops = LocalRelation → static broadcast
    val keptLocal = Dedup.keepFromPairs(docs, pairs)
    assert(keptLocal.collect().map(_.getLong(0)).toSet ==
      (0L until 2000L).toSet -- Set(2L, 6L, 7L)) // component mins 1 and 5 kept
    val planLocal = keptLocal.queryExecution.executedPlan.toString
    assert(planLocal.contains("BroadcastHashJoin") && planLocal.contains("LeftAnti"),
      planLocal.take(3000))
    // (b) distributed-star path (forced): drops sit above shuffles, so
    // the conversion is AQE's runtime-stats decision
    val drops = Dedup.connectedComponentsAuto(pairs, driverThreshold = 1L)
      .filter($"member" =!= $"component").select($"member")
    val keptStar = docs.join(drops, docs("doc_id") === drops("member"), "left_anti")
      .select($"doc_id")
    keptStar.collect()
    val planStar = keptStar.queryExecution.executedPlan.toString
    assert(planStar.contains("BroadcastHashJoin") && planStar.contains("LeftAnti"),
      planStar.take(3000))
  }

  test("keepFromPairs keeps the min doc_id per component and every non-dup doc") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again in the park"
    val docs = Seq(
      (7L, base), (2L, base + " extra"), (3L, "prefix " + base), // component min = 2
      (10L, "completely different words about quantum telescopes and asteroids"),
      (11L, "another unrelated piece of text mentioning markets and budgets")
    ).toDF("doc_id", "text")
    val kept = Dedup.keepFromPairs(docs, Dedup.nearDupPairs(docs, minJaccard = 0.3))
      .as[Long].collect().toSet
    // 7 and 3 drop (component min is 2); unrelated docs untouched
    assert(kept == Set(2L, 10L, 11L))
  }
}
