package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** Checks of the benchmark's own machinery (run by perfbench/tests):
  * span self-time arithmetic, deterministic listener drain, digest
  * sensitivity, and failure accounting. Prints one line per check and
  * exits non-zero if any fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (r) "ok  " else "FAIL"} $name")
    if (!r) failures += 1
  }

  def main(args: Array[String]): Unit = {
    check("union of intervals counts overlaps once") {
      Trace.coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L), (40L, 40L))) == 25L
    }
    check("self time = duration minus children's coverage, clipped to the span") {
      // root [0,100): children [10,40) and [30,60) overlap, [90,120) leaves the root
      val spans = Seq(SpanRec(0, "root", -1, 0, 100), SpanRec(1, "a", 0, 10, 40),
        SpanRec(2, "b", 0, 30, 60), SpanRec(3, "c", 0, 90, 120), SpanRec(4, "a1", 1, 12, 20))
      val self = Trace.selfNs(spans)
      self(0) == 100 - 60 && self(1) == 30 - 8 && self(2) == 30 && self(3) == 30 && self(4) == 8
    }
    check("self seconds are summed per span name") {
      val spans = Seq(SpanRec(0, "job", -1, 0, 4000000000L), SpanRec(1, "x", 0, 0, 1000000000L),
        SpanRec(2, "x", 0, 2000000000L, 3000000000L))
      val s = Trace.selfSecondsByName(spans)
      s("job") == 2.0 && s("x") == 2.0
    }
    check("median of even and odd sample counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    val d = Digest.ofRows(Seq(Row("a", 1L, 0.5), Row("b", 2L, 1.25)))
    check("digests ignore row order and tolerate float summation noise") {
      d.matches(Digest.ofRows(Seq(Row("b", 2L, 1.25 + 1e-12), Row("a", 1L, 0.5))))
    }
    check("digests see a changed value, a changed float, a dropped row") {
      !d.matches(Digest.ofRows(Seq(Row("a", 1L, 0.5), Row("b", 3L, 1.25)))) &&
        !d.matches(Digest.ofRows(Seq(Row("a", 1L, 0.5), Row("b", 2L, 1.5)))) &&
        !d.matches(Digest.ofRows(Seq(Row("a", 1L, 0.5))))
    }
    check("negative control: a mutated output is counted as a failed op") {
      val w = Workload("top-parquet", 1L, java.nio.file.Paths.get("unused"))
      val out = JobOut("[\n{\"category\": \"any\"}\n]\n", None)
      val bad = w.mutate(out)
      bad.text != out.text && Checked.one(bad.text == out.text, "mutated") == Checked(1, 1, Seq("mutated"))
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val probe = new Probe(spark.sparkContext)
      check("drain: every task of every job is counted, 30 times over, with no sleep") {
        (1 to 30).forall { i =>
          val g = s"g$i"
          spark.sparkContext.setJobGroup(g, g)
          spark.sparkContext.parallelize(1 to 1000, 37).map(_ * 2).count()
          spark.sparkContext.parallelize(1 to 10, 3).count()
          spark.sparkContext.clearJobGroup()
          val s = probe.take(g)
          s.tasks == 40 && s.jobs == 2 && s.durationsMs.values.map(_.length).toSeq.sorted == Seq(3, 37)
        }
      }
      check("persisted blocks are seen by the cache peak") {
        probe.forgetBlocks()
        val df = spark.range(0, 200000).selectExpr("id", "cast(id as string) s").cache()
        df.count()
        val peak = probe.cachePeak()
        df.unpersist(blocking = true)
        peak > 1000000L
      }
      check("tracer attributes tasks to the innermost span's group") {
        val tr = new Tracer(spark.sparkContext)
        tr.span("outer") {
          spark.sparkContext.parallelize(1 to 10, 2).count()
          tr.span("inner")(spark.sparkContext.parallelize(1 to 10, 5).count())
          spark.sparkContext.parallelize(1 to 10, 3).count()
        }
        val inner = probe.take("inner")
        val outer = probe.take("outer")
        inner.tasks == 5 && outer.tasks == 5 && tr.spans.map(_.name).toSet == Set("outer", "inner") &&
          spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null
      }
      probe.close()
    } finally spark.stop()

    println(if (failures == 0) "selftest: all checks passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
