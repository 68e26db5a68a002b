package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s own bookkeeping: the per-query sweep loop must report a
  * query that throws instead of passing its time-to-failure off as a fast
  * success, and the persisted quiet reference (`QuietRef`, which drives the
  * contamination flags) must survive missing and corrupt files.
  */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("timeQueries: every query is timed, and only the throwing one is listed as failed") {
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "ok" -> ((s, _) => s.range(3).toDF()),
      "boom" -> ((_, dir) => throw new IllegalStateException(s"no data under $dir")))
    val (times, failed) = Bench.timeQueries(spark, "/nonexistent", queries)
    assert(times.map(_._1) == Seq("ok", "boom"))
    assert(times.forall(_._2 >= 0.0))
    assert(failed == Seq("boom"))
  }

  private def tempRef(): Path =
    Files.createTempDirectory("benchspec").resolve("nested").resolve("quiet_ref.json")

  test("QuietRef: a missing file reads as None, and update creates it and its directory") {
    val p = tempRef()
    assert(QuietRef.read("4", 1000L, p).isEmpty)
    assert(QuietRef.update("4", 1000L, 900.0, p) == 900.0)
    assert(Files.exists(p))
    assert(QuietRef.read("4", 1000L, p).contains(900.0))
  }

  test("QuietRef: update is a monotone max, and a lower session reference leaves the file untouched") {
    val p = tempRef()
    QuietRef.update("4", 1000L, 900.0, p)
    val before = Files.readString(p)
    assert(QuietRef.update("4", 1000L, 450.0, p) == 900.0)
    assert(Files.readString(p) == before)
    assert(QuietRef.update("4", 1000L, 950.0, p) == 950.0)
    assert(QuietRef.read("4", 1000L, p).contains(950.0))
  }

  test("QuietRef: a corrupt or non-object file is replaced, not kept") {
    Seq("not json{{{", "[1, 2, 3]").foreach { junk =>
      val p = tempRef()
      Files.createDirectories(p.getParent)
      Files.writeString(p, junk)
      assert(QuietRef.read("4", 1000L, p).isEmpty)
      assert(QuietRef.update("4", 1000L, 700.0, p) == 700.0)
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      assert(root.isObject, junk)
      assert(root.size == 1, junk)
      assert(QuietRef.read("4", 1000L, p).contains(700.0))
      // the replaced file keeps accepting other keys
      assert(QuietRef.update("1", 1000L, 200.0, p) == 200.0)
      assert(QuietRef.read("4", 1000L, p).contains(700.0))
    }
  }
}
