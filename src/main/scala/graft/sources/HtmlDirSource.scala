package graft.sources

import graft.model.{Doc, Span}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Source for the reference's native input format: a directory tree of
  * HTML files (reference: visit_dirs, src/parser.rs:50-108). Spark's
  * binaryFile source replaces the 200-thread recursive walk — file
  * listing is distributed and the reader yields (path, bytes) splits.
  * Each file becomes one Doc: doc_id = path, a single html input span.
  *
  * Splits are sized by bytes. Spark charges every file an open cost
  * (`spark.sql.files.openCostInBytes`, 4 MB), so a directory of small
  * files splits by file COUNT: 1,000 files of 1.2 MB in all scan as 32
  * partitions, each paying its own task set-up and codegen for a few
  * dozen KB. The scan is therefore coalesced (no shuffle) to
  * max(defaultParallelism, ceil(bytes / spark.sql.files.maxPartitionBytes))
  * partitions whenever it has more — 4 on a 4-core session for that
  * directory; a directory of large files keeps Spark's own splits.
  *
  * A reference user points this at the same directory they pass to
  * `tgnews <verb> <dir>` and gets the engine's Dataset[Doc].
  */
object HtmlDirSource {

  def read(spark: SparkSession, dir: String): Dataset[Doc] = {
    import spark.implicits._
    // no file-name filter: the reference parses every file regardless of
    // extension (visit_dirs, src/parser.rs:90-103) — contest corpora use
    // bare file names
    val files = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dir)
    val scan = files.select(col("path"), col("content"))
    // the listed files' total length (the relation's size estimate),
    // known at load time without a job
    val totalBytes = files.queryExecution.optimizedPlan.stats.sizeInBytes
    val splitBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val target = ((totalBytes + splitBytes - 1) / splitBytes)
      .max(spark.sparkContext.defaultParallelism).toInt
    val sized = if (scan.rdd.getNumPartitions > target) scan.coalesce(target) else scan
    sized.as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val html = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        Doc(path, Array(Span("html", html, "", 0)))
      }
  }
}
