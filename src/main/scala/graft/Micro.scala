package graft

/** Single-threaded stage microbenchmark for the extraction kernel
  * (fuse/dom/emit/scan+emit/langid). `scan+emit` is the production
  * kernel (ByteScanner → StreamEmitter); `dom`/`emit` time the DOM-walk
  * spec. Dev tool: `sbt "runMain graft.Micro"`.
  */
import graft.synth.Synth
import graft.model.Doc
import graft.html.{DomBuilder, SpanEmitter, StreamEmitter}
import graft.extract.Extract

object Micro {
  def main(args: Array[String]): Unit = {
    val docs = (0 until 20000).map { i =>
      val t = Synth.gen(42L, i, 400); Doc(t.doc_id, t.input)
    }.toArray
    val fused = docs.map(d => Extract.fuse(d.spans))
    def time(label: String, reps: Int)(f: => Unit): Unit = {
      f // warmup
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => f)
      println(f"$label: ${(System.nanoTime()-t0)/1e6/reps}%.1f ms/rep")
    }
    time("fuse     ", 5)(docs.foreach(d => Extract.fuse(d.spans)))
    time("dom      ", 5)(fused.foreach(f => DomBuilder.build(f.stream)))
    val doms = fused.map(f => DomBuilder.build(f.stream))
    time("emit     ", 5)(doms.zip(fused).foreach { case (d, f) => SpanEmitter.emit(d, f.media) })
    val bytes = fused.map(_.stream.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    time("scan+emit", 5)(bytes.zip(fused).foreach { case (b, f) => StreamEmitter.emitStreamingBytes(b, b.length, f.media) })
    val emits = doms.zip(fused).map { case (d, f) => SpanEmitter.emit(d, f.media) }
    time("langid   ", 5)(emits.foreach { r =>
      val lead = r.spans.iterator.filter(_.kind == "text").map(_.text).take(3).mkString(" ")
      graft.lang.LangId.detect(r.title + " " + lead)
    })
    time("full     ", 5)(docs.foreach(Extract.extractOne))
  }
}
