package graft.gloss

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tungsten-native classification: the whole dictionary/IDF kernel as ONE
  * Catalyst expression over `title_norm` (VERDICT r5 item 3 — the last
  * encoder boundary on the steady-state pipeline's hot path). It is the
  * body of [[Classify.runWithIdfSlim]], the one production classify path
  * every caller (CLI, facade, SparkEntry, streaming) goes through.
  *
  * Why an expression and not the typed mapPartitions
  * ([[Classify.runWithIdfSlimTyped]], kept as the executable spec): the
  * classify stage feeds straight into the thread aggregation's shuffle
  * map side, and the tuple→ClassifiedDoc boundary decoded doc_id + lang
  * to java Strings and re-encoded a 6-field object per row just to
  * compute three derived columns. Here doc_id/lang never leave
  * UTF8String form, only title_norm is decoded (the kernel tokenizes a
  * String anyway), and outputs are built directly as InternalRow.
  *
  * The dictionaries + IDF ride along as [[Broadcast]] HANDLES (small,
  * serializable) inside the expression tree — the 50.7k-term postings
  * themselves are broadcast once per session
  * ([[Classify.dictsBroadcast]]), never serialized with the plan.
  *
  * Same [[Classify.classifyCore]] kernel as the typed path — the two
  * surfaces agree by construction; ClassifyExprSpec asserts row-for-row
  * equality on the synth corpus and pins single-evaluation-per-row from
  * the optimized plan (exactly ONE classify_title occurrence —
  * CollapseProject must not duplicate the expression into its three
  * consuming struct-field extracts).
  */
case class ClassifyTitleExpr(child: Expression,
    bcDicts: Broadcast[Classify.Dicts], bcIdf: Broadcast[TokenIdf])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ClassifyTitleExpr.OutType
  override def prettyName: String = "classify_title"
  override protected def withNewChildInternal(c: Expression): ClassifyTitleExpr =
    copy(child = c)

  override def nullSafeEval(input: Any): Any = {
    val (category, isNews, ents) = Classify.classifyCore(
      input.asInstanceOf[UTF8String].toString, bcDicts.value, bcIdf.value)
    val n = ents.size
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var i = 0
    ents.foreach { case (cls, word) =>
      keys(i) = UTF8String.fromString(cls)
      vals(i) = new GenericArrayData(Array[Any](UTF8String.fromString(word)))
      i += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(category),
      isNews,
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))))
  }
}

object ClassifyTitleExpr {

  /** Matches the ClassifiedDoc tail so `.as[ClassifiedDoc]` binds. */
  val OutType: StructType = StructType(Seq(
    StructField("category", StringType, nullable = false),
    StructField("is_news", BooleanType, nullable = false),
    StructField("entities",
      MapType(StringType, ArrayType(StringType, containsNull = false),
        valueContainsNull = false), nullable = false)))

  def classify_title(c: Column, bcDicts: Broadcast[Classify.Dicts],
                     bcIdf: Broadcast[TokenIdf]): Column =
    GraftColumnBridge.column(
      ClassifyTitleExpr(GraftColumnBridge.expression(c), bcDicts, bcIdf))
}
