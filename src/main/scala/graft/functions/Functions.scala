package graft.functions

import graft.extract.TitleKey
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the clustering-key functions
  * (SURVEY.md §7.3 "candidate for Expression later" — promoted here).
  *
  * Why expressions and not UDFs/typed maps: the title key feeds shuffle
  * keys inside relational stages; a ScalaUDF forces ser/de at the call
  * site and a typed map forces a whole-row encoder boundary — both were
  * measured to cost real throughput (BENCH/BASELINE.md "encoder
  * boundary"). These generate a direct static call inside whole-stage
  * codegen, so `withColumn("key", simhash64_title($"title"))` stays in
  * the generated loop.
  */
object Impl {
  // static entry points referenced from generated code
  def normTitle(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(TitleKey.normTitle(s.toString))
  def simhashOfTitle(s: UTF8String): Long =
    if (s == null) 0L
    else TitleKey.simhash64(TitleKey.tokens(TitleKey.normTitle(s.toString)))

  /** Cosine similarity over two `array<float>` values with the
    * Similarity.dotNorm kernel's exact semantics: floats widened to
    * double BEFORE multiplying, three accumulators folded left-to-right
    * in ONE primitive loop (bitwise-identical to the separate
    * cast-to-double zip_with/aggregate folds it replaces — per-
    * accumulator summation order is unchanged), zero-norm → 0.0 (never
    * NaN: NaN sorts above every sim in a rank window). Precondition:
    * equal-length arrays with non-null elements — [[CosineSim]] returns
    * NULL on a length mismatch BEFORE calling this (ADVICE r7: the
    * zip_with form it replaced null-padded the shorter array and
    * returned NULL, so a malformed row must stay loud, not score a
    * plausible min-length-prefix similarity). A single JIT-compiled
    * static call — no per-row array casts, no zip_with intermediates,
    * no interpreted lambdas.
    */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Sign-LSH signature over ArrayData — bitwise-identical to
    * Similarity.signature over Array[Float] (same `dot += p(i).toDouble *
    * v(i)` left-to-right fold per plane, same `>= 0` sign rule), so the
    * materialized signature bases and every LSH bucket key are unchanged
    * by the UDF→expression move (SimilaritySpec pins raw equality).
    */
  def signLsh(planes: Array[Array[Float]], v: ArrayData): Int = {
    var sig = 0
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      var dot = 0.0
      val n = math.min(p.length, v.numElements())
      var i = 0
      while (i < n) { dot += p(i).toDouble * v.getFloat(i); i += 1 }
      if (dot >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  // Spark's split(col, pat) is Pattern.split(s, -1): trailing empty
  // fields are KEPT (String.split's default limit 0 would drop them) —
  // the kernel must match the Column twin on e.g. tab-trailing text.
  // The class is TextOps.RepWsPattern (explicit — java \s matches
  // vertical tab, RE2's \s does not; review r8), compiled lazily so the
  // two constants cannot drift.
  private lazy val WsPattern =
    java.util.regex.Pattern.compile(graft.ops.TextOps.RepWsPattern)

  /** Single-pass repetition counts `[n_tokens, n_distinct_tokens,
    * n_2grams, n_distinct_2grams]` — semantics exactly mirror the Column
    * twin `TextOps.repetitionCountsColumn` (trim SPACES only →
    * UTF8String.toLowerCase → split on TextOps.RepWsPattern with Spark's
    * limit -1; < 2 tokens ⇒ no
    * 2-grams; all-space text ⇒ all zeros). Distinct 2-grams are counted
    * as distinct interned-token-id PAIRS packed into a long — exact
    * (tokens cannot contain the join space, so pair-distinct ≡
    * joined-string-distinct), with no gram strings materialized.
    */
  def repStats(s: UTF8String): ArrayData = {
    // lowercase via UTF8String.toLowerCase — the SAME function the
    // Column twin's lower() runs (probed: ≡ Locale.ROOT on İ/ß/Cyrillic,
    // ≠ default-locale on tr-TR JVMs), so kernel ≡ twin holds BY
    // CONSTRUCTION on non-ASCII input. lower commutes with the
    // space-only trim below, so applying it first is equivalent to the
    // twin's lower(trim(text)).
    val text = s.toLowerCase.toString
    var b = 0; var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    if (b == e)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(0, 0, 0, 0))
    val toks = WsPattern.split(text.substring(b, e), -1)
    val n = toks.length
    val ids = new Array[Int](n)
    val idOf = new java.util.HashMap[String, Integer](n * 2)
    var i = 0
    while (i < n) {
      var id = idOf.get(toks(i))
      if (id == null) { id = Integer.valueOf(idOf.size()); idOf.put(toks(i), id) }
      ids(i) = id.intValue()
      i += 1
    }
    val n2 = if (n < 2) 0 else n - 1
    var nd2 = 0
    if (n2 > 0) {
      val pairs = new java.util.HashSet[java.lang.Long](n2 * 2)
      i = 0
      while (i < n - 1) {
        pairs.add(java.lang.Long.valueOf((ids(i).toLong << 32) | ids(i + 1).toLong))
        i += 1
      }
      nd2 = pairs.size()
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(n, idOf.size(), n2, nd2))
  }

  /** Similarity.dotNorm with an ArrayData right side — identical
    * accumulation order and zero-norm rule (see [[cosineSim]]).
    */
  private def dotNormFA(a: Array[Float], b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.numElements())
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** argmax-cosine centroid id — the IVF corpus-assign rule (strict >
    * keeps the LOWEST cid on ties), identical to
    * `nearestCentroids(e, 1).head` in the typed form it replaces.
    */
  def nearestCentroid(centroids: Array[Array[Float]], v: ArrayData): Int = {
    var best = 0; var bestSim = Double.MinValue
    var i = 0
    while (i < centroids.length) {
      val s = dotNormFA(centroids(i), v)
      if (s > bestSim) { bestSim = s; best = i }
      i += 1
    }
    best
  }

  /** Top-k nearest centroid ids in (-sim, cid) order — the IVF probe
    * rule. Mirrors `sortBy { case (i, s) => (-s, i) }.take(k)` exactly:
    * the comparator is java.lang.Double.compare on sims descending
    * (Scala's Ordering[Double] = Double.compare, incl. the -0.0 < 0.0
    * edge), cid ascending on exact ties.
    */
  def nearestCentroidsK(centroids: Array[Array[Float]], v: ArrayData, k: Int): ArrayData = {
    val sims = new Array[Double](centroids.length)
    val idx = new Array[Integer](centroids.length)
    var i = 0
    while (i < centroids.length) {
      sims(i) = dotNormFA(centroids(i), v); idx(i) = Integer.valueOf(i); i += 1
    }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val c = java.lang.Double.compare(sims(b.intValue()), sims(a.intValue()))
      if (c != 0) c else Integer.compare(a.intValue(), b.intValue())
    })
    val n = math.min(k, idx.length)
    val out = new Array[Int](n)
    i = 0
    while (i < n) { out(i) = idx(i).intValue(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** lower + strip non-letter/digit + collapse spaces (deviation D1). */
case class NormTitle(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftColumnBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    Impl.normTitle(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Impl.normTitle($c)")
  override protected def withNewChildInternal(c: Expression): NormTitle = copy(c)
  override def prettyName: String = "norm_title"
}

/** simhash64 over the normalized title's tokens (the clustering key). */
case class SimHash64Title(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftColumnBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(Impl.simhashOfTitle(v.asInstanceOf[UTF8String]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Impl.simhashOfTitle($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64Title = copy(c)
  override def prettyName: String = "simhash64_title"
}

/** Native cosine similarity over two `array<float>` columns — the ANN
  * candidate-scoring kernel (ivfSearch / lshBucketTopK /
  * lshMultiProbeTopK / cosineDupPairs verify). The zip_with+aggregate
  * Column form it replaces allocated two cast arrays + three zip_with
  * intermediates and evaluated interpreted lambdas per element — the
  * dominant per-candidate cost at every tier (see BENCH/BASELINE.md r7).
  *
  * Length mismatch → NULL (ADVICE r7): the zip_with form null-padded the
  * shorter array, so `p * q` went NULL and the whole score was NULL —
  * a malformed row must stay VISIBLY malformed, not quietly score its
  * min-length prefix. Fixed-dim embedding tables never hit this; the
  * null branch costs one length compare per row.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  // STRICT array<float> (no implicit cast): the kernel reads 4-byte
  // element strides via ArrayData.getFloat — over an UnsafeArrayData
  // written with 8-byte doubles that would silently return garbage
  // similarities, so any other element type must fail ANALYSIS, and an
  // implicit double→float cast would quietly change the scored values
  override def inputTypes: Seq[GraftColumnBridge.AbstractType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null inputs OR length mismatch
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else Impl.cosineSim(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.Impl.cosineSim($a, $b);
         |}
       """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Native sign-LSH signature over an `array<float>` column (VERDICT r7
  * item 3): replaces the per-row `sigUdf` ScalaUDF on the FULL-CORPUS
  * legs of lshBucketTopK / lshMultiProbeTopK / sigTable / signBanded.
  * A ScalaUDF deserializes the array to Array[Float] and boxes the
  * result per row; this is one JIT-compiled static call inside
  * whole-stage codegen reading 4-byte strides straight from Tungsten
  * memory. The (tiny — nBits×dim floats, ~2 KB) plane matrix rides the
  * serialized plan as a codegen reference object; bitwise-identical
  * signatures (SimilaritySpec raw pin), so every materialized signature
  * base and bucket key is untouched.
  */
case class SignLsh(child: Expression, planes: Array[Array[Float]])
  extends UnaryExpression with ExpectsInputTypes {
  // STRICT array<float> — same rationale as CosineSim: getFloat over a
  // double-written UnsafeArrayData would silently hash garbage
  override def inputTypes: Seq[GraftColumnBridge.AbstractType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    Impl.signLsh(planes, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("planes", planes, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Impl.signLsh($p, $c)")
  }
  override protected def withNewChildInternal(c: Expression): SignLsh = copy(child = c)
  override def prettyName: String = "sign_lsh"
}

/** argmax-cosine centroid id for the IVF corpus-assign leg (VERDICT r7
  * item 3): replaces the typed `.map` whose whole-row encoder boundary
  * deserialized every corpus row to a (Long, Array[Float]) tuple. The
  * centroid matrix (nCentroids×dim floats) rides the plan as a codegen
  * reference; assignment rule is bit-identical (argmax dotNorm, lowest
  * cid on ties — SimilaritySpec pins equality against the typed rule).
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftColumnBridge.AbstractType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    Impl.nearestCentroid(centroids, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c0 = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Impl.nearestCentroid($c0, $c)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroid = copy(child = c)
  override def prettyName: String = "nearest_centroid"
}

/** Top-k probe centroid ids (query leg of IVF) — array<int> in
  * (-sim, cid) order, exploded by the caller. Same tie rule as the
  * typed `sortBy((-s, i)).take(k)` it replaces.
  */
case class NearestCentroidsK(child: Expression, centroids: Array[Array[Float]], k: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(k > 0, s"nearest_centroids_k needs k > 0, got $k")
  override def inputTypes: Seq[GraftColumnBridge.AbstractType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Impl.nearestCentroidsK(centroids, v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c0 = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Impl.nearestCentroidsK($c0, $c, $k)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroidsK = copy(child = c)
  override def prettyName: String = "nearest_centroids_k"
}

/** Single-pass repetition counts over a string column (the Gopher-rule
  * quality-signal kernel; see `TextOps.repetitionColumns`). The Column
  * twin builds a 2-gram string array through `transform`/`element_at`
  * HOFs — interpreted lambdas per element plus a materialized gram
  * array per row (the same trap CosineSim removed from the ANN verify
  * legs); this is one JIT-compiled static call inside whole-stage
  * codegen. TextOpsSpec pins exact equality against the Column twin on
  * synth corpora and adversarial whitespace/case edges.
  */
case class RepStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftColumnBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Impl.repStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Impl.repStats($c)")
  override protected def withNewChildInternal(c: Expression): RepStats = copy(c)
  override def prettyName: String = "rep_stats"
}

object GraftFunctions {

  def norm_title(c: Column): Column =
    GraftColumnBridge.column(NormTitle(GraftColumnBridge.expression(c)))
  def simhash64_title(c: Column): Column =
    GraftColumnBridge.column(SimHash64Title(GraftColumnBridge.expression(c)))
  /** Cosine similarity with the exact semantics of the typed kernel
    * (`Similarity.dotNorm`): floats widened to double BEFORE multiplying,
    * left-to-right double accumulation, and zero-norm vectors scoring 0.0
    * instead of NaN (NaN sorts above every sim in a rank window — a zero
    * vector would otherwise corrupt top-k order). Bitwise-identical to
    * the cast-to-double zip_with/aggregate form that [[CosineSim]]
    * replaced (SimilaritySpec pins equality incl. zero vectors), so the
    * DuckDB ANN oracles are untouched.
    */
  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSim(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def sign_lsh(c: Column, planes: Array[Array[Float]]): Column =
    GraftColumnBridge.column(SignLsh(GraftColumnBridge.expression(c), planes))
  def nearest_centroid(c: Column, centroids: Array[Array[Float]]): Column =
    GraftColumnBridge.column(NearestCentroid(GraftColumnBridge.expression(c), centroids))
  def nearest_centroids_k(c: Column, centroids: Array[Array[Float]], k: Int): Column =
    GraftColumnBridge.column(NearestCentroidsK(GraftColumnBridge.expression(c), centroids, k))
  def rep_stats(c: Column): Column =
    GraftColumnBridge.column(RepStats(GraftColumnBridge.expression(c)))

  /** Register for SQL parity: `SELECT norm_title(title), simhash64_title(title)`.
    * detect_lang rides along as a plain UDF (SURVEY.md §2 P2).
    */
  // SQL-side arity check: a wrong-arity call must read as a usage error,
  // not an IndexOutOfBoundsException from exprs(1)
  private def arity(name: String, n: Int, exprs: Seq[Expression]): Seq[Expression] = {
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")
    exprs
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "norm_title", exprs => NormTitle(arity("norm_title", 1, exprs).head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64_title", exprs => SimHash64Title(arity("simhash64_title", 1, exprs).head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", { exprs0 =>
        val exprs = arity("cosine_sim", 2, exprs0)
        CosineSim(exprs.head, exprs(1))
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rep_stats", exprs => RepStats(arity("rep_stats", 1, exprs).head), "built-in")
    spark.udf.register("detect_lang", (s: String) => graft.lang.LangId.detect(s))
  }
}
