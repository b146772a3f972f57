package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/**
 * Native Catalyst expression: cosine similarity of two float vectors,
 * accumulated in double precision.
 *
 * This is the hot path of similarity search (SURVEY §2.2 #32-34): a Scala
 * UDF here would box every element and break whole-stage codegen; this
 * expression generates a tight primitive loop inline in the generated
 * stage, reading directly from Tungsten's UnsafeArrayData.
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // `ExpectsInputTypes`/`AbstractDataType` are private[sql] in Spark 4's
  // Scala API, so the input contract is a manual check instead.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two ARRAY<FLOAT> arguments, got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  // Mismatched dimensions or null elements → null result (never a
  // silently-truncated prefix similarity; DuckDB errors on mismatch, so
  // a truncating result would also diverge from the oracle).
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      // widen each element to double BEFORE multiplying: matches engines
      // (DuckDB, NumPy) that cast float->double per element, so verifier
      // ranks agree bit-for-bit.
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = (double) $x.getFloat($i);
         |    double $yi = (double) $y.getFloat($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 :
         |      $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Native Catalyst expression: squared Euclidean distance of a FLOAT (or
 * DOUBLE) vector to a DOUBLE vector, Σ ((double) x_i − c_i)² summed left
 * to right in double. A position past either array's end, or NULL on
 * either side, adds nothing. The k-means kernel
 * ([[graft.operators.Similarity.assignToCentroids]]) rules out far
 * centroids with it; it runs inside that kernel's higher-order
 * functions, which Spark evaluates without codegen, so it has none.
 */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects ARRAY<FLOAT|DOUBLE> and ARRAY<DOUBLE>, got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_sq_l2"

  private lazy val floats = left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val c = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), c.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !c.isNullAt(i)) {
        val d = (if (floats) x.getFloat(i).toDouble else x.getDouble(i)) - c.getDouble(i)
        s += d * d
      }
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's native expressions. */
object GraftFunctions {
  val cosineName = "graft_cosine"
  val sqL2Name = "graft_sq_l2"
  val hyperplanesName = "graft_hyperplanes"
  val minhashName = "graft_minhash"
  val charGramJaccardName = "graft_chargram_jaccard"
  val charGramContainmentName = "graft_chargram_containment"
  val wordShinglesName = "graft_word_shingles"
  val simhashName = "graft_simhash64"
  val winnowName = "graft_winnow"
  val topGramShareName = "graft_top_gram_share"
  val jaroWinklerName = "graft_jaro_winkler"
  val imageDimsName = "graft_image_dims"
  val audioMetaName = "graft_audio_meta"
  val videoMetaName = "graft_video_meta"
  val mightContainName = "graft_might_contain"

  private[plans] def cosineBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"$cosineName expects 2 arguments")
    CosineSimilarity(children.head, children(1))
  }

  private[plans] def sqL2Builder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"$sqL2Name expects (vec, centroid)")
    SquaredL2(children.head, children(1))
  }

  private def intLit(e: Expression, what: String): Int = {
    require(e.foldable, s"$hyperplanesName: $what must be a literal")
    e.eval().asInstanceOf[Number].intValue
  }

  private[plans] def hyperplanesBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 4,
      s"$hyperplanesName expects (vec, bits, tables, seed)")
    HyperplaneSignatures(children.head, intLit(children(1), "bits"),
      intLit(children(2), "tables"), intLit(children(3), "seed"))
  }

  private[plans] def minhashBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"$minhashName expects (shingles, numHashes)")
    MinHashSignature(children.head, intLit(children(1), "numHashes"))
  }

  private[plans] def charGramJaccardBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3, s"$charGramJaccardName expects (a, b, k)")
    CharGramJaccard(children.head, children(1), intLit(children(2), "k"))
  }

  private[plans] def charGramContainmentBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3, s"$charGramContainmentName expects (a, b, k)")
    CharGramContainment(children.head, children(1), intLit(children(2), "k"))
  }

  private[plans] def wordShinglesBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"$wordShinglesName expects (text, k)")
    WordShingles(children.head, intLit(children(1), "k"))
  }

  private[plans] def simhashBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 1, s"$simhashName expects (tokens)")
    SimHash64(children.head)
  }

  private[plans] def winnowBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3, s"$winnowName expects (text, k, w)")
    WinnowFingerprints(children.head, intLit(children(1), "k"), intLit(children(2), "w"))
  }

  private[plans] def topGramShareBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"$topGramShareName expects (text, n)")
    TopGramShare(children.head, intLit(children(1), "n"))
  }

  private[plans] def jaroWinklerBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"$jaroWinklerName expects (a, b)")
    JaroWinkler(children.head, children(1))
  }

  private[plans] def imageDimsBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 1, s"$imageDimsName expects (payload)")
    ImageDims(children.head)
  }

  private[plans] def audioMetaBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 1, s"$audioMetaName expects (payload)")
    AudioMeta(children.head)
  }

  private[plans] def videoMetaBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 1, s"$videoMetaName expects (payload)")
    VideoMeta(children.head)
  }

  /** Spark 4 ships `BloomFilterMightContain` for its runtime-filter
   *  optimizer but does not register it as a callable function; graft
   *  exposes it for explicit bloom-prefilter plans
   *  ([[graft.operators.Dedup.incrementalDedup]]). The bloom child must
   *  be a foldable binary (a serialized `util.sketch.BloomFilter`), the
   *  value child an xxhash64 long — both enforced by the expression's
   *  own checkInputDataTypes. */
  private[plans] def mightContainBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"$mightContainName expects (bloom, xxhash64)")
    BloomFilterMightContain(children.head, children(1))
  }

  /**
   * The single source of truth for (identifier, info, builder) triples:
   * both the programmatic [[register]] path and the config-driven
   * [[GraftExtensions]] path iterate this list, so a new expression
   * added here is available — with the same arity/foldable validation —
   * on both.
   */
  private[plans] val defs: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier(cosineName),
      new ExpressionInfo(classOf[CosineSimilarity].getName, cosineName),
      cosineBuilder _),
    (FunctionIdentifier(sqL2Name),
      new ExpressionInfo(classOf[SquaredL2].getName, sqL2Name),
      sqL2Builder _),
    (FunctionIdentifier(hyperplanesName),
      new ExpressionInfo(classOf[HyperplaneSignatures].getName, hyperplanesName),
      hyperplanesBuilder _),
    (FunctionIdentifier(minhashName),
      new ExpressionInfo(classOf[MinHashSignature].getName, minhashName),
      minhashBuilder _),
    (FunctionIdentifier(charGramJaccardName),
      new ExpressionInfo(classOf[CharGramJaccard].getName, charGramJaccardName),
      charGramJaccardBuilder _),
    (FunctionIdentifier(charGramContainmentName),
      new ExpressionInfo(classOf[CharGramContainment].getName, charGramContainmentName),
      charGramContainmentBuilder _),
    (FunctionIdentifier(wordShinglesName),
      new ExpressionInfo(classOf[WordShingles].getName, wordShinglesName),
      wordShinglesBuilder _),
    (FunctionIdentifier(simhashName),
      new ExpressionInfo(classOf[SimHash64].getName, simhashName),
      simhashBuilder _),
    (FunctionIdentifier(winnowName),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, winnowName),
      winnowBuilder _),
    (FunctionIdentifier(topGramShareName),
      new ExpressionInfo(classOf[TopGramShare].getName, topGramShareName),
      topGramShareBuilder _),
    (FunctionIdentifier(jaroWinklerName),
      new ExpressionInfo(classOf[JaroWinkler].getName, jaroWinklerName),
      jaroWinklerBuilder _),
    (FunctionIdentifier(imageDimsName),
      new ExpressionInfo(classOf[ImageDims].getName, imageDimsName),
      imageDimsBuilder _),
    (FunctionIdentifier(audioMetaName),
      new ExpressionInfo(classOf[AudioMeta].getName, audioMetaName),
      audioMetaBuilder _),
    (FunctionIdentifier(videoMetaName),
      new ExpressionInfo(classOf[VideoMeta].getName, videoMetaName),
      videoMetaBuilder _),
    (FunctionIdentifier(mightContainName),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, mightContainName),
      mightContainBuilder _),
  )

  /** Idempotent per-session registration (programmatic path). */
  def register(spark: SparkSession): Unit =
    defs.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/**
 * `spark.sql.extensions=graft.plans.GraftExtensions` — config-driven
 * injection for sessions graft code doesn't construct. Shares
 * [[GraftFunctions.defs]] with the programmatic path.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.defs.foreach(ext.injectFunction)
}
