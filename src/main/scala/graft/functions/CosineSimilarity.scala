package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over two `Array[Float]` embedding columns as a
  * native Catalyst expression with whole-stage codegen (SURVEY.md
  * §2.10 "custom scalar with codegen"; §2.8 distance/vector family —
  * CH cosineDistance = 1 − this).
  *
  * A codegen'd tight loop over the unsafe array data is the fast path
  * for the similarity-search north star: no boxing, no UDF
  * serialization, stays inside the WholeStageCodegen stage. The
  * accumulation is a single ascending-index double loop — bit-identical
  * to DuckDB's `list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])`
  * (verified empirically), which keeps it oracle-checkable.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // Every local goes through ctx.freshName: two cosine_sim calls can
      // land in ONE generated function, where a hardcoded `int i` makes
      // Janino throw "Redefinition of local variable" and the whole stage
      // silently falls back to interpreted eval.
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Session-scoped registration so `expr("cosine_sim(a, b)")` works in
  * any session our queries receive (the driver builds its own session,
  * so registration happens at query-build time). Once per session: a
  * replaced function costs Spark a WARN per name, and no name here is
  * also a ChDialect name, so the order of the two never matters.
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit =
    graft.SessionCache(spark).once("graft.functions")(registerAll(spark))

  private def registerAll(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    fr.createOrReplaceTempFunction(
      "cosine_sim", (children: Seq[Expression]) =>
        CosineSimilarity(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "shingle_rows", (children: Seq[Expression]) =>
        ShingleRows(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "token_counts", (children: Seq[Expression]) =>
        TokenCounts(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "graft_gcd", (children: Seq[Expression]) =>
        Gcd(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "graft_lcm", (children: Seq[Expression]) =>
        Lcm(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "sip_hash64", (children: Seq[Expression]) =>
        SipHash64(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "int_hash64", (children: Seq[Expression]) =>
        IntHash64(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "point_in_polygon", (children: Seq[Expression]) =>
        PointInPolygon(children(0), children(1), children(2)), "built-in")
    fr.createOrReplaceTempFunction(
      "geohash_encode", (children: Seq[Expression]) =>
        GeohashEncode(children(0), children(1), children(2)), "built-in")
    fr.createOrReplaceTempFunction(
      "geohash_decode", (children: Seq[Expression]) =>
        GeohashDecode(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "quadkey_encode", (children: Seq[Expression]) =>
        QuadkeyEncode(children(0), children(1), children(2)), "built-in")
    fr.createOrReplaceTempFunction(
      "quadkey_decode", (children: Seq[Expression]) =>
        QuadkeyDecode(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "graft_quantile_exact", (children: Seq[Expression]) =>
        QuantileExact(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "geo_to_s2", (children: Seq[Expression]) =>
        GeoToS2(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_to_geo", (children: Seq[Expression]) =>
        S2ToGeo(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_level", (children: Seq[Expression]) =>
        S2Level(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_parent", (children: Seq[Expression]) =>
        S2Parent(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_get_neighbors", (children: Seq[Expression]) =>
        S2GetNeighbors(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_cells_intersect", (children: Seq[Expression]) =>
        S2CellsIntersect(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_cap_contains", (children: Seq[Expression]) =>
        S2CapContains(children(0), children(1), children(2)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_rect_contains", (children: Seq[Expression]) =>
        S2RectContains(children(0), children(1), children(2)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_face_ij", (children: Seq[Expression]) =>
        S2FaceIJ(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_rect_add", (children: Seq[Expression]) =>
        S2RectAdd(children(0), children(1), children(2)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_rect_union", (children: Seq[Expression]) =>
        S2RectUnion(children(0), children(1), children(2), children(3)), "built-in")
    fr.createOrReplaceTempFunction(
      "s2_rect_intersection", (children: Seq[Expression]) =>
        S2RectIntersection(children(0), children(1), children(2), children(3)),
      "built-in")
    fr.createOrReplaceTempFunction(
      "s2_cap_union", (children: Seq[Expression]) =>
        S2CapUnion(children(0), children(1), children(2), children(3)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_num_hexagons", (children: Seq[Expression]) =>
        H3NumHexagons(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_get_resolution", (children: Seq[Expression]) =>
        H3GetResolution(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_get_base_cell", (children: Seq[Expression]) =>
        H3GetBaseCell(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_is_valid", (children: Seq[Expression]) =>
        H3IsValid(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_is_pentagon", (children: Seq[Expression]) =>
        H3IsPentagon(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_is_res_class_iii", (children: Seq[Expression]) =>
        H3IsResClassIII(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_to_parent", (children: Seq[Expression]) =>
        H3ToParent(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_to_center_child", (children: Seq[Expression]) =>
        H3ToCenterChild(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_to_children", (children: Seq[Expression]) =>
        H3ToChildren(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_to_string", (children: Seq[Expression]) =>
        H3ToString(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "string_to_h3", (children: Seq[Expression]) =>
        StringToH3(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "geo_to_h3", (children: Seq[Expression]) =>
        GeoToH3(children(0), children(1), children(2)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_to_geo", (children: Seq[Expression]) =>
        H3ToGeo(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_to_geo_boundary", (children: Seq[Expression]) =>
        H3ToGeoBoundary(children(0)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_k_ring", (children: Seq[Expression]) =>
        H3KRing(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "h3_grid_distance", (children: Seq[Expression]) =>
        H3GridDistance(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "xx_hash64", (children: Seq[Expression]) =>
        XxHash64Ch.build(children), "built-in")
    fr.createOrReplaceTempFunction(
      "signed_feature_fold", (children: Seq[Expression]) =>
        SignedFeatureFold(children(0), children(1)), "built-in")
    fr.createOrReplaceTempFunction(
      "hyperplane_dots", (children: Seq[Expression]) =>
        HyperplaneDots(children(0), children(1)), "built-in")
  }
}
