package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** ClickHouse MergeTree PROJECTIONs (SURVEY §2.1): a table-attached
  * materialized pre-aggregate that the optimizer uses AUTOMATICALLY —
  * the user keeps querying the base table and matching aggregates are
  * answered from the (typically 1000× smaller) projection. The Spark
  * re-expression:
  *
  *  - [[Projections.materialize]] builds the pre-aggregate parquet
  *    (partial sums/mins/maxs/counts per dimension tuple) and registers
  *    it in the session's catalog (its [[graft.SessionCache]]);
  *  - [[ProjectionRewrite]] is a `Rule[LogicalPlan]` that matches
  *    `Aggregate` nodes over the base relation whose grouping keys are
  *    a subset of the projection dims and whose aggregate calls are
  *    derivable from the stored partials, and swaps the scan:
  *    sum → sum of partial sums, count → sum of partial counts,
  *    min/max → min/max of partial mins/maxs. Filters over dims are
  *    remapped onto the projection.
  *
  * Partial-aggregate merging is exactly the algebra Spark's own
  * two-phase aggregation uses, so results are identical — the declared
  * query `mt_projection` proves it against the DuckDB oracle computed
  * from the BASE table. At 100 TB this is the difference between a
  * dashboard query scanning the fact table and scanning kilobytes.
  */
object Projections {

  /** One projection measure: an agg `kind` (sum|min|max|count) over a
    * base-table expression (SQL text), stored as `projCol`.
    */
  final case class Measure(kind: String, exprSql: String, projCol: String)

  final case class ProjectionDef(
      name: String,
      basePath: String,
      projPath: String,
      dims: Seq[String],
      measures: Seq[Measure],
      baseMtime: Long)

  private def catalog(spark: SparkSession): TrieMap[String, ProjectionDef] =
    graft.SessionCache(spark).slot("projections")(TrieMap.empty[String, ProjectionDef])

  // Sorted: the rewrite takes the FIRST match, and TrieMap order
  // would make the choice depend on registration history.
  def registered(spark: SparkSession): Seq[ProjectionDef] =
    catalog(spark).values.toSeq.sortBy(_.name)

  /** Modification time of the base table's root path (file or dir).
    * The rewrite checks this per query: a projection built from an
    * older snapshot of the base MUST NOT answer queries after the base
    * is rewritten — stale entries are dropped instead.
    */
  private[plans] def mtimeOf(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else -1L
    } catch { case _: Exception => -1L }

  /** Invalidate and return true if the base changed since materialize. */
  private[plans] def staleAndDrop(spark: SparkSession, d: ProjectionDef): Boolean = {
    val cur = mtimeOf(spark, d.basePath)
    val stale = cur != d.baseMtime
    if (stale) catalog(spark).remove(d.name)
    stale
  }

  /** Build the pre-aggregate parquet and register the projection.
    * Idempotent per (name, basePath, base mtime): repeat calls in the
    * same session (bench reruns, Verify's sequential queries) skip the
    * rebuild — like ClickHouse, the projection is maintained by the
    * table, not rebuilt per query. If the base was rewritten since,
    * the projection IS rebuilt.
    */
  def materialize(spark: SparkSession, name: String, basePath: String,
      projPath: String, dims: Seq[String], measures: Seq[Measure]): Unit = {
    val mtime = mtimeOf(spark, basePath)
    if (catalog(spark).get(name).exists(d => d.basePath == basePath &&
      d.projPath == projPath && d.baseMtime == mtime))
      return
    val base = spark.read.parquet(basePath)
    val aggs = measures.map { m =>
      m.kind match {
        // The partial sum is stored in the MEASURE's own type (Spark
        // widens sum(decimal(p,s)) to (p+10,s); re-summing would widen
        // again and change the rewritten call's result type). Same
        // contract as SummingMergeTree storing the declared column
        // type — partials must fit it.
        case "sum" =>
          val dt = base.select(expr(m.exprSql)).schema.head.dataType
          sum(expr(m.exprSql)).cast(dt).as(m.projCol)
        case "min" => min(expr(m.exprSql)).as(m.projCol)
        case "max" => max(expr(m.exprSql)).as(m.projCol)
        case "count" => count(lit(1)).as(m.projCol)
        case k => throw new IllegalArgumentException(s"unknown measure kind $k")
      }
    }
    base.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(projPath)
    catalog(spark).put(name,
      ProjectionDef(name, basePath, projPath, dims, measures, mtime))
  }

  /** Install the rewrite on an EXISTING session (extensions can only be
    * attached at construction; `experimental.extraOptimizations` is the
    * supported post-hoc hook). Idempotent.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[ProjectionRewrite]))
      spark.experimental.extraOptimizations = cur :+ ProjectionRewrite(spark)
  }
}

case class ProjectionRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import Projections._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate if agg.groupingExpressions.nonEmpty =>
      // (grouping required: a global agg over an EMPTY base would read
      // zero projection rows and turn count()=0 into sum(cnt)=NULL)
      registered(spark).view.flatMap(d => tryRewrite(agg, d)).headOption.getOrElse(agg)
  }

  /** `path` as a relation's root path prints it: qualified, no scheme. */
  private def rootOf(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toUri.getPath
  }

  private def pathsOf(lr: LogicalRelation): Seq[String] = lr.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
    case _ => Nil
  }

  /** Walk past pass-through nodes down to the base relation, collecting
    * filter conditions on the way.
    */
  private def strip(p: LogicalPlan, fs: Seq[Expression])
      : Option[(LogicalRelation, Seq[Expression])] = p match {
    case SubqueryAlias(_, c) => strip(c, fs)
    case Project(es, c) if es.forall(_.isInstanceOf[AttributeReference]) =>
      strip(c, fs)
    case Filter(cond, c) => strip(c, fs :+ cond)
    case lr: LogicalRelation => Some((lr, fs))
    case _ => None
  }

  private def tryRewrite(agg: Aggregate, d: ProjectionDef): Option[Aggregate] = {
    val (baseLr, filters) = strip(agg.child, Nil).getOrElse(return None)
    // the scan must cover the base and nothing else: a relation over
    // the base plus a later part holds rows the projection never saw
    if (pathsOf(baseLr) != Seq(rootOf(d.basePath))) return None
    // Staleness gate: never answer from a projection whose base table
    // was rewritten after materialize — drop the entry and scan base.
    if (staleAndDrop(spark, d)) return None

    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    if (!groupAttrs.forall(a => d.dims.contains(a.name))) return None
    if (!filters.forall(_.references.forall(r => d.dims.contains(r.name))))
      return None

    // Fresh relation instance per rewrite site (unique exprIds even if
    // the same projection answers two branches of one query).
    val projLr = spark.read.parquet(d.projPath).queryExecution.analyzed match {
      case lr: LogicalRelation => lr.newInstance()
      case _ => return None
    }
    val projAttr: Map[String, AttributeReference] =
      projLr.output.map(a => a.name -> a).toMap
    if (!d.dims.forall(projAttr.contains)) return None

    // Resolve each measure's base expression against THIS base relation
    // instance so semanticEquals can match the query's agg children.
    def resolveBase(sql: String): Option[Expression] =
      try {
        var ok = true
        val resolved = spark.sessionState.sqlParser.parseExpression(sql)
          .transformUp {
            case u: UnresolvedAttribute =>
              baseLr.output.find(_.name.equalsIgnoreCase(u.name)) match {
                case Some(a) => a
                case None => ok = false; u
              }
          }
        if (ok && resolved.resolved) Some(resolved) else None
      } catch { case _: Exception => None }

    def measuresOf(kind: String): Seq[(Expression, AttributeReference)] =
      d.measures.filter(_.kind == kind).flatMap { m =>
        for {
          e <- resolveBase(m.exprSql)
          p <- projAttr.get(m.projCol)
        } yield (e, p)
      }
    val sums = measuresOf("sum")
    val mins = measuresOf("min")
    val maxs = measuresOf("max")
    val cnt = d.measures.find(_.kind == "count").flatMap(m => projAttr.get(m.projCol))

    def rewriteAE(ae: AggregateExpression): Option[AggregateExpression] = {
      if (ae.filter.isDefined) return None
      if (ae.isDistinct) {
        // count(DISTINCT dim…) survives the swap unchanged: the
        // projection has exactly one row per dims combination, so the
        // distinct set of any dim subset is preserved (children are
        // remapped to projection attrs by the caller's second pass).
        val distinctOnDims = ae.aggregateFunction match {
          case c: Count => c.children.forall {
            case a: AttributeReference => d.dims.contains(a.name)
            case _ => false
          }
          case _ => false
        }
        return if (distinctOnDims) Some(ae) else None
      }
      val newFn: AggregateFunction = ae.aggregateFunction match {
        case s: Sum =>
          val pc = sums.find(_._1.semanticEquals(s.child)).getOrElse(return None)._2
          s.withNewChildren(Seq(pc)).asInstanceOf[AggregateFunction]
        case m: Min =>
          val pc = mins.find(_._1.semanticEquals(m.child)).getOrElse(return None)._2
          m.withNewChildren(Seq(pc)).asInstanceOf[AggregateFunction]
        case m: Max =>
          val pc = maxs.find(_._1.semanticEquals(m.child)).getOrElse(return None)._2
          m.withNewChildren(Seq(pc)).asInstanceOf[AggregateFunction]
        case c: Count if c.children.forall(_.foldable) =>
          Sum(cnt.getOrElse(return None))
        case _ => return None
      }
      // the rewritten call must keep the original result type exactly
      if (newFn.dataType != ae.aggregateFunction.dataType) return None
      Some(ae.copy(aggregateFunction = newFn))
    }

    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      var ok = true
      val step1 = ne.transformUp {
        // avg(x) derives as sum(sum_x) / sum(cnt) when both partials
        // exist — restricted to DOUBLE children (a decimal Average's
        // widened result type can't be reproduced by a Divide without
        // re-rounding; double division is exactly Average's own math).
        case ae: AggregateExpression
            if ae.aggregateFunction.isInstanceOf[Average] &&
              !ae.isDistinct && ae.filter.isEmpty =>
          val child = ae.aggregateFunction.asInstanceOf[Average].child
          (child.dataType, sums.find(_._1.semanticEquals(child)), cnt) match {
            case (org.apache.spark.sql.types.DoubleType, Some((_, pc)), Some(c))
                if pc.dataType == org.apache.spark.sql.types.DoubleType =>
              Divide(Sum(pc).toAggregateExpression(),
                Cast(Sum(c).toAggregateExpression(),
                  org.apache.spark.sql.types.DoubleType))
            case _ => ok = false; ae
          }
        case ae: AggregateExpression =>
          rewriteAE(ae) match {
            case Some(x) => x
            case None => ok = false; ae
          }
      }
      val step2 = step1.transformUp {
        case ar: AttributeReference if baseLr.outputSet.contains(ar) =>
          projAttr.get(ar.name) match {
            case Some(p) if d.dims.contains(ar.name) => p
            case _ => ok = false; ar
          }
      }
      if (!ok) return None
      step2 match {
        case a: Alias => a // transform preserves the alias exprId
        case ar: AttributeReference if ne.isInstanceOf[AttributeReference] =>
          // a bare grouping column in the output: keep the original id
          Alias(ar, ne.name)(exprId = ne.exprId)
        case other: NamedExpression => other
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }

    val newGroup = groupAttrs.map(a => projAttr(a.name))
    val newChild: LogicalPlan =
      if (filters.isEmpty) projLr
      else Filter(
        filters.map(_.transform {
          case ar: AttributeReference => projAttr(ar.name)
        }).reduce(And), projLr)
    logInfo(s"projection rewrite: ${d.name} answers aggregate over ${d.basePath}")
    Some(Aggregate(newGroup, newAggExprs, newChild))
  }
}
