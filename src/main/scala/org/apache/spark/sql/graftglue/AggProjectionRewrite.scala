package org.apache.spark.sql.graftglue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation,
  DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Answer covered aggregates from a materialized ROLLUP instead of the base
 * files — the aggregate-shaped half of transparent projection routing (the
 * reference server picks semi-sorted projections for scans,
 * /root/reference/vastdb/table.py:274-309; this picks pre-aggregated ones
 * for GROUP BYs). At 100 TB the difference is the whole query: a nightly
 * `SELECT dim, sum(m) FROM fact GROUP BY dim` stops re-reading the fact
 * table and reads a few thousand pre-merged rows.
 *
 * Runs in the "User Provided Optimizers" batch (self-registered on the
 * session by [[GraftSqlCatalog]], same mechanism as the changefeed pushdown
 * rule), i.e. AFTER V2ScanRelationPushDown — so the matched shape is the
 * final `Aggregate [→ Expand] [→ Project] [→ Filter] →
 * DataSourceV2ScanRelation` and the emitted child is a ready-built parquet
 * scan relation over the rollup (a new `DataSourceV2Relation` here would
 * never get scan-converted).
 *
 * Routes ONLY when every piece is provably answerable from decomposable
 * partials, else leaves the plan untouched:
 *  - grouping expressions are plain columns ⊆ the rollup's group columns
 *    (any SUBSET re-aggregates correctly — partial merges are associative);
 *  - ROLLUP/CUBE/GROUPING SETS route too: the `Expand` between aggregate
 *    and scan re-parents onto the rollup with its measure pass-through
 *    slots replaced by the partial columns and its dim/null and
 *    grouping-id slots kept verbatim — expansion duplicates rollup rows
 *    per grouping set exactly as it would duplicate base rows grouped
 *    finer, so the merge stays associative per (set, dims);
 *  - residual filters reference group columns only (applied to rollup rows,
 *    where they select exactly the same groups) and carry no subqueries;
 *  - aggregate calls are DISTINCT-free, FILTER-free sum/count/min/max/avg
 *    over plain measure columns (or count(*)), rewritten as merges:
 *    sum→SUM(__sum_m), count→SUM(__cnt_m) (0 for no groups), min/max→
 *    MIN/MAX over the stored extrema, avg→SUM(__sum_m)/SUM(__cnt_m);
 *  - avg is restricted to non-decimal numerics (decimal avg carries
 *    Spark-version-specific precision/scale promotion — never worth a
 *    silently-different result).
 *
 * Output attribute ids of the original Aggregate are preserved via aliases,
 * so parent operators (sorts, joins, havings) re-resolve untouched. The
 * table only ever reaches this rule when the rollup was FRESH at load time
 * (DML stales rollups under the same manifest CAS as projections), so a
 * routed answer is exactly the base-table answer.
 */
object AggProjectionRewrite extends Rule[LogicalPlan] {

  /** (table, rollup) of the most recent route — observability for specs. */
  private[graftglue] val lastRouted =
    new java.util.concurrent.atomic.AtomicReference[(String, String)]

  def register(session: SparkSession): Unit = synchronized {
    if (!session.experimental.extraOptimizations.contains(this))
      session.experimental.extraOptimizations =
        session.experimental.extraOptimizations :+ this
  }

  private def enabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.aggProjection.enabled", "true") == "true"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
  }

  /** Strip column-pruning Projects (pass-through attributes only) and at
    * most one residual Filter above the scan relation. */
  private def unwrap(p: LogicalPlan)
      : Option[(Option[Expression], DataSourceV2ScanRelation)] = p match {
    case sr: DataSourceV2ScanRelation => Some((None, sr))
    case Filter(c, inner) => unwrap(inner) match {
      case Some((None, sr)) => Some((Some(c), sr))
      case _ => None // two filters never survive CombineFilters; bail
    }
    case Project(pl, inner) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(inner)
    case _ => None
  }

  /** One Expand output position, classified across its projection rows. */
  private sealed trait Slot
  /** Same attribute in every row — a measure/column pass-through. */
  private case class PassSlot(attr: AttributeReference) extends Slot
  /** Mix of one named attribute and null literals — a grouping-set dim. */
  private case class DimSlot(name: String) extends Slot
  /** Non-null literals in every row — the grouping-id column. */
  private case object LitSlot extends Slot

  private def classifySlots(e: Expand): Option[Seq[Slot]] = {
    val width = e.output.length
    if (e.projections.exists(_.length != width)) return None
    val out = (0 until width).map { j =>
      val es = e.projections.map(_(j))
      if (es.forall {
        case l: Literal => l.value != null
        case _ => false
      }) LitSlot
      else {
        val attrs = es.collect { case a: AttributeReference => a }
        val nulls = es.count {
          case Literal(v, _) => v == null
          case _ => false
        }
        if (attrs.size + nulls != es.size ||
            attrs.map(_.name).distinct.size != 1) return None
        if (nulls == 0 && attrs.map(_.exprId).distinct.size == 1)
          PassSlot(attrs.head)
        else DimSlot(attrs.head.name)
      }
    }
    Some(out)
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    // grouping-analytics shape: an Expand between the aggregate and scan
    val (expandOpt, below) = agg.child match {
      case e: Expand => (Some(e), e.child)
      case other => (None, other)
    }
    val (cond, sr) = unwrap(below) match {
      case Some((c, s)) => (c, s)
      case None => return None
    }
    val zt = sr.relation.table match {
      case z: ZoneMapTable if z.aggRollups.nonEmpty => z
      case _ => return None
    }
    // grouping must be plain columns (for the Expand shape: its output
    // attrs, which the rewrite keeps verbatim)
    val groupAttrs: Seq[AttributeReference] = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val slots: Option[Seq[Slot]] = expandOpt match {
      case None => None
      case Some(e) =>
        val s = classifySlots(e).getOrElse(return None)
        // groups must come from the kept (dim/gid) expand outputs
        val keptIds = e.output.zip(s).collect {
          case (a, DimSlot(_)) => a.exprId
          case (a, LitSlot) => a.exprId
        }.toSet
        if (!groupAttrs.forall(a => keptIds(a.exprId))) return None
        Some(s)
    }
    // the dim names the query actually needs from the rollup
    val dimNamesUsed: Set[String] = slots match {
      case Some(s) => s.collect { case DimSlot(n) => n }.toSet
      case None => groupAttrs.map(_.name).toSet
    }
    // no subqueries in the residual filter (their semantics are planned
    // against the base relation; re-parenting them is not worth the risk)
    if (cond.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) return None
    // no non-deterministic predicates: `WHERE rand() < 0.5` has empty
    // references so it would pass the dim-coverage check, but evaluating it
    // per rollup row (per group) instead of per base row changes the result
    // distribution from row-level to group-level sampling
    if (cond.exists(!_.deterministic)) return None
    val filterRefs = cond.map(_.references.map(_.name).toSet)
      .getOrElse(Set.empty)

    // candidate rollups covering dims + filters; fewest dims = fewest
    // rollup rows to merge
    val candidates = zt.aggRollups.filter { case (m, _) =>
      val dims = m.groupColumns.toSet
      // recorded schema must still carry every dim (metadata and files can
      // only diverge transiently; never route through a mismatch)
      val recorded = try DataType.fromJson(m.schemaJson)
          .asInstanceOf[StructType].fieldNames.toSet
        catch { case _: Exception => Set.empty[String] }
      dimNamesUsed.subsetOf(dims) && filterRefs.subsetOf(dims) &&
        m.groupColumns.forall(recorded)
    }.sortBy(_._1.groupColumns.size)

    candidates.view.flatMap { case (meta, dataDir) =>
      val rollupSchema =
        DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      val fieldByName = rollupSchema.fields.map(f => f.name -> f).toMap
      // fresh output attributes for the rollup relation, fixed here so the
      // rewritten expressions and the scan output agree object-for-object
      val rollupAttrs = DataTypeUtils.toAttributes(rollupSchema)
      val attrOf: Map[String, AttributeReference] =
        rollupAttrs.map(a => a.name -> a).toMap

      def partial(prefix: String, m: String): Option[AttributeReference] =
        fieldByName.get(prefix + m).map(f => attrOf(f.name))
      def merged(f: AggregateFunction): Expression =
        AggregateExpression(f, Complete, isDistinct = false, None,
          NamedExpression.newExprId)

      // rewrite one aggregate call to a merge over partials, or None
      def rewriteCall(ae: AggregateExpression): Option[Expression] = {
        if (ae.isDistinct || ae.filter.nonEmpty) return None
        ae.aggregateFunction match {
          case c: Count => c.children match {
            case Seq(l: Literal) if l.value != null =>
              partial("__", "rows").map(p =>
                Coalesce(Seq(merged(Sum(p)), Literal(0L))))
            case Seq(a: AttributeReference) =>
              partial("__cnt_", a.name).map(p =>
                Coalesce(Seq(merged(Sum(p)), Literal(0L))))
            case _ => None
          }
          case s: Sum => s.child match {
            case a: AttributeReference => partial("__sum_", a.name).map { p =>
              val m = merged(Sum(p))
              if (m.dataType == ae.dataType) m else Cast(m, ae.dataType)
            }
            case _ => None
          }
          case m: Min => m.child match {
            case a: AttributeReference =>
              partial("__min_", a.name).map(p => merged(Min(p)))
            case _ => None
          }
          case m: Max => m.child match {
            case a: AttributeReference =>
              partial("__max_", a.name).map(p => merged(Max(p)))
            case _ => None
          }
          case av: Average => av.child match {
            case a: AttributeReference
                if a.dataType.isInstanceOf[NumericType] &&
                  !a.dataType.isInstanceOf[DecimalType] =>
              for { s <- partial("__sum_", a.name)
                    c <- partial("__cnt_", a.name) }
                yield Divide(Cast(merged(Sum(s)), DoubleType),
                  Cast(merged(Sum(c)), DoubleType))
            case _ => None
          }
          case _ => None
        }
      }

      // `replaceAttrs`: rewrite dim references to rollup attrs (plain
      // shape); the Expand shape keeps its dim/gid output attrs verbatim,
      // passed in via `allowedExtra`.
      def rewriteExpr(e: Expression, replaceAttrs: Boolean,
                      allowedExtra: AttributeSet): Option[Expression] = {
        var ok = true
        val out = e.transformUp {
          case ae: AggregateExpression =>
            rewriteCall(ae) match {
              case Some(r) => r
              case None => ok = false; ae
            }
          case a: AttributeReference
              if replaceAttrs && attrOf.contains(a.name) => attrOf(a.name)
        }
        // any surviving base-relation attribute means something wasn't
        // rewritable (unsupported agg, non-dim reference) — no route
        if (ok && out.references.forall(r =>
            attrOf.get(r.name).exists(_.exprId == r.exprId) ||
              allowedExtra.contains(r))) Some(out)
        else None
      }

      val keptOutputs: AttributeSet = expandOpt match {
        case Some(e) => AttributeSet(e.output.zip(slots.get).collect {
          case (a, DimSlot(_)) => a
          case (a, LitSlot) => a
        })
        case None => AttributeSet.empty
      }
      val replaceAttrs = expandOpt.isEmpty

      val newCond = cond.map(c =>
        rewriteExpr(c, replaceAttrs = true, AttributeSet.empty) match {
          case Some(r) => r
          case None => return None // dims-only filter is always rewritable
        })
      val newResults: Option[Seq[NamedExpression]] =
        traverse(agg.aggregateExpressions) {
          case a: AttributeReference =>
            rewriteExpr(a, replaceAttrs, keptOutputs)
              .map(r => Alias(r, a.name)(exprId = a.exprId))
          case al: Alias =>
            rewriteExpr(al.child, replaceAttrs, keptOutputs)
              .map(r => Alias(r, al.name)(exprId = al.exprId))
          case _ => None
        }

      newResults.map { results =>
        // rollup columns the plan reads: partials the merges reference +
        // dims (slot mapping or direct grouping) + filter columns
        val rollupRefs = AttributeSet(
          results.flatMap(_.references) ++
            newCond.toSeq.flatMap(_.references) ++
            dimNamesUsed.toSeq.flatMap(attrOf.get))
        val needed: Seq[AttributeReference] =
          rollupAttrs.filter(rollupRefs.contains)
        val pt = ParquetTable(s"${zt.name}$$${meta.name}",
          SparkSession.active, CaseInsensitiveStringMap.empty(),
          List(dataDir), Some(rollupSchema), classOf[ParquetFileFormat])
        val sb = pt.newScanBuilder(CaseInsensitiveStringMap.empty())
          .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder]
        newCond.foreach(c => sb.pushFilters(Seq(c)))
        sb.pruneColumns(StructType(needed.map(a => fieldByName(a.name))))
        val scan = sb.build()
        val rel = DataSourceV2Relation(pt, rollupAttrs, None, None,
          CaseInsensitiveStringMap.empty())
        val scanRel = DataSourceV2ScanRelation(rel, scan, needed)
        val filtered = newCond.map(Filter(_, scanRel)).getOrElse(scanRel)
        val (newChild, newGroups) = expandOpt match {
          case None => (filtered, groupAttrs.map(a => attrOf(a.name)))
          case Some(e) =>
            // pass the partials through every grouping-set row; keep dim
            // (attr-or-null) and grouping-id slots verbatim, dims mapped
            // onto the rollup's attributes
            val passAttrs: Seq[AttributeReference] =
              needed.filterNot(a => dimNamesUsed.contains(a.name))
            val keptIdx = slots.get.zipWithIndex.collect {
              case (s: DimSlot, j) => (s: Slot, j)
              case (LitSlot, j) => (LitSlot: Slot, j)
            }
            val newProjections = e.projections.map { row =>
              (passAttrs: Seq[Expression]) ++ keptIdx.map {
                case (DimSlot(n), j) => row(j) match {
                  case _: AttributeReference => attrOf(n): Expression
                  case l => l // the grouping set's null literal
                }
                case (_, j) => row(j) // grouping-id literal
              }
            }
            val newOutput = passAttrs ++ keptIdx.map { case (_, j) => e.output(j) }
            (Expand(newProjections, newOutput, filtered),
              agg.groupingExpressions)
        }
        lastRouted.set((zt.name, meta.name))
        Aggregate(newGroups, results, newChild)
      }
    }.headOption
  }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = Seq.newBuilder[B]
    for (x <- xs) f(x) match {
      case Some(b) => out += b
      case None => return None
    }
    Some(out.result())
  }
}
