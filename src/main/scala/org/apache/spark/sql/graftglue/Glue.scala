package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedAttribute,
  UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.LongType

/**
 * Bridge into `private[sql]` Spark internals (Column ↔ Catalyst Expression,
 * function registry). Lives under org.apache.spark.sql so the `private[sql]`
 * members are visible — the standard technique for third-party Catalyst
 * extensions; nothing here touches non-public *behavior*, only accessors.
 */
object Glue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → ANALYZER-RESOLVABLE Catalyst tree. `expression` wraps the
    * column's lazy node in a `ColumnNodeExpression`, which only a full
    * Dataset analysis unwraps — returned from a SessionExtensions
    * function builder it survives to codegen and dies Unevaluable. This
    * eagerly converts the node graph to real (possibly Unresolved*)
    * expressions the analyzer then resolves in place, which is what an
    * injected SQL function must hand back. */
  def resolvableExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
  def registry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** Re-wrap a V1 streaming sink's micro-batch DataFrame as a BATCH frame
    * over the same physical rows (`queryExecution.toRdd`, no re-planning,
    * no driver materialization): `Sink.addBatch` hands over a frame whose
    * logical plan still carries the streaming flag, so any transformation
    * + write on it trips "streaming sources must be executed with
    * writeStream.start()". The standard V1-sink workaround. */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** The rows of `rel` with a non-null long column `name` appended, holding
    * `start` + the row's position: row ids assigned on the driver for a
    * batch that is already there, with no RDD stage, no second plan and no
    * Row ↔ InternalRow round trip. */
  def withRowIds(spark: SparkSession, rel: LocalRelation, name: String,
                 start: Long): org.apache.spark.sql.DataFrame = {
    val types = rel.output.map(_.dataType)
    val rows = rel.data.zipWithIndex.map { case (r, i) =>
      new GenericInternalRow((r.toSeq(types) :+ (start + i)).toArray)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(rel.output :+ AttributeReference(name, LongType, nullable = false)(), rows))
  }

  /** A clone of `spark` sharing the SparkContext, catalog state, and runtime
    * conf values, but with an independent SQLConf: scan-scoped knobs (e.g.
    * `spark.sql.files.maxPartitionBytes`) set on the clone are consulted at
    * plan time of DataFrames built from it, and never leak into the parent
    * session. (A save/restore around the read would not work — file-partition
    * sizing is read lazily when the query is planned, not when the
    * DataFrame is constructed.) */
  def scopedSession(spark: SparkSession, confs: Map[String, String]): SparkSession = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** True iff the column is the literal TRUE (the no-op predicate). */
  def isLiteralTrue(c: Column): Boolean = resolvableExpression(c) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(true, _) => true
    case _ => false
  }

  /** Root column names referenced by a (possibly unresolved) Column. */
  def referencedRoots(c: Column): Set[String] =
    resolvableExpression(c).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }.toSet

  /** `c` with its comparison, IN, AND and OR calls (unresolved functions
    * before analysis) as expression nodes: one match covers both spellings.
    * Only subtrees holding a call are walked, not an IN's literals. */
  def predicateTree(c: Column): Expression =
    resolvableExpression(c).transformUpWithPruning(
        _.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern.UNRESOLVED_FUNCTION)) {
      case f: UnresolvedFunction if f.nameParts.nonEmpty =>
        (f.nameParts.last, f.arguments) match {
          case (">", Seq(l, r)) => GreaterThan(l, r)
          case (">=", Seq(l, r)) => GreaterThanOrEqual(l, r)
          case ("<", Seq(l, r)) => LessThan(l, r)
          case ("<=", Seq(l, r)) => LessThanOrEqual(l, r)
          case ("=" | "==", Seq(l, r)) => EqualTo(l, r)
          case ("and", Seq(l, r)) => And(l, r)
          case ("or", Seq(l, r)) => Or(l, r)
          case ("in", v +: list) if list.nonEmpty => In(v, list)
          case _ => f
        }
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def attrOf(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute if a.nameParts.size == 1 => Some(a.nameParts.head)
    case _ => None
  }

  /** A literal operand, NULL included: literals as they are, foldable
    * subtrees (e.g. cast('2024-01-01' as timestamp)) evaluated. */
  private def literalOf(e: Expression): Option[Literal] = e match {
    case l: Literal => Some(l)
    case other =>
      try {
        if (other.resolved && other.foldable)
          Some(Literal(other.eval(), other.dataType))
        else other match {
          case c0: Cast if c0.child.isInstanceOf[Literal] =>
            val r = c0.withTimeZone("UTC") // session tz is pinned UTC
            if (r.resolved) Some(Literal(r.eval(), r.dataType)) else None
          case _ => None
        }
      } catch { case _: Exception => None }
  }

  /** `column IN (literal, …)`: the column and its literals. */
  private def inList(v: Expression, list: Seq[Expression])
      : Option[(String, Seq[Literal])] = attrOf(v).flatMap { a =>
    val ls = list.map(literalOf) // one pass: a runtime key set can be 10^5 long
    if (ls.forall(_.isDefined)) Some((a, ls.flatten)) else None
  }

  /** The value set each top-level `=` or `IN` conjunct restricts a column
    * to, in external (Scala) form. An `=` NULL yields no set; an IN keeps
    * its NULLs (both pruning rules that take value sets skip them). */
  def valueSets(tree: Expression): Seq[(String, Seq[Any])] =
    conjuncts(tree).flatMap {
      case EqualTo(l, r) => inList(l, Seq(r)).orElse(inList(r, Seq(l)))
        .filterNot(_._2.head.value == null)
      case In(v, list) => inList(v, list)
      case _ => None
    }.map { case (a, ls) =>
      (a, ls.map(l => CatalystTypeConverters.convertToScala(l.value, l.dataType)))
    }

  /** Top-level-AND range constraints (column, op, literal-value) from an
    * unresolved [[predicateTree]]; foldable non-attribute sides (literals,
    * casted literals) are evaluated here. */
  def rangeConstraints(tree: Expression): Seq[(String, String, Any)] = {
    def flip(op: String) = op match {
      case ">" => "<"; case ">=" => "<="; case "<" => ">"; case "<=" => ">="
      case o => o
    }
    // `column op literal` (either side), NULL literals dropped
    def comparison(e: Expression): Option[(String, String, Any)] = e match {
      case b: BinaryComparison if b.symbol != "<=>" =>
        inList(b.left, Seq(b.right)).map((_, b.symbol))
          .orElse(inList(b.right, Seq(b.left)).map((_, flip(b.symbol))))
          .collect { case ((a, Seq(v)), op) if v.value != null => (a, op, v.value) }
      case _ => None
    }
    // ---- OR-group envelopes (the reference grammar is AND of OR-groups over
    // single columns, docs/predicate.md): an OR (or IN-list) whose branches
    // all constrain ONE column collapses to a [lo, hi] envelope — sound for
    // pruning because the union of branch regions is contained in it.
    // Value comparisons are EXACT (long/long, decimal cross-numeric, UTF-8
    // binary); any doubt yields no envelope rather than a wrong one.
    def cmpValues(x: Any, y: Any): Option[Int] = (x, y) match {
      case (a: java.lang.Long, b: java.lang.Long) => Some(a.compareTo(b))
      case (a: java.lang.Integer, b: java.lang.Integer) => Some(a.compareTo(b))
      case (a: java.lang.Number, b: java.lang.Number) =>
        try Some(new java.math.BigDecimal(a.toString)
          .compareTo(new java.math.BigDecimal(b.toString)))
        catch { case _: NumberFormatException => None } // NaN/Infinity
      case (a: org.apache.spark.unsafe.types.UTF8String,
            b: org.apache.spark.unsafe.types.UTF8String) => Some(a.compareTo(b))
      case (a: String, b: String) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))
      case _ => None
    }
    def extreme(vs: Seq[Any], wantMin: Boolean): Option[Any] =
      vs.foldLeft(Option(vs.head)) { (acc, v) =>
        acc.flatMap(a => cmpValues(a, v).map(c =>
          if ((c <= 0) == wantMin) a else v))
      }
    type Env = (String, Option[Any], Option[Any]) // col, lo, hi (None = open)
    def boundsOfCmp(cmp: (String, String, Any)): Env = cmp match {
      case (a, "=", v) => (a, Some(v), Some(v))
      case (a, ">" | ">=", v) => (a, Some(v), None)
      case (a, _, v) => (a, None, Some(v)) // "<" | "<="
    }
    def inEnv(v: Expression, list: Seq[Expression]): Option[Env] =
      for {
        (a, ls) <- inList(v, list)
        vs = ls.map(_.value)
        if vs.nonEmpty && !vs.contains(null) // a runtime IN may carry no keys
        lo <- extreme(vs, wantMin = true)
        hi <- extreme(vs, wantMin = false)
      } yield (a, Some(lo), Some(hi))
    def env(e: Expression): Option[Env] = comparison(e).map(boundsOfCmp)
      .orElse(e match {
        case In(v, list) => inEnv(v, list)
        case Or(l, r) => orEnv(l, r)
        case And(l, r) => andEnv(l, r)
        case _ => None // incl. InSet: values already optimized to a set
      })
    // OR: the union's envelope — lo = min of los (open if either is open)
    def orEnv(l: Expression, r: Expression): Option[Env] =
      (env(l), env(r)) match {
        case (Some((a, lo1, hi1)), Some((b, lo2, hi2))) if a == b =>
          val lo = for { x <- lo1; y <- lo2; m <- extreme(Seq(x, y), true) } yield m
          val hi = for { x <- hi1; y <- hi2; m <- extreme(Seq(x, y), false) } yield m
          if (lo.isEmpty && hi.isEmpty) None else Some((a, lo, hi))
        case _ => None
      }
    // AND: the region is a subset of either child's envelope, so either is a
    // sound envelope; prefer an intersection when both constrain one column
    def andEnv(l: Expression, r: Expression): Option[Env] =
      (env(l), env(r)) match {
        case (Some((a, lo1, hi1)), Some((b, lo2, hi2))) if a == b =>
          val lo = (lo1 ++ lo2).reduceOption((x, y) =>
            extreme(Seq(x, y), wantMin = false).getOrElse(x))
          val hi = (hi1 ++ hi2).reduceOption((x, y) =>
            extreme(Seq(x, y), wantMin = true).getOrElse(x))
          Some((a, lo, hi))
        case (le, re) => le.orElse(re)
      }
    // each comparison as itself, OR-groups and IN-lists as their envelopes
    conjuncts(tree).flatMap(e => comparison(e).map(Seq(_)).getOrElse(
      env(e).toSeq.flatMap { case (a, lo, hi) =>
        lo.map(v => (a, ">=", v)).toSeq ++ hi.map(v => (a, "<=", v)).toSeq
      }))
  }
}
