package graft.dml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.types.TypeMapping.RowIdColumn

/**
 * DML semantics (reference UPDATE/DELETE address cells by `$row_id`,
 * vastdb/table.py:779-843). Storage-level copy-on-write lives in the catalog
 * layer; these are the row-set transformations it applies, exposed also as
 * standalone operators:
 *
 *  - `updateWhere` — SET col = expr WHERE cond (predicate-addressed update)
 *  - `updateByRowId` — the reference's exact shape: a batch of
 *    (row_id, new values) merged into the table
 *  - `deleteWhere` / `deleteByRowId`
 *  - `withRowIds` — contiguous 0-based id assignment (reference allocates
 *    0..n-1 on first insert, vastdb/tests/util.py:175-180)
 *
 * All are narrow, shuffle-free except the id-join variants (key-partitioned
 * equi-join on `_row_id`); at scale the catalog prunes the join to only the
 * files containing touched row-id ranges (min/max `_row_id` per file).
 */
object Dml {

  /** UPDATE ... SET assignments WHERE cond, as a pure row transform. SQL
    * semantics: the condition and every assignment read the PRE-update row,
    * so one `select` sets all assigned columns at once (Spark evaluates the
    * shared condition once per row). An assignment key names a column of
    * `df` under the session's case sensitivity; a key naming no column, or
    * a column another key already names, is an error. */
  def updateWhere(df: DataFrame, cond: Column,
                  assignments: Map[String, Column]): DataFrame = {
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    val byCol = assignments.map { case (k, v) =>
      df.columns.find(resolver(_, k)).getOrElse(throw new IllegalArgumentException(
        s"UPDATE assigns unknown column $k (columns: ${df.columns.mkString(", ")})")) -> v
    }
    require(byCol.size == assignments.size,
      s"UPDATE assigns a column twice: ${assignments.keys.mkString(", ")}")
    // backticks: a column name may hold dots
    df.select(df.columns.toSeq.map { c =>
      val old = df.col("`" + c.replace("`", "``") + "`")
      byCol.get(c).fold(old)(v => when(cond, v).otherwise(old).as(c))
    }: _*)
  }

  /** DELETE WHERE cond — rows where cond is NULL are kept (SQL semantics). */
  def deleteWhere(df: DataFrame, cond: Column): DataFrame =
    df.filter(!coalesce(cond, lit(false)))

  /** Merge a batch of updated cells addressed by `_row_id`: `updates` has
    * `_row_id` plus a subset of columns; unmatched rows pass through. A
    * match marker (not coalesce) decides per row, so an explicitly supplied
    * NULL cell overwrites the stored value — the reference's UPDATE
    * semantics (supplied values replace, including null). */
  def updateByRowId(df: DataFrame, updates: DataFrame): DataFrame = {
    require(updates.columns.contains(RowIdColumn),
      s"updates must carry $RowIdColumn") // MissingRowIdColumn analog (errors.py:121)
    val upCols = updates.columns.filter(_ != RowIdColumn)
    val renamed = upCols.foldLeft(updates) { (d, c) =>
      d.withColumnRenamed(c, s"__new_$c")
    }.withColumn("__matched", lit(true))
    val joined = df.join(renamed, Seq(RowIdColumn), "left")
    upCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c,
          when(coalesce(col("__matched"), lit(false)), col(s"__new_$c"))
            .otherwise(col(c)))
        .drop(s"__new_$c")
    }.drop("__matched")
  }

  /** DELETE by `_row_id` batch — anti-join. */
  def deleteByRowId(df: DataFrame, victims: DataFrame): DataFrame =
    df.join(victims.select(RowIdColumn), Seq(RowIdColumn), "left_anti")

  /** Contiguous 0-based row ids in `orderCols` order. NOTE: a global
    * row_number is a single-partition bottleneck — correct for id *assignment
    * semantics parity*. The catalog's insert path does not use it: ids there
    * follow input order, from per-partition `zipWithIndex` offsets (one
    * counting job for a multi-partition batch; none for a small
    * driver-held batch, which is written as one partition). */
  def withRowIds(df: DataFrame, orderCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(orderCols.map(col): _*)
    df.withColumn(RowIdColumn, row_number().over(w).cast("long") - 1)
  }
}
