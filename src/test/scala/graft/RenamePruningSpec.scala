package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._

/** Zone-map file pruning under lazy column renames: a file's stats are
  * keyed by its PHYSICAL column names, so a predicate on a logical column
  * must look them up through the file's rename map
  * (`FileEntry.physicalName`). Looking them up by logical name prunes the
  * file that holds the matching row. Every pruned read path is checked:
  * API `select` and `deleteWhere`, SQL `DELETE` (the API delete) and SQL
  * `UPDATE` (the row-level copy-on-write's group pruning). */
class RenamePruningSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", LongType), StructField("b", LongType)))

  /** One single-row table per check (each check mutates it), evolved by
    * `evolve` after the insert of (a=1, b=100); returns the catalog name
    * under which the SQL checks address it. */
  private def tables(tag: String, evolve: Table => Unit)
      : (VastSession, String) = {
    val root = Files.createTempDirectory(s"graft-renprune-$tag").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      Seq("sel", "del", "sqldel", "sqlupd").foreach { n =>
        m.createTable(n, schema).insert(spark.createDataFrame(
          java.util.List.of(Row(1L, 100L)), schema))
      }
    }
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      Seq("sel", "del", "sqldel", "sqlupd").foreach(n => evolve(m.table(n)))
    }
    val cat = s"grp$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (s, cat)
  }

  /** Runs the four checks for a predicate `c = v` that the single row
    * satisfies; `expected` is that row in logical column order and
    * `updated` the same row after `SET b = 7`. */
  private def checkAll(s: VastSession, cat: String, c: String, v: Long,
                       expected: Row, updated: Row): Unit = {
    val cols = s.transaction(tx => tx.bucket("bk").schema("m").table("sel")
      .manifest.schema.fieldNames.mkString(", "))
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val sel = m.table("sel").select(Nil, col(c) === v).collect().toSeq
      assert(sel == Seq(expected), s"API select pruned the match: $sel")
      m.table("del").deleteWhere(col(c) === v)
    }
    s.transaction { tx =>
      val left = tx.bucket("bk").schema("m").table("del").select().count()
      assert(left == 0, s"API deleteWhere kept $left matching rows")
    }
    spark.sql(s"DELETE FROM $cat.bk.m.sqldel WHERE $c = $v")
    val sqlLeft = spark.sql(s"SELECT count(*) FROM $cat.bk.m.sqldel")
      .head.getLong(0)
    assert(sqlLeft == 0, s"SQL DELETE kept $sqlLeft matching rows")
    spark.sql(s"UPDATE $cat.bk.m.sqlupd SET b = 7 WHERE $c = $v")
    val upd = spark.sql(s"SELECT $cols FROM $cat.bk.m.sqlupd").collect().toSeq
    assert(upd == Seq(updated), s"SQL UPDATE missed the match: $upd")
  }

  test("swapped column names prune by the physical column's stats") {
    // a→tmp, b→a, tmp→b: the file's renames are {a→b, b→a} and its stats
    // a:[1,1], b:[100,100]; the logical schema is (b, a) and a holds 100
    val (s, cat) = tables("swap", { t =>
      t.renameColumn("a", "tmp"); t.renameColumn("b", "a")
      t.renameColumn("tmp", "b")
    })
    s.transaction { tx =>
      val f = tx.bucket("bk").schema("m").table("sel").manifest.files.head
      assert(f.renames == Map("a" -> "b", "b" -> "a"), f.renames)
      assert(f.physicalName("a") == "b" && f.physicalName("b") == "a")
    }
    checkAll(s, cat, "a", 100L, expected = Row(1L, 100L),
      updated = Row(7L, 100L))
  }

  test("a column renamed onto a dropped name prunes by its own stats") {
    // drop b, then rename a→b: logical b is physical a (value 1); the
    // dropped physical b (value 100) is tombstoned
    val (s, cat) = tables("drop", { t =>
      t.dropColumn("b"); t.renameColumn("a", "b")
    })
    checkAll(s, cat, "b", 1L, expected = Row(1L),
      updated = Row(7L))
  }
}
