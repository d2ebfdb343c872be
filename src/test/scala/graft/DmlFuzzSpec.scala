package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._
import graft.types.TypeMapping.RowIdColumn

/**
 * Randomized DML fuzz: a seeded sequence of insert / update-by-rowid /
 * delete-by-rowid / compact operations applied both to a catalog table and
 * to an in-memory model; after every operation the table contents must
 * equal the model exactly. Exercises file-pruned copy-on-write across many
 * interleavings (the reference's select-then-mutate semantics under churn).
 */
class DmlFuzzSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("v", LongType), StructField("s", StringType)))

  test("random insert/update/delete sequences match an in-memory model") {
    val rnd = new scala.util.Random(1234)
    val s = VastSession(spark, Files.createTempDirectory("graft-fuzz").toString)
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", schema)
      val model = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, String)]
      var nextAuto = 0L

      def check(step: String): Unit = {
        val got = t.select(internalRowId = true)
          .select(RowIdColumn, "v", "s").collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
        assert(got == model.toMap,
          s"mismatch after $step: got=${got.size} rows, want=${model.size}")
      }

      for (step <- 1 to 25) {
        rnd.nextInt(4) match {
          case 0 => // insert 1-5 rows
            val n = rnd.nextInt(5) + 1
            val rows = (0 until n).map(i => Row(rnd.nextLong(1000), s"s$step-$i"))
            val l = new java.util.ArrayList[Row](); rows.foreach(l.add)
            val (lo, hi) = t.insert(spark.createDataFrame(l, schema))
            assert(lo == nextAuto, s"ids must be contiguous: $lo vs $nextAuto")
            rows.zipWithIndex.foreach { case (r, i) =>
              model(lo + i) = (r.getLong(0), r.getString(1))
            }
            nextAuto = hi
          case 1 if model.nonEmpty => // update a random subset's v
            val ids = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3) + 1)
            val nv = rnd.nextLong(1000)
            val l = new java.util.ArrayList[Row](); ids.foreach(id => l.add(Row(id, nv)))
            t.update(spark.createDataFrame(l, StructType(Seq(
              StructField(RowIdColumn, LongType), StructField("v", LongType)))))
            ids.foreach(id => model(id) = (nv, model(id)._2))
          case 2 if model.nonEmpty => // delete a random subset
            val ids = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3) + 1)
            val l = new java.util.ArrayList[Row](); ids.foreach(id => l.add(Row(id)))
            t.delete(spark.createDataFrame(l, StructType(Seq(
              StructField(RowIdColumn, LongType)))))
            ids.foreach(model.remove)
          case 3 => t.compact(targetRows = 6L)
          case _ => () // update/delete on empty table: no-op
        }
        check(s"step $step")
      }
      assert(model.nonEmpty) // the sequence actually built state
    }
  }

  test("sparse victim batch rewrites only the files that contain victims") {
    val s = VastSession(spark, Files.createTempDirectory("graft-sparse").toString)
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", schema)
      for (b <- 0 until 10) {
        val l = new java.util.ArrayList[Row]()
        (0 until 100).foreach(i => l.add(Row((b * 100 + i).toLong, s"b$b-$i")))
        t.insert(spark.createDataFrame(l, schema).coalesce(1))
      }
      val before = t.manifest.files.map(_.path).toSet
      assert(before.size == 10)
      // victims at the extreme ends, ids {0, 999}: the old global [lo, hi]
      // envelope intersected ALL 10 files and rewrote the whole table;
      // per-file membership must carry 8 files over untouched
      val u = new java.util.ArrayList[Row]()
      u.add(Row(0L, -1L)); u.add(Row(999L, -1L))
      t.update(spark.createDataFrame(u, StructType(Seq(
        StructField(RowIdColumn, LongType), StructField("v", LongType)))))
      val after = t.manifest.files.map(_.path).toSet
      assert((before intersect after).size == 8,
        s"update rewrote ${(before -- after).size} files, want 2")
      // delete of one mid-table victim touches exactly one file
      val d = new java.util.ArrayList[Row](); d.add(Row(500L))
      t.delete(spark.createDataFrame(d, StructType(Seq(
        StructField(RowIdColumn, LongType)))))
      val after2 = t.manifest.files.map(_.path).toSet
      assert((after intersect after2).size == after.size - 1,
        s"delete rewrote ${(after -- after2).size} files, want 1")
      // and the contents are right
      assert(t.select().count() == 999)
      assert(t.select(Seq("v"), col("v") === -1L).count() == 2)
    }
  }

  test("Dml.updateWhere: the condition and every assignment read the pre-update row") {
    val ab = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val df = spark.createDataFrame(java.util.List.of(Row(5L, 0L), Row(0L, 0L)), ab)
    // SQL: UPDATE … SET a = 0, b = a + 100 WHERE a > 1 — b sees the old a,
    // and the already-zeroed a must not switch the condition off for b
    val got = graft.dml.Dml.updateWhere(df, col("a") > 1L,
      scala.collection.immutable.ListMap("a" -> lit(0L), "b" -> (col("a") + 100L)))
    assert(got.columns.toSeq == Seq("a", "b"))
    assert(got.collect().toSeq == Seq(Row(0L, 105L), Row(0L, 0L)))
    // a key resolves like a SQL column name (case-insensitive by default,
    // dots literal); a key naming no column is an error, never a no-op
    val dotted = df.withColumnRenamed("b", "x.y")
    val upper = graft.dml.Dml.updateWhere(dotted, col("a") > 1L,
      Map("X.Y" -> lit(7L)))
    assert(upper.columns.toSeq == Seq("a", "x.y"))
    assert(upper.collect().toSeq == Seq(Row(5L, 7L), Row(0L, 0L)))
    intercept[IllegalArgumentException](
      graft.dml.Dml.updateWhere(df, col("a") > 1L, Map("c" -> lit(1L))))
  }
}
