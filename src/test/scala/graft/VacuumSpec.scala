package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._

/** Version-retention vacuum: bounds storage under COW churn (every
  * UPDATE/DELETE orphans whole files into history) while never touching a
  * file any retained version or bucket snapshot still references. */
class VacuumSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", LongType), StructField("s", StringType)))

  /** Real data files only — vacuum also sweeps writer sidecars (`.crc`, and
    * `_SUCCESS` from Spark's own writes), which no manifest ever references. */
  private def dataFiles(tdir: java.nio.file.Path): Set[String] =
    Table.walkPaths(tdir.resolve("data"))
      .filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSet

  test("vacuumVersions drops history but keeps current + snapshot-referenced files") {
    val root = Files.createTempDirectory("graft-vac").toString
    val s = VastSession(spark, root)
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", schema)
      for (b <- 0 until 3) { // v1..v3, one file each
        val l = new java.util.ArrayList[Row]()
        (0 until 4).foreach(i => l.add(Row(b * 10L + i, s"v$b-$i")))
        t.insert(spark.createDataFrame(l, schema).coalesce(1))
      }
    }
    // snapshot pins the pre-churn file set
    s.transaction(tx => tx.bucket("b").createSnapshot("pin"))
    // COW churn: delete one row -> one file rewritten, old file orphaned
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("t")
      t.delete(t.select(Nil, col("a") === 11L, internalRowId = true)
        .select("_row_id"))
    }
    val tdir = Paths.get(root, "b", "m", "t")
    val before = dataFiles(tdir)

    var stats: (Int, Int, Int) = (0, 0, 0)
    s.transaction { tx =>
      stats = tx.bucket("b").schema("m").table("t")
        .vacuumVersions(keepLast = 1, minAgeMillis = 0L)
    }
    // the snapshot still references the pre-delete file, so no DATA file is
    // deletable (writer sidecars may sweep); manifests v0 (create) and v1
    // (the one insert commit) drop, current v2 (the delete) stays
    assert(stats._2 == 2, s"dropped ${stats._2} manifests, want 2")
    assert(dataFiles(tdir) == before,
      "vacuum touched a parquet file a snapshot still references")
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("t")
      assert(t.select().count() == 11)
      // time travel to a vacuumed version now fails
      intercept[Exception] { t.selectAt(1).count() }
      // the snapshot still reads the pinned state
      assert(tx.bucket("b").snapshot("pin").schema("m").table("t")
        .select().count() == 12)
    }

    // drop the snapshot reference: the next vacuum reclaims the orphan
    val snapDir = Paths.get(root, "b", ".snapshot", "pin")
    Table.deleteRecursively(snapDir)
    s.transaction { tx =>
      stats = tx.bucket("b").schema("m").table("t")
        .vacuumVersions(keepLast = 1, minAgeMillis = 0L)
    }
    assert(dataFiles(tdir).size == before.size - 1,
      s"want exactly the COW-orphaned parquet reclaimed: ${dataFiles(tdir)}")
    s.transaction { tx =>
      assert(tx.bucket("b").schema("m").table("t").select().count() == 11)
    }

    // age guard: a fresh unreferenced file (in-flight insert's staging) is
    // untouched when minAgeMillis is in force
    val staged = tdir.resolve("data").resolve("inflight-test.parquet")
    Files.write(staged, Array[Byte](1, 2, 3))
    s.transaction { tx =>
      stats = tx.bucket("b").schema("m").table("t")
        .vacuumVersions(keepLast = 1, minAgeMillis = 3600000L)
    }
    assert(stats._1 == 0 && Files.exists(staged),
      "age guard must protect files not yet in any manifest")
    Files.delete(staged)

    // ...and a fresh EMPTY dir (a distributed write's just-created staging
    // dir, momentarily empty while tasks spin up) survives the empty-dir
    // sweep the same way — deleting it mid-write would fail the insert
    val stagingDir = tdir.resolve("data").resolve("b-inflight-test")
    Files.createDirectory(stagingDir)
    s.transaction { tx =>
      tx.bucket("b").schema("m").table("t")
        .vacuumVersions(keepLast = 1, minAgeMillis = 3600000L)
    }
    assert(Files.isDirectory(stagingDir),
      "age guard must protect a concurrent write's empty staging dir")
    // with the guard off the same dir is reclaimed as before
    s.transaction { tx =>
      tx.bucket("b").schema("m").table("t")
        .vacuumVersions(keepLast = 1, minAgeMillis = 0L)
    }
    assert(!Files.exists(stagingDir), "empty-dir sweep stopped working")
  }
}
