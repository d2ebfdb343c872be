package graft

import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._
import graft.api.Manifest.FileEntry

/** Keep-conservative property of the one file planner (`Table.planFiles`):
  * over random predicates, every file that holds a row satisfying the
  * predicate is kept. Each file's real rows are the oracle, filtered by
  * Spark itself, so cross-type comparisons follow Spark's own casts.
  * Columns are long, string, date and timestamp; literals come in every
  * Java form `lit()` turns into Catalyst's internal ones
  * (Int/Long/Double/BigDecimal, String, LocalDate/java.sql.Date,
  * Instant/java.sql.Timestamp). The layouts are a bucketed table whose
  * files also carry rename maps, an unbucketed one with a rename and a drop
  * + re-add, and two whose string column holds integer text ("044", " 44")
  * compared with numbers as well as strings: one bucketed on that column,
  * one unbucketed with tight per-file zone maps on it. */
class FilePlanSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("d", DateType), StructField("t", TimestampType)))

  private val Day0 = 19000L
  private val Sec0 = 1700000000L

  // predicate AST, turned into a Column
  private sealed trait P
  private case class Cmp(c: String, op: String, v: Any, flipped: Boolean) extends P
  private case class InP(c: String, vs: Seq[Any]) extends P
  private case class AndP(l: P, r: P) extends P
  private case class OrP(l: P, r: P) extends P

  private def toColumn(p: P): Column = p match {
    case Cmp(c, op, v, flipped) =>
      val (l, r) = if (flipped) (lit(v), col(c)) else (col(c), lit(v))
      val o = if (!flipped) op else op match {
        case ">" => "<"; case ">=" => "<="; case "<" => ">"; case "<=" => ">="
        case x => x
      }
      o match {
        case "=" => l === r; case ">" => l > r; case ">=" => l >= r
        case "<" => l < r; case "<=" => l <= r
      }
    case InP(c, vs) => col(c).isin(vs: _*)
    case AndP(l, r) => toColumn(l) && toColumn(r)
    case OrP(l, r) => toColumn(l) || toColumn(r)
  }

  /** The string of row `k`: `n044` text, or (`numText`) integer text in
    * one of four spellings Spark casts back to 44 alike. */
  private def text(k: Long, numText: Boolean): String =
    if (!numText) f"n$k%03d"
    else (k % 4) match {
      case 0 => f"$k%03d"; case 1 => s"$k"; case 2 => s" $k"; case _ => s"$k "
    }

  /** A literal for column `c` in the Java form `kind` picks; a numeric
    * text column gets numbers as well as strings. */
  private def value(rnd: scala.util.Random, c: String, n: Int, kind: Int,
                    numText: Boolean): Any = {
    val x = rnd.nextInt(n + 10) - 5
    (c, kind % 2) match {
      case ("k", _) => kind match {
        case 0 => x.toLong
        case 1 => Integer.valueOf(x)
        case 2 => x + (if (rnd.nextBoolean()) 0.5 else 0.0)
        case _ => new java.math.BigDecimal(s"$x.${rnd.nextInt(2) * 5}")
      }
      case ("name", _) if numText && kind > 0 => value(rnd, "k", n, kind, numText)
      case ("name", _) => text(x, numText)
      case ("d", 0) => LocalDate.ofEpochDay(Day0 + x)
      case ("d", _) => java.sql.Date.valueOf(LocalDate.ofEpochDay(Day0 + x))
      case ("t", b) =>
        val i = Instant.ofEpochSecond(Sec0 + x * 60L, rnd.nextInt(3) * 500000000L)
        if (b == 0) i else java.sql.Timestamp.from(i)
    }
  }

  private def gen(rnd: scala.util.Random, n: Int, depth: Int, numText: Boolean): P = {
    if (depth > 0 && rnd.nextInt(3) == 0) {
      val (l, r) = (gen(rnd, n, depth - 1, numText), gen(rnd, n, depth - 1, numText))
      if (rnd.nextBoolean()) AndP(l, r) else OrP(l, r)
    } else {
      val c = Seq("k", "name", "d", "t")(rnd.nextInt(4))
      val kind = rnd.nextInt(4) // one Java form per leaf, so an IN is uniform
      if (rnd.nextInt(3) == 0)
        InP(c, Seq.fill(1 + rnd.nextInt(4))(
          if (rnd.nextInt(6) == 0) null else value(rnd, c, n, kind, numText)))
      else Cmp(c, Seq("=", ">", ">=", "<", "<=")(rnd.nextInt(5)),
        value(rnd, c, n, kind, numText), rnd.nextInt(4) == 0)
    }
  }

  /** Single-file inserts: file `i` holds k in [i*10, i*10+9] (some NULLs),
    * every other column derived from k, so each column's zone maps are
    * tight per file. */
  private def insertFiles(t: Table, from: Int, until: Int, rnd: scala.util.Random,
                          sName: String, numText: Boolean = false): Unit =
    (from until until).foreach { i =>
      val rows = new java.util.ArrayList[Row]()
      (0 until 10).foreach { j =>
        val k = i * 10L + j
        def orNull(v: Any) = if (k != 10 && rnd.nextInt(8) == 0) null else v
        rows.add(Row(orNull(k), orNull(text(k, numText)),
          orNull(java.sql.Date.valueOf(LocalDate.ofEpochDay(Day0 + k))),
          orNull(java.sql.Timestamp.from(Instant.ofEpochSecond(Sec0 + k * 60L)))))
      }
      val sch = StructType(schema.fields.map(f =>
        if (f.name == "s") f.copy(name = sName) else f))
      t.insert(spark.createDataFrame(rows, sch).coalesce(1))
    }

  /** Every file's rows, read under the file's own rename map and tagged
    * with the file's path in `__f`, as one local relation (a filter over it
    * is evaluated on the driver, with no job). */
  private def fileRows(tdir: java.nio.file.Path, m: Manifest.TableManifest): DataFrame = {
    val all = m.files.map { f =>
      val phys = StructType(m.schema.fields.map(x => x.copy(name = f.physicalName(x.name))))
      spark.read.schema(phys).parquet(Table.resolvePath(tdir, f.path))
        .toDF(m.schema.fieldNames: _*).withColumn("__f", lit(f.path))
    }.reduce(_ union _)
    spark.createDataFrame(all.collectAsList(), all.schema)
  }

  private def checkKeepsMatches(tdir: java.nio.file.Path, m: Manifest.TableManifest,
                                seed: Int, numText: Boolean = false): (Int, Int) = {
    val rows = fileRows(tdir, m)
    val n = rows.where(col("k").isNotNull).collect().length
    val rnd = new scala.util.Random(seed)
    var (kept, total) = (0, 0)
    (1 to 300).foreach { _ =>
      val p = gen(rnd, n, depth = 2, numText)
      val planned = Table.planFiles(m, toColumn(p)).map(_.path).toSet
      val matching = rows.where(toColumn(p)).select("__f").collect().map(_.getString(0)).toSet
      matching.foreach(f =>
        assert(planned(f), s"$p: dropped $f, which holds a matching row"))
      kept += planned.size; total += m.files.size
    }
    (kept, total)
  }

  test("the file planner keeps every file holding a matching row") {
    val root = Files.createTempDirectory("graft-fileplan").toString
    val s = VastSession(spark, root)
    s.createBucket("b")
    s.transaction(_.bucket("b").createSchema("m"))
    val rnd = new scala.util.Random(17)

    // bucketed on k, then a rename: files carry bucket ids AND rename maps
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").createTable("bk", schema)
      insertFiles(t, 0, 8, rnd, "s")
    }
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("bk")
      t.addBucketLayout(4, Seq("k"))
      t.optimizeBuckets(10)
    }
    s.transaction(_.bucket("b").schema("m").table("bk").renameColumn("s", "name"))

    // unbucketed: a rename, then a drop + re-add of d (old files null-fill
    // it through their tombstone), then more files under the new names
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").createTable("rn", schema)
      insertFiles(t, 0, 4, rnd, "s")
    }
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("rn")
      t.renameColumn("s", "name")
      t.dropColumn("d")
      t.addColumn(StructField("d", DateType))
    }
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("rn")
      val sch = StructType(Seq(StructField("k", LongType),
        StructField("name", StringType), StructField("t", TimestampType),
        StructField("d", DateType)))
      (4 until 8).foreach { i =>
        val rows = (0 until 10).map { j =>
          val k = i * 10L + j
          Row(k, f"n$k%03d", java.sql.Timestamp.from(Instant.ofEpochSecond(Sec0 + k * 60L)),
            java.sql.Date.valueOf(LocalDate.ofEpochDay(Day0 + k)))
        }
        t.insert(spark.createDataFrame(java.util.List.of(rows: _*), sch).coalesce(1))
      }
    }

    // integer text in the string column: bucketed on it, and unbucketed
    // with tight per-file zone maps on it
    val textSchema = StructType(schema.fields.map(f =>
      if (f.name == "s") f.copy(name = "name") else f))
    s.transaction { tx =>
      insertFiles(tx.bucket("b").schema("m").createTable("bs", textSchema),
        0, 8, rnd, "name", numText = true)
      insertFiles(tx.bucket("b").schema("m").createTable("ts", textSchema),
        0, 8, rnd, "name", numText = true)
    }
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("bs")
      t.addBucketLayout(4, Seq("name"))
      t.optimizeBuckets(10)
    }

    s.transaction { tx =>
      for ((name, seed) <- Seq("bk" -> 1, "rn" -> 2, "bs" -> 3, "ts" -> 4)) {
        val t = tx.bucket("b").schema("m").table(name)
        val m = t.manifest
        val tdir = Paths.get(root, "b", "m", name)
        name match {
          case "bk" => assert(m.files.size >= 8 &&
            m.files.forall(f => f.bucket >= 0 && f.renames.nonEmpty),
            s"bucketed layout drifted: ${m.files.map(f => (f.bucket, f.renames))}")
          case "rn" => assert(m.files.count(_.renames.nonEmpty) == 4, "rename layout drifted")
          case "bs" => assert(m.files.size >= 8 && m.files.forall(_.bucket >= 0),
            s"bucketed layout drifted: ${m.files.map(_.bucket)}")
          case _ => assert(m.files.size == 8, "text layout drifted")
        }
        val (kept, total) = checkKeepsMatches(tdir, m, seed,
          numText = name == "bs" || name == "ts")
        // not vacuous: the planner prunes on every layout (hash buckets
        // spread every column's range over all files, so only point
        // lookups on the bucket key prune there)
        val bound = if (name.startsWith("b")) total * 9 / 10 else total * 3 / 4
        assert(kept < bound, s"$name: planner kept $kept of $total files")
      }
      // a fractional bound on a long column is compared exactly, never
      // truncated: k < 10.5 and k > 9.5 both hold for k = 10
      val rn = tx.bucket("b").schema("m").table("rn").manifest
      val holds10 = rn.files.filter(f => f.colStats.get("k").exists(_.min == "10"))
      assert(holds10.size == 1, s"layout drifted: ${rn.files.map(_.colStats.get("k"))}")
      for (c <- Seq(col("k") < 10.5, col("k") > 9.5, col("k") < new java.math.BigDecimal("10.5"),
                    col("k") <= lit(10.0f), col("k").between(9.5, 10.5)))
        assert(Table.planFiles(rn, c).contains(holds10.head), s"$c dropped the file holding k = 10")
      // a number against a string column compares by casting the column
      // (" 10" = 10), so neither the number's hash bucket nor its string
      // order may prune a file
      for (name <- Seq("bs", "ts");
           c <- Seq(col("name") === 10, col("name").isin(10, 11), col("name") > 9.5)) {
        val m = tx.bucket("b").schema("m").table(name).manifest
        val matching = fileRows(Paths.get(root, "b", "m", name), m).where(c)
          .select("__f").collect().map(_.getString(0)).toSet
        val planned = Table.planFiles(m, c).map(_.path).toSet
        assert(matching.nonEmpty && matching.subsetOf(planned),
          s"$name: $c planned $planned, rows sit in $matching")
      }
      // the bucketed table prunes point lookups by bucket although its
      // zone maps on k span every file
      val bk = tx.bucket("b").schema("m").table("bk").manifest
      val point = Table.planFiles(bk, col("k") === 42L)
      assert(point.map(_.bucket).distinct.size <= 1,
        s"point lookup planned buckets ${point.map(_.bucket).distinct}")
      assert(Table.planFiles(bk, col("k").isin(42L, null)).map(_.path).toSet ==
        point.map(_.path).toSet)
      // an IN of only NULLs matches nothing; an `=` NULL prunes nothing
      assert(Table.planFiles(bk, col("k").isin(null)).isEmpty)
      assert(Table.planFiles(bk, col("k") === lit(null)).size == bk.files.size)
      // a runtime IN with no keys (an empty join build side) matches nothing
      val noKeys = org.apache.spark.sql.graftglue.GraftFilters
        .filterToColumn(org.apache.spark.sql.sources.In("k", Array.empty[Any])).get
      assert(Table.planFiles(bk, noKeys).isEmpty)
      assert(Table.planFiles(rn, noKeys).size == rn.files.size)
    }
  }
}
