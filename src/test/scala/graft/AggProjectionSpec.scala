package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._

import graft.api._

/** Materialized rollups (aggregate projections): covered GROUP BY queries
  * through the SQL catalog must be answered from the rollup files — and
  * only when that provably gives the base-table answer (fresh rollup,
  * dims-only filters, decomposable aggregates). Route detection reads the
  * optimized plan: a routed query scans a relation named `table$rollup`
  * over the `_proj/agg-` dir instead of the base files. */
class AggProjectionSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("flag", StringType), StructField("status", StringType),
    StructField("qty", LongType), StructField("price", DoubleType),
    StructField("amt", DecimalType(12, 2))))

  private var root: String = _
  private val cat = "gagg"

  private def seed(): VastSession = {
    root = Files.createTempDirectory("graft-aggproj").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val t = m.createTable("fact", schema)
      // three inserts = three file generations, so the rollup provably
      // merges partials across files
      (0 until 3).foreach { g =>
        val rows = new java.util.ArrayList[Row]()
        (0 until 2000).foreach { i =>
          val n = g * 2000 + i
          rows.add(Row(s"f${n % 3}", s"s${n % 2}", n.toLong % 97,
            (n % 1000) / 7.0, new java.math.BigDecimal(s"${n % 500}.25")))
        }
        t.insert(spark.createDataFrame(rows, schema))
      }
    }
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact")
        .createAggProjection("by_fs", Seq("flag", "status"),
          Seq("qty", "price", "amt"))
    }
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    s
  }

  /** Name of the rollup the optimized plan reads from, if any. */
  private def routedTo(df: DataFrame): Option[String] =
    df.queryExecution.optimizedPlan.collect {
      case sr: DataSourceV2ScanRelation
          if sr.relation.table.name.contains("$") =>
        sr.relation.table.name.split('$').last
    }.headOption

  /** Run `sql` routed and unrouted; both results and both schemas must
    * agree (double cells to 1e-9 — merge order differs by construction). */
  private def parity(sql: String, expectRoute: Boolean): Unit = {
    val routed = spark.sql(sql)
    assert(routedTo(routed) == (if (expectRoute) Some("by_fs") else None),
      s"route mismatch for: $sql\n${routed.queryExecution.optimizedPlan}")
    val direct = {
      spark.conf.set("spark.graft.aggProjection.enabled", "false")
      try {
        val d = spark.sql(sql)
        assert(routedTo(d).isEmpty)
        d.collect()
      } finally spark.conf.unset("spark.graft.aggProjection.enabled")
    }
    assert(routed.schema == spark.sql(sql).schema)
    val got = routed.collect()
    assert(got.length == direct.length, s"row counts differ for: $sql")
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.6f"
      case x => String.valueOf(x)
    }.mkString("|")
    got.sortBy(key).zip(direct.sortBy(key)).foreach { case (a, b) =>
      a.toSeq.zip(b.toSeq).foreach {
        case (x: Double, y: Double) =>
          assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
            s"$x vs $y in: $sql")
        case (x, y) => assert(x == y, s"$x vs $y in: $sql")
      }
    }
  }

  test("covered aggregates route to the rollup and agree with the base") {
    seed()
    // full dim set
    parity(s"""SELECT flag, status, sum(qty) AS sq, count(*) AS n,
              |min(price) AS mn, max(price) AS mx, avg(price) AS ap,
              |sum(amt) AS sa, count(price) AS cp
              |FROM $cat.bk.m.fact GROUP BY flag, status""".stripMargin,
      expectRoute = true)
    // SUBSET of dims re-aggregates partials
    parity(s"SELECT flag, sum(qty) AS sq, max(amt) AS mx FROM $cat.bk.m.fact" +
      " GROUP BY flag", expectRoute = true)
    // global aggregate (no GROUP BY)
    parity(s"SELECT sum(qty) AS sq, count(*) AS n, avg(price) AS ap" +
      s" FROM $cat.bk.m.fact", expectRoute = true)
    // dim-only filter applies to rollup rows
    parity(s"SELECT flag, sum(qty) AS sq FROM $cat.bk.m.fact" +
      " WHERE status = 's1' GROUP BY flag", expectRoute = true)
    // parents over the routed aggregate re-resolve (preserved exprIds):
    // HAVING, ORDER BY + LIMIT
    parity(s"SELECT flag, sum(qty) AS sq FROM $cat.bk.m.fact GROUP BY flag" +
      " HAVING count(*) > 10 ORDER BY sq DESC LIMIT 2", expectRoute = true)
    // empty-group edge: count must be 0, not null
    val empty = spark.sql(s"SELECT count(*) AS n, sum(qty) AS sq" +
      s" FROM $cat.bk.m.fact WHERE flag = 'nope'")
    assert(routedTo(empty).contains("by_fs"))
    val r = empty.collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }

  test("uncoverable queries stay on the base files") {
    // measure-referencing filter
    parity(s"SELECT flag, sum(qty) AS sq FROM $cat.bk.m.fact" +
      " WHERE qty > 50 GROUP BY flag", expectRoute = false)
    // DISTINCT aggregate
    parity(s"SELECT flag, count(DISTINCT status) AS n FROM $cat.bk.m.fact" +
      " GROUP BY flag", expectRoute = false)
    // aggregate over an expression, not a plain column
    parity(s"SELECT flag, sum(qty * 2) AS sq FROM $cat.bk.m.fact" +
      " GROUP BY flag", expectRoute = false)
    // non-dim grouping
    parity(s"SELECT qty, count(*) AS n FROM $cat.bk.m.fact GROUP BY qty",
      expectRoute = false)
    // decimal avg (precision promotion differs) stays on base
    parity(s"SELECT flag, avg(amt) AS aa FROM $cat.bk.m.fact GROUP BY flag",
      expectRoute = false)
    // non-deterministic filter: rand() has empty references so it covers
    // every rollup trivially, but evaluating it per GROUP instead of per
    // ROW flips the sampling semantics — must stay on base (no parity():
    // results are random by construction, only the route is asserted)
    assert(routedTo(spark.sql(s"SELECT flag, count(*) AS n" +
      s" FROM $cat.bk.m.fact WHERE rand() < 0.5 GROUP BY flag")).isEmpty,
      "non-deterministic filter routed to rollup")
  }

  test("DML stales the rollup; refresh re-enables; maintain refreshes") {
    val s = VastSession(spark, root)
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("fact")
      t.insert(spark.createDataFrame(
        java.util.List.of(Row("f9", "s9", 1000000L, 5.0,
          new java.math.BigDecimal("1.00"))), schema))
      assert(t.aggProjections.forall(_.stale))
    }
    // stale → base files serve, and the new row is visible
    val q = s"SELECT sum(qty) AS sq FROM $cat.bk.m.fact"
    assert(routedTo(spark.sql(q)).isEmpty)
    val afterInsert = spark.sql(q).collect().head.getLong(0)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").refreshAggProjection("by_fs")
    }
    val routed = spark.sql(q)
    assert(routedTo(routed).contains("by_fs"))
    assert(routed.collect().head.getLong(0) == afterInsert)
    // delete → stale again; maintain() refreshes everything stale
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("fact")
      t.deleteWhere(org.apache.spark.sql.functions.col("flag") === "f9")
    }
    assert(routedTo(spark.sql(q)).isEmpty)
    s.transaction { tx => tx.bucket("bk").schema("m").table("fact").maintain() }
    assert(routedTo(spark.sql(q)).contains("by_fs"))
    assert(spark.sql(q).collect().head.getLong(0) == afterInsert - 1000000L)
  }

  test("insert-only churn refreshes the rollup incrementally") {
    val s = VastSession(spark, root)
    s.transaction { tx =>
      val rows = new java.util.ArrayList[Row]()
      (0 until 100).foreach(i => rows.add(Row("f7", "s7", 10L, 1.5,
        new java.math.BigDecimal("2.50"))))
      tx.bucket("bk").schema("m").table("fact")
        .insert(spark.createDataFrame(rows, schema))
    }
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").refreshAggProjection("by_fs")
    }
    // the audit trail proves the refresh read ONLY the delta: the
    // incremental op records the added rows, not the table size
    s.transaction { tx =>
      val log = tx.auditLog()
        .filter(org.apache.spark.sql.functions.col("op") ===
          "refresh_agg_projection_incr")
        .orderBy(org.apache.spark.sql.functions.col("ts").desc)
      assert(log.count() >= 1)
      assert(log.select("rows").head().getLong(0) == 100L)
    }
    val df = spark.sql(s"SELECT sum(qty) AS sq, count(*) AS n" +
      s" FROM $cat.bk.m.fact WHERE flag = 'f7'")
    assert(routedTo(df).contains("by_fs"))
    val r = df.collect().head
    assert(r.getLong(0) == 1000L && r.getLong(1) == 100L)
    // a DELETE breaks append-only coverage → the next refresh is FULL
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact")
        .deleteWhere(org.apache.spark.sql.functions.col("flag") === "f7")
    }
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").refreshAggProjection("by_fs")
    }
    s.transaction { tx =>
      val ops = tx.auditLog()
        .filter(org.apache.spark.sql.functions.col("op")
          .startsWith("refresh_agg_projection"))
        .orderBy(org.apache.spark.sql.functions.col("ts").desc)
        .select("op").head().getString(0)
      assert(ops == "refresh_agg_projection", s"expected full refresh, got $ops")
    }
    val back = spark.sql(s"SELECT count(*) AS n FROM $cat.bk.m.fact" +
      " WHERE flag = 'f7'")
    assert(routedTo(back).contains("by_fs"))
    assert(back.collect().head.getLong(0) == 0L)
  }

  test("a table with a regular projection keeps rollup routing") {
    val s = VastSession(spark, root)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact")
        .createProjection("p_cols", Seq("flag", "qty"), Seq("flag"))
    }
    // loadTable now builds the projection-routing shape; aggregates must
    // still reach the rollup through it
    parity(s"SELECT flag, sum(qty) AS sq FROM $cat.bk.m.fact GROUP BY flag",
      expectRoute = true)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").dropProjection("p_cols")
    }
  }

  test("CUBE / ROLLUP / GROUPING SETS route through the re-parented Expand") {
    parity(s"""SELECT flag, status, sum(qty) AS sq, count(*) AS n,
              |max(price) AS mx FROM $cat.bk.m.fact
              |GROUP BY CUBE(flag, status)""".stripMargin, expectRoute = true)
    parity(s"SELECT flag, sum(qty) AS sq FROM $cat.bk.m.fact" +
      " GROUP BY ROLLUP(flag)", expectRoute = true)
    parity(s"""SELECT flag, status, avg(price) AS ap, grouping(flag) AS gf
              |FROM $cat.bk.m.fact
              |GROUP BY GROUPING SETS ((flag), (status), ())""".stripMargin,
      expectRoute = true)
    // dim filter below the Expand routes with it
    parity(s"SELECT flag, count(qty) AS n FROM $cat.bk.m.fact" +
      " WHERE status = 's0' GROUP BY CUBE(flag)", expectRoute = true)
    // a measure anywhere in the cube's grouping keeps it on the base files
    parity(s"SELECT qty, count(*) AS n FROM $cat.bk.m.fact" +
      " GROUP BY CUBE(qty)", expectRoute = false)
  }

  test("fuzz: random covered queries agree routed vs unrouted") {
    // the rewrite is plan surgery — drive it with 40 random query shapes
    // (deterministic seed) and require bit-level agreement with the base
    // plan on every one. Shapes mix: dim subsets (incl. none = global),
    // agg calls over both measures and types, optional dim filters.
    val rnd = new scala.util.Random(42)
    val dims = Seq("flag", "status")
    val aggs = Seq(
      "sum(qty)", "count(*)", "count(qty)", "min(qty)", "max(qty)",
      "avg(qty)", "sum(price)", "min(price)", "max(price)", "avg(price)",
      "count(price)", "sum(amt)", "min(amt)", "max(amt)", "count(amt)")
    (1 to 40).foreach { i =>
      val gs = dims.filter(_ => rnd.nextBoolean())
      val calls = (0 until 1 + rnd.nextInt(4))
        .map(_ => aggs(rnd.nextInt(aggs.size)))
        .distinct.zipWithIndex.map { case (a, j) => s"$a AS c$j" }
      val where =
        if (rnd.nextBoolean())
          s" WHERE ${dims(rnd.nextInt(dims.size))} ${
            if (rnd.nextBoolean()) "= 'f1'" else "IN ('f0','s1','f2')"}"
        else ""
      val groupBy =
        if (gs.isEmpty) ""
        else rnd.nextInt(3) match {
          case 0 => s" GROUP BY ${gs.mkString(", ")}"
          case 1 => s" GROUP BY CUBE(${gs.mkString(", ")})"
          case _ => s" GROUP BY ROLLUP(${gs.mkString(", ")})"
        }
      val sql = s"SELECT ${(gs ++ calls).mkString(", ")}" +
        s" FROM $cat.bk.m.fact$where$groupBy"
      parity(sql, expectRoute = true)
    }
  }

  test("vacuum reaps superseded rollup builds, keeps the live one") {
    val s = VastSession(spark, root)
    def aggDirs: Seq[String] = {
      val p = java.nio.file.Paths.get(root, "bk", "m", "fact", "_proj")
      if (!Files.isDirectory(p)) Nil
      else graft.api.Table.listDir(p).map(_.getFileName.toString)
        .filter(_.startsWith("agg-by_fs")).toSeq
    }
    // insert + refresh = a NEW build dir, orphaning the previous one
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").insert(spark.createDataFrame(
        java.util.List.of(Row("f1", "s1", 5L, 1.0,
          new java.math.BigDecimal("0.50"))), schema))
    }
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").refreshAggProjection("by_fs")
    }
    assert(aggDirs.size >= 2, s"expected an orphaned build, got $aggDirs")
    val expect = spark.sql(s"SELECT sum(qty) AS sq FROM $cat.bk.m.fact")
      .collect().head.getLong(0)
    s.transaction { tx =>
      val (_, _, projFiles) = tx.bucket("bk").schema("m").table("fact")
        .vacuumVersions(keepLast = 1, minAgeMillis = 0L)
      assert(projFiles > 0,
        "vacuum reported no projection build files reaped")
    }
    assert(aggDirs.size == 1, s"orphans survived vacuum: $aggDirs")
    // the LIVE build still serves, correctly
    val df = spark.sql(s"SELECT sum(qty) AS sq FROM $cat.bk.m.fact")
    assert(routedTo(df).contains("by_fs"))
    assert(df.collect().head.getLong(0) == expect)
  }

  test("rename-evolved tables route aggregates after a rollup rebuild") {
    val s = VastSession(spark, root)
    // rename a dim: base files now need rename maps (lazy rename), and the
    // rollup stales with its metadata moved to the new name
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("fact")
      t.renameColumn("flag", "category")
      assert(t.aggProjections.forall(_.stale))
    }
    assert(routedTo(spark.sql(
      s"SELECT category, count(*) AS n FROM $cat.bk.m.fact GROUP BY category"))
      .isEmpty, "stale rollup must not serve")
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").refreshAggProjection("by_fs")
    }
    // the table's files are rename-evolved (read per rename group) but the
    // rebuilt rollup is rename-free: covered aggregates route and agree
    parity(s"SELECT category, sum(qty) AS sq, count(*) AS n" +
      s" FROM $cat.bk.m.fact GROUP BY category", expectRoute = true)
    // restore the original name for any later test
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").renameColumn("category", "flag")
    }
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").refreshAggProjection("by_fs")
    }
  }

  test("CALL agg_projection manages rollups through SQL") {
    spark.sql(s"CALL $cat.system.agg_projection('bk.m.fact', 'by_flag', " +
      "'flag', 'qty')").collect()
    val df = spark.sql(s"SELECT flag, sum(qty) AS sq FROM $cat.bk.m.fact" +
      " GROUP BY flag")
    // two covering rollups now: the 1-dim one wins (fewer rows to merge)
    assert(routedTo(df).contains("by_flag"))
    spark.sql(s"CALL $cat.system.agg_projection('bk.m.fact', 'by_flag', " +
      "'', '', 'drop')").collect()
    assert(routedTo(spark.sql(s"SELECT flag, sum(qty) AS sq" +
      s" FROM $cat.bk.m.fact GROUP BY flag")).contains("by_fs"))
  }

  test("SQL row-level DML on a rollup-carrying table: correct, and stales it") {
    val s = VastSession(spark, root)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").refreshAggProjection("by_fs")
    }
    def apiCount(cond: org.apache.spark.sql.Column): Long = s.transaction(tx =>
      tx.bucket("bk").schema("m").table("fact")
        .select(Seq("flag"), cond).count())
    val before = apiCount(org.apache.spark.sql.functions.lit(true))
    val victims = apiCount(org.apache.spark.sql.functions.col("status") === "s0")
    assert(victims > 0)
    // the group-based DELETE plans its own scans/joins over the same
    // relation — the rewrite must never reach into them (its matcher only
    // fires on bare covered aggregates), and the delete must stale the
    // rollup so the next aggregate reads base files
    spark.sql(s"DELETE FROM $cat.bk.m.fact WHERE status = 's0'")
    val after = spark.sql(s"SELECT count(*) AS n FROM $cat.bk.m.fact")
    assert(routedTo(after).isEmpty, "stale rollup served after SQL DELETE")
    assert(after.collect().head.getLong(0) == before - victims)
    spark.sql(s"UPDATE $cat.bk.m.fact SET qty = qty + 1 WHERE flag = 'f1'")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.bk.m.fact")
      .collect().head.getLong(0) == before - victims)
    // maintenance restores routing over the post-DML contents
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("fact").refreshAggProjection("by_fs")
    }
    val routed = spark.sql(s"SELECT count(*) AS n FROM $cat.bk.m.fact")
    assert(routedTo(routed).contains("by_fs"))
    assert(routed.collect().head.getLong(0) == before - victims)
  }
}
