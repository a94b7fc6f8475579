package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The long-lived SQL session surface: multi-statement scripts, and a
  * catalog (tables + ADT types) that survives a session restart via the
  * warehouse filesystem (`GraftCatalog`) — the reference is a DBMS whose
  * CREATE TABLE / CREATE TYPE persist; this proves ours do too, with a
  * real stop-and-recreate of the SparkSession.
  */
class SqlSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  // graft.Sql's session: CBO on, so ANALYZE statistics are visible through
  // optimizedPlan.stats (rowCount is only propagated when CBO is enabled)
  private def freshSession(warehouse: String): SparkSession =
    SharedSpark.fresh(LocalSpark.sqlSurface(warehouse, 4))

  override def afterAll(): Unit = SharedSpark.release()

  test("splitStatements respects quotes and comments") {
    assert(Sql.splitStatements("SELECT 1; SELECT 2") == Seq("SELECT 1", "SELECT 2"))
    assert(Sql.splitStatements("SELECT 'a;b' AS x") == Seq("SELECT 'a;b' AS x"))
    assert(Sql.splitStatements("SELECT 1 -- trailing; not a split\n; SELECT 2;") ==
      Seq("SELECT 1 -- trailing; not a split", "SELECT 2"))
    assert(Sql.splitStatements("/* c1; */ SELECT 1;;") == Seq("/* c1; */ SELECT 1"))
  }

  // Every text-level rewrite reads the statement through one lexer: a
  // keyword, quote or paren inside a comment is never taken for SQL, a
  // comment before or inside a statement's keyword head does not defeat
  // statement dispatch, and only the ADT form `MATCH (` opens a block.
  test("comments anywhere and a column named match, across every rewrite") {
    val warehouse = Tables.scratchDir("graft_whlex").toString
    val s = freshSession(warehouse)
    Sql.execute(s, warehouse,
      "CREATE TABLE lex_t USING parquet AS SELECT id AS k, id * 10 AS v FROM range(4)").collect()
    def longs(sql: String): Seq[Seq[Long]] =
      Sql.runSql(s, sql).collect().map(r => r.toSeq.map(_.asInstanceOf[Long])).toSeq
    val rows: Seq[(String, () => Any, Any)] = Seq(
      ("topLevelKeywordIndex skips a keyword in a block comment",
        () => Sql.topLevelKeywordIndex("a = 1 /* where */ WHERE k = 2", "WHERE"), 18),
      ("rewriteQualify ignores a keyword in a line comment",
        () => Sql.rewriteQualify("SELECT a FROM t -- no qualify here\nORDER BY a"),
        "SELECT a FROM t -- no qualify here\nORDER BY a"),
      ("a '(' in a comment does not hide QUALIFY",
        () => longs("SELECT k FROM lex_t -- (see note\nQUALIFY k = 1"), Seq(Seq(1L))),
      ("Merge.parse reads past a comment before ON",
        () => Merge.parse("MERGE INTO t USING s -- when in doubt\nON t.k = s.k WHEN MATCHED THEN DELETE")
          .map(m => (m.sourceSql, m.sourceAlias, m.cond, m.matched)),
        Some((Left("s"), "s", "t.k = s.k", Some(Merge.DeleteAction)))),
      ("DISTINCT ON finds ORDER BY behind a comment",
        () => longs("SELECT DISTINCT ON (p) p, k FROM (SELECT k % 2 AS p, k FROM lex_t) " +
          "/* order matters */ ORDER BY p, k DESC"),
        Seq(Seq(0L, 2L), Seq(1L, 3L))),
      ("splitTopLevel does not split inside a comment",
        () => Sql.splitTopLevel("a = 1, b = 2 -- , c = 3", ','), Seq("a = 1", "b = 2")),
      ("a leading comment still dispatches MERGE",
        () => {
          Sql.execute(s, warehouse, "/* upsert */ MERGE INTO lex_t t USING (SELECT 1 AS k, 99 AS v) s " +
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v").collect()
          s.sql("SELECT v FROM lex_t WHERE k = 1").head().getLong(0)
        }, 99L),
      ("a leading comment still records CREATE VIEW for restart",
        () => {
          Sql.execute(s, warehouse, "-- keep\nCREATE VIEW lex_v AS SELECT k FROM lex_t")
          s.sql("DROP VIEW lex_v") // not through execute: the record stays
          GraftCatalog.restore(s, warehouse)
          s.catalog.tableExists("lex_v")
        }, true),
      ("a leading comment still records CREATE TYPE for restart",
        () => {
          Sql.execute(s, warehouse, "-- keep\nCREATE TYPE LexState = Up | Down")
          GraftCatalog.restore(s, warehouse)._2
        }, Seq("LexState")),
      ("a column named match opens no block",
        () => Merge.parse("MERGE INTO t USING s ON t.match = s.match WHEN MATCHED THEN DELETE")
          .map(m => (m.cond, m.matched)),
        Some(("t.match = s.match", Some(Merge.DeleteAction)))),
      // a comment inside each statement's keyword head
      ("MERGE /* x */ INTO",
        () => {
          Sql.execute(s, warehouse, "MERGE /* x */ INTO lex_t t USING (SELECT 2 AS k, 77 AS v) s " +
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v").collect()
          s.sql("SELECT v FROM lex_t WHERE k = 2").head().getLong(0)
        }, 77L),
      ("UPDATE t -- c SET",
        () => {
          Sql.execute(s, warehouse, "UPDATE lex_t -- c\nSET v = 55 WHERE k = 3").collect()
          s.sql("SELECT v FROM lex_t WHERE k = 3").head().getLong(0)
        }, 55L),
      ("DELETE /* x */ FROM",
        () => {
          Sql.execute(s, warehouse, "DELETE /* x */ FROM lex_t WHERE k = 0").collect()
          s.sql("SELECT count(*) FROM lex_t WHERE k = 0").head().getLong(0)
        }, 0L),
      ("CREATE /* x */ TYPE, recorded for restart",
        () => {
          Sql.execute(s, warehouse, "CREATE /* x */ TYPE LexDir = North | South")
          GraftCatalog.restore(s, warehouse)._2.contains("LexDir")
        }, true),
      ("CREATE /* x */ VIEW, recorded for restart",
        () => {
          Sql.execute(s, warehouse, "CREATE /* x */ VIEW lex_v2 AS SELECT k FROM lex_t")
          s.sql("DROP VIEW lex_v2")
          GraftCatalog.restore(s, warehouse)
          s.catalog.tableExists("lex_v2")
        }, true),
      ("CREATE VIEW IF /* x */ NOT EXISTS keeps the first record",
        () => {
          Sql.execute(s, warehouse, "CREATE VIEW lex_v3 AS SELECT k FROM lex_t")
          Sql.execute(s, warehouse, "CREATE VIEW IF /* x */ NOT EXISTS lex_v3 AS SELECT v FROM lex_t")
          s.sql("DROP VIEW lex_v3")
          GraftCatalog.restore(s, warehouse)
          val cols = s.table("lex_v3").columns.toSeq
          Sql.execute(s, warehouse, "DROP VIEW lex_v3")
          GraftCatalog.restore(s, warehouse)
          (cols, s.catalog.tableExists("lex_v3"))
        }, (Seq("k"), false)),
      ("DROP /* x */ VIEW, forgotten for restart",
        () => {
          Sql.execute(s, warehouse, "CREATE VIEW lex_v4 AS SELECT k FROM lex_t")
          Sql.execute(s, warehouse, "DROP /* x */ VIEW lex_v4")
          GraftCatalog.restore(s, warehouse)
          s.catalog.tableExists("lex_v4")
        }, false),
      ("DROP /* x */ TABLE, forgotten for restart",
        () => {
          s.range(3).write.parquet(s"$warehouse/lex_d")
          s.catalog.createTable("lex_d", s"$warehouse/lex_d", "parquet")
          Sql.execute(s, warehouse, "DROP /* x */ TABLE lex_d")
          GraftCatalog.restore(s, warehouse)._1.contains("lex_d")
        }, false),
      ("ANALYZE /* x */ TABLE, recorded for restart",
        () => {
          Sql.execute(s, warehouse, "ANALYZE /* x */ TABLE lex_t COMPUTE STATISTICS")
          val f = java.nio.file.Paths.get(warehouse, "_graft_stats.sql")
          java.nio.file.Files.exists(f) && java.nio.file.Files.readString(f).contains("lex_t")
        }, true),
      ("CREATE /* x */ MATERIALIZED VIEW",
        () => {
          Sql.execute(s, warehouse, "CREATE /* x */ MATERIALIZED VIEW lex_mv AS " +
            "SELECT k, count(*) AS n FROM lex_t GROUP BY k")
          graft.plans.MvCatalog.recall(s, "lex_mv").isDefined
        }, true),
      ("REFRESH /* x */ MATERIALIZED VIEW",
        () => Sql.execute(s, warehouse, "REFRESH /* x */ MATERIALIZED VIEW lex_mv").columns.toSeq,
        Seq("k", "n")),
      ("DROP /* x */ MATERIALIZED VIEW",
        () => {
          Sql.execute(s, warehouse, "CREATE MATERIALIZED VIEW lex_mv AS " +
            "SELECT k, count(*) AS n FROM lex_t GROUP BY k")
          Sql.execute(s, warehouse, "DROP /* x */ MATERIALIZED VIEW lex_mv")
          graft.plans.MvCatalog.recall(s, "lex_mv").isEmpty
        }, true))
    val wrong = rows.flatMap { case (what, got, want) =>
      scala.util.Try(got()) match {
        case scala.util.Success(v) if v == want => None
        case other => Some(s"$what: want $want, got $other")
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    s.stop()
  }

  test("tables and types persist across a session restart") {
    val warehouse = Tables.scratchDir("graft_wh").toString

    // session 1: create a table and a type through the session surface
    val s1 = freshSession(warehouse)
    Tables(s1, sf, "region").createOrReplaceTempView("region")
    Sql.execute(s1, warehouse,
      "CREATE TYPE Status = Ok | Err(msg TEXT)")
    Sql.execute(s1, warehouse,
      "CREATE TABLE saved_regions USING parquet AS SELECT r_regionkey, r_name FROM region")
      .collect()
    val expected = Tables(s1, sf, "region").count()

    // session 2: a genuinely new SparkSession; no fixture views registered —
    // everything must come back from the warehouse alone
    val s2 = freshSession(warehouse)
    val (tables, types) = GraftCatalog.restore(s2, warehouse)
    assert(tables.contains("saved_regions"), s"restored: $tables")
    assert(types.contains("Status"), s"restored types: $types")
    assert(s2.sql("SELECT count(*) AS n FROM saved_regions").head.getLong(0) == expected)
    // the replayed type is immediately usable in MATCH through plain SQL
    val m = s2.sql(
      "SELECT MATCH (Status.Err('boom')) WHEN Ok THEN 'fine' WHEN Err(m) THEN m END AS r")
    assert(m.head.getString(0) == "boom")

    // restored tables are REAL catalog tables: INSERT INTO appends at the
    // warehouse location, and a third session sees the appended row
    s2.sql("INSERT INTO saved_regions VALUES (99, 'APPENDED')")
    assert(s2.sql("SELECT count(*) AS n FROM saved_regions").head.getLong(0) == expected + 1)
    // a persistent VIEW (here one using the replayed ADT type) survives too
    Sql.execute(s2, warehouse,
      """CREATE VIEW region_states AS
        |SELECT r_regionkey,
        |  MATCH (Status.Err(r_name)) WHEN Ok THEN 'ok' WHEN Err(m) THEN m END AS st
        |FROM saved_regions""".stripMargin)
    val s3 = freshSession(warehouse)
    GraftCatalog.restore(s3, warehouse)
    assert(s3.sql("SELECT r_name FROM saved_regions WHERE r_regionkey = 99")
      .head.getString(0) == "APPENDED")
    assert(s3.sql("SELECT st FROM region_states WHERE r_regionkey = 99")
      .head.getString(0) == "APPENDED")
  }

  test("ANALYZE statistics persist across restart and reach the optimizer") {
    val warehouse = Tables.scratchDir("graft_whstats").toString
    val s1 = freshSession(warehouse)
    Tables(s1, sf, "orders").createOrReplaceTempView("orders")
    Sql.execute(s1, warehouse,
      "CREATE TABLE stats_orders USING parquet AS SELECT o_orderkey, o_custkey, o_totalprice FROM orders")
      .collect()
    val expected = Tables(s1, sf, "orders").count()
    Sql.execute(s1, warehouse,
      "ANALYZE TABLE stats_orders COMPUTE STATISTICS FOR ALL COLUMNS").collect()
    def optimizerRowCount(s: SparkSession): Option[BigInt] =
      s.table("stats_orders").queryExecution.optimizedPlan.stats.rowCount
    assert(optimizerRowCount(s1).contains(BigInt(expected)),
      s"expected rowCount=$expected in session 1, got ${optimizerRowCount(s1)}")

    // a fresh JVM-restart-equivalent session: stats must come back from the
    // recorded ANALYZE replay, not session memory
    val s2 = freshSession(warehouse)
    GraftCatalog.restore(s2, warehouse)
    assert(optimizerRowCount(s2).contains(BigInt(expected)),
      s"expected rowCount=$expected after restart, got ${optimizerRowCount(s2)}")

    // DROP TABLE forgets the recorded ANALYZE too — a later table of the
    // same name must not inherit stale statistics on restore
    Sql.execute(s2, warehouse, "DROP TABLE stats_orders")
    val s3 = freshSession(warehouse)
    val (tables, _) = GraftCatalog.restore(s3, warehouse)
    assert(!tables.contains("stats_orders"), s"dropped table restored: $tables")
    s3.stop()
  }

  test("ADT-typed columns persist through the warehouse and MATCH after restart") {
    val warehouse = Tables.scratchDir("graft_whadt").toString
    val s1 = freshSession(warehouse)
    Tables(s1, sf, "orders").createOrReplaceTempView("orders")
    Sql.execute(s1, warehouse, "CREATE TYPE Pay = Cash | Card(bank TEXT)")
    // the tagged-struct encoding is plain parquet — a CTAS with an ADT
    // constructor column round-trips storage like any other column
    Sql.execute(s1, warehouse,
      """CREATE TABLE pays USING parquet AS
        |SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 2 = 0 THEN Pay.Cash() ELSE Pay.Card('acme') END AS pay
        |FROM orders""".stripMargin).collect()
    val s2 = freshSession(warehouse)
    GraftCatalog.restore(s2, warehouse)
    // the restored TYPE and the restored TABLE compose: pattern match over
    // the stored tagged structs in a brand-new session
    val m = s2.sql(
      """SELECT MATCH (pay) WHEN Cash THEN 'cash' WHEN Card(b) THEN b END AS how,
        |count(*) AS n FROM pays GROUP BY 1 ORDER BY 1""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = Tables(s2, sf, "orders").count()
    assert(m.keySet == Set("acme", "cash"), m.toString)
    assert(m.values.sum == total, s"$m vs $total rows")
    s2.stop()
  }

  test("MERGE INTO upserts, deletes, and rejects multi-match sources") {
    val warehouse = Tables.scratchDir("graft_whmerge").toString
    val s1 = freshSession(warehouse)
    Tables(s1, sf, "region").createOrReplaceTempView("region")
    Sql.execute(s1, warehouse,
      "CREATE TABLE merged USING parquet AS SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS name FROM region")
      .collect()
    // 5 rows, keys 0..4. Upsert: update 0/1 from the source, insert 7.
    Sql.execute(s1, warehouse,
      """MERGE INTO merged t
        |USING (SELECT * FROM VALUES (0, 'ZERO'), (1, 'ONE'), (7, 'SEVEN') AS v(k, nm)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.nm
        |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.nm)""".stripMargin).collect()
    val after = s1.sql("SELECT k, name FROM merged ORDER BY k").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(after.length == 6, after.mkString(", "))
    assert(after.take(2).toSeq == Seq(0L -> "ZERO", 1L -> "ONE"))
    assert(after.last == 7L -> "SEVEN")
    // unmatched target rows (2, 3, 4) kept their original names
    assert(after.toMap.apply(2L) != null)

    // WHEN MATCHED THEN DELETE removes matched rows, INSERT * maps by name
    Sql.execute(s1, warehouse,
      """MERGE INTO merged USING (SELECT 7 AS k, 'X' AS name) s
        |ON merged.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin).collect()
    assert(s1.sql("SELECT count(*) FROM merged WHERE k = 7").head.getLong(0) == 0)
    Sql.execute(s1, warehouse,
      """MERGE INTO merged USING (SELECT 9 AS k, 'NINE' AS name) s
        |ON merged.k = s.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(s1.sql("SELECT name FROM merged WHERE k = 9").head.getString(0) == "NINE")

    // a target row matching two source rows is an ERROR, and the failed
    // merge must not have mutated the table (copy-on-write staging)
    val beforeCount = s1.sql("SELECT count(*) FROM merged").head.getLong(0)
    val err = intercept[Exception] {
      Sql.execute(s1, warehouse,
        """MERGE INTO merged USING (SELECT * FROM VALUES (0, 'A'), (0, 'B') AS v(k, nm)) s
          |ON merged.k = s.k
          |WHEN MATCHED THEN UPDATE SET name = s.nm""".stripMargin).collect()
    }
    assert(err.getMessage.contains("more than one source row"), err.getMessage)
    assert(s1.sql("SELECT count(*) FROM merged").head.getLong(0) == beforeCount)
    assert(s1.sql("SELECT name FROM merged WHERE k = 0").head.getString(0) == "ZERO")

    // an INSERT-ONLY merge tolerates multi-match sources (no matched action
    // → nothing nondeterministic), and CASE WHEN inside a clause expression
    // must not be mistaken for a WHEN clause boundary
    Sql.execute(s1, warehouse,
      """MERGE INTO merged USING (SELECT * FROM VALUES (0, 'A'), (0, 'B'), (11, 'ELEVEN') AS v(k, nm)) s
        |ON merged.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, name)
        |VALUES (s.k, CASE WHEN s.nm = 'ELEVEN' THEN 'XI' ELSE s.nm END)""".stripMargin).collect()
    assert(s1.sql("SELECT name FROM merged WHERE k = 11").head.getString(0) == "XI")
    assert(s1.sql("SELECT name FROM merged WHERE k = 0").head.getString(0) == "ZERO")
    Sql.execute(s1, warehouse,
      """MERGE INTO merged USING (SELECT 11 AS k, 'once' AS nm) s
        |ON merged.k = s.k
        |WHEN MATCHED THEN UPDATE SET `name` = CASE WHEN s.nm = 'once' THEN 'ONCE' ELSE merged.name END""".stripMargin)
      .collect()
    assert(s1.sql("SELECT name FROM merged WHERE k = 11").head.getString(0) == "ONCE")
    s1.stop()
  }

  test("mutation edge cases: NULL predicates, literals, drops, view order") {
    val warehouse = Tables.scratchDir("graft_edge").toString
    val s1 = freshSession(warehouse)
    Sql.execute(s1, warehouse,
      "CREATE TABLE e USING parquet AS SELECT * FROM VALUES (1, 'a where b'), (2, NULL), (3, 'x') AS t(k, v)")
    // DELETE must only remove rows where the predicate is TRUE — the
    // NULL-valued row survives (NOT(NULL) is NULL, not TRUE)
    Sql.execute(s1, warehouse, "DELETE FROM e WHERE v = 'x'")
    assert(s1.sql("SELECT count(*) AS n FROM e").head.getLong(0) == 2)
    // 'where' inside a string literal must not split the UPDATE
    Sql.execute(s1, warehouse, "UPDATE e SET v = 'still where-y' WHERE v = 'a where b'")
    assert(s1.sql("SELECT v FROM e WHERE k = 1").head.getString(0) == "still where-y")
    // WHERE-less forms touch every row
    Sql.execute(s1, warehouse, "UPDATE e SET k = k + 10")
    assert(s1.sql("SELECT min(k) AS m FROM e").head.getInt(0) == 11)
    Sql.execute(s1, warehouse, "DELETE FROM e")
    assert(s1.sql("SELECT count(*) AS n FROM e").head.getLong(0) == 0)

    // literal whitespace survives view persistence (no whitespace collapse)
    Sql.execute(s1, warehouse, "CREATE VIEW wsv AS SELECT 'a  b' AS s")
    // view redefinition keeps creation order so dependents still replay
    Sql.execute(s1, warehouse, "CREATE VIEW base AS SELECT 1 AS x")
    Sql.execute(s1, warehouse, "CREATE VIEW dep AS SELECT x + 1 AS y FROM base")
    Sql.execute(s1, warehouse, "CREATE OR REPLACE VIEW base AS SELECT 5 AS x")
    // dropping a table removes its directory: no resurrection after restart
    Sql.execute(s1, warehouse, "DROP TABLE e")

    // IF NOT EXISTS on an existing view is a no-op — the record must keep
    // the ORIGINAL definition, not the ignored new text
    Sql.execute(s1, warehouse, "CREATE VIEW IF NOT EXISTS wsv AS SELECT 'ignored' AS s")
    // qualified predicate references and mixed-case table names work
    Sql.execute(s1, warehouse,
      "CREATE TABLE QCase USING parquet AS SELECT * FROM VALUES (1), (2) AS t(k)")
    Sql.execute(s1, warehouse, "DELETE FROM QCase WHERE QCase.k = 1")
    assert(s1.sql("SELECT k FROM QCase").head.getInt(0) == 2)
    // duplicate SET targets are rejected; WHEREX is a syntax error
    intercept[IllegalArgumentException](
      Sql.execute(s1, warehouse, "UPDATE QCase SET k = 1, k = 2 WHERE k = 2"))
    intercept[IllegalArgumentException](
      Sql.execute(s1, warehouse, "DELETE FROM QCase WHEREX > 1"))
    // DROP VIEW hitting a TEMP view must not prune the persistent record
    s1.sql("CREATE TEMPORARY VIEW wsv AS SELECT 'temp' AS s")
    Sql.execute(s1, warehouse, "DROP VIEW wsv")

    val s2 = freshSession(warehouse)
    val (tables, _) = GraftCatalog.restore(s2, warehouse)
    assert(!tables.contains("e"), s"dropped table resurrected: $tables")
    assert(s2.sql("SELECT s FROM wsv").head.getString(0) == "a  b")
    assert(s2.sql("SELECT y FROM dep").head.getInt(0) == 6)
  }

  test("DELETE and UPDATE run as copy-on-write rewrites on warehouse tables") {
    val warehouse = Tables.scratchDir("graft_mut").toString
    val s1 = freshSession(warehouse)
    Tables(s1, sf, "region").createOrReplaceTempView("region")
    Sql.execute(s1, warehouse,
      "CREATE TABLE mut USING parquet AS SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region")
    // UPDATE: both assignments must read the OLD row (v gets old k's text)
    val up = Sql.execute(s1, warehouse,
      "UPDATE mut SET v = 'k' || CAST(k AS STRING), k = k + 100 WHERE k >= 3")
    assert(up.head.getLong(0) == 5) // rows_after
    val rows = s1.sql("SELECT k, v FROM mut ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.count(_._1 >= 100) == 2)
    assert(rows.contains((103L, "k3")) && rows.contains((104L, "k4")), rows.toSeq)
    val del = Sql.execute(s1, warehouse, "DELETE FROM mut WHERE k >= 100")
    assert(del.head.getLong(0) == 3)
    // the mutation is durable: a fresh session sees the post-mutation table
    val s2 = freshSession(warehouse)
    GraftCatalog.restore(s2, warehouse)
    assert(s2.sql("SELECT count(*) AS n FROM mut").head.getLong(0) == 3)
    assert(s2.sql("SELECT max(k) AS m FROM mut").head.getLong(0) == 2)
  }
}
