package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL session entry point — the surface a user of the reference DBMS
  * lands on: all fixture tables registered as views, graft's extensions
  * injected (ADT grammar, vec_dot, TopK strategy), multi-statement
  * scripts, and a catalog that survives restarts (`GraftCatalog`).
  *
  * Usage:
  *   sbt "runMain graft.Sql SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1"
  *   sbt "runMain graft.Sql -f script.sql"     # ';'-separated statements
  *   java … graft.Sql < script.sql             # stdin (sbt swallows it)
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS,
  *      SPARK_GRAFT_WAREHOUSE (default ./spark-warehouse — `CREATE TABLE t
  *      USING parquet AS …` lands there and is visible in later runs).
  */
object Sql {

  /** Split a script on its ';' tokens, so literals and comments may
    * contain ';'. A statement keeps its comments; one that is only
    * comments is dropped. */
  def splitStatements(text: String): Seq[String] = {
    val semis = SqlLex.lex(text).collect { case SqlLex.Punct(p, _, ';') => p }
    (-1 +: semis).zip(semis :+ text.length)
      .map { case (a, b) => text.substring(a + 1, b).trim }
      .filter(SqlLex.lex(_).nonEmpty)
  }

  private val DeleteStmt =
    """(?is)^\s*DELETE\s+FROM\s+([A-Za-z_][A-Za-z_0-9]*)\s*(.*)$""".r
  private val UpdateStmt =
    """(?is)^\s*UPDATE\s+([A-Za-z_][A-Za-z_0-9]*)\s+SET\s+(.+)$""".r
  private val CreateMvStmt =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][A-Za-z_0-9]*)\s+AS\s+(.+)$""".r
  private val RefreshMvStmt =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][A-Za-z_0-9]*)\s*;?\s*$""".r
  private val DropMvStmt =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][A-Za-z_0-9]*)\s*;?\s*$""".r

  /** Character index of the first top-level word `kw` (see
    * [[SqlLex.Walk]]), or -1 — a regex would match a 'where' inside a
    * string literal, a comment, a subquery or a CASE expression. */
  private[graft] def topLevelKeywordIndex(text: String, kw: String): Int = {
    val w = new SqlLex.Walk(text)
    w.topLevel(kw).headOption.fold(-1)(w.toks(_).start)
  }

  /** Copy-on-write mutation of a warehouse table: compute the surviving /
    * updated rows, write them to a staging dir, swap it in, re-register.
    * This is exactly how DELETE/UPDATE work on immutable columnar storage
    * (Spark itself only supports them on v2 tables with row-level-op
    * support); the swap is not transactional — a crash between delete and
    * rename loses the table, which a production lakehouse would solve with
    * a format like the open table formats rather than bare parquet.
    */
  private def copyOnWrite(spark: SparkSession, warehouse: String, table: String)
                         (transform: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    // Spark lowercases catalog names when laying out the warehouse — the
    // user may type any case
    val dirName = table.toLowerCase
    val dir = Paths.get(warehouse, dirName)
    require(Files.isDirectory(dir), s"no warehouse table '$table' to mutate")
    // alias to the statement's table name so qualified references
    // (`WHERE t.k = 1`) resolve
    val before = spark.read.parquet(dir.toString).alias(table)
    val after = transform(before)
    val staging = Paths.get(warehouse, s"_staging_$dirName")
    after.write.mode("overwrite").parquet(staging.toString)
    // rows_after from the parquet FOOTERS, driver-side: the footer row
    // count is exact (written by the committer that just produced the
    // files), and it replaces a whole Spark count job per mutation —
    // stream_merge_upsert pays that job once per micro-batch (round-13).
    val n = scala.util.Using.resource(Files.list(staging)) { listing =>
      import scala.jdk.CollectionConverters._
      val conf = spark.sessionState.newHadoopConf()
      listing.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-") &&
                     p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
    }
    // swap: drop the old generation, move staging into place
    GraftCatalog.deleteRecursively(dir)
    Files.move(staging, dir)
    // refresh whichever registration this session has for the name, then
    // drop the shared file-status listing (see MvMaintain.invalidateListing
    // — the same stale-listing hazard applies to every summary overwrite)
    try spark.catalog.refreshTable(table) catch { case _: Exception => () }
    graft.plans.MvMaintain.invalidateListing(spark, dir.toString)
    spark.sql(s"SELECT CAST($n AS BIGINT) AS rows_after")
  }

  /** QUALIFY clause support (source-to-source, the same injection
    * altitude as the ADT grammar): Spark's parser has no QUALIFY, so a
    * top-level `... QUALIFY <pred> [ORDER BY …] [LIMIT …]` lowers to
    *
    *   SELECT * EXCEPT (__qual) FROM (
    *     SELECT __q.*, (<pred>) AS __qual FROM ( <head> ) AS __q
    *   ) WHERE __qual [ORDER BY …] [LIMIT …]
    *
    * which evaluates window functions in the predicate over the SELECT's
    * output rows — the standard QUALIFY semantics, with the documented
    * restriction that the predicate sees selected columns/aliases (not
    * dropped base columns). Subquery-level QUALIFY is out of scope: the
    * scan is depth-0 only.
    */
  private[graft] def rewriteQualify(text: String): String = {
    val w = new SqlLex.Walk(text)
    w.topLevel("QUALIFY").headOption match {
      case None => text
      case Some(q) =>
        val cut = (w.topLevel("ORDER") ++ w.topLevel("LIMIT")).filter(_ > q)
          .minOption.getOrElse(w.toks.length)
        val pred = w.span(q + 1, cut)
        require(pred.nonEmpty, s"QUALIFY: empty predicate in: $text")
        val head = text.substring(0, w.toks(q).start)
        val tail = text.substring(w.toks.lift(cut).fold(text.length)(_.start))
        s"""SELECT * EXCEPT (__qual) FROM (
           |SELECT __q.*, ($pred) AS __qual FROM ( $head ) AS __q
           |) WHERE __qual $tail""".stripMargin
    }
  }

  /** DISTINCT ON support (source-to-source, same altitude as QUALIFY):
    * Spark's parser has no `SELECT DISTINCT ON (keys) …`, so a top-level
    * occurrence lowers to the standard row_number() window —
    *
    *   SELECT * EXCEPT (__rn) FROM (
    *     SELECT __q.*, row_number() OVER (PARTITION BY keys
    *                                      ORDER BY sorts) AS __rn
    *     FROM ( SELECT … ) AS __q
    *   ) WHERE __rn = 1 ORDER BY sorts [LIMIT …]
    *
    * An ORDER BY is REQUIRED: it is what picks the row each group keeps
    * (DuckDB/Postgres without one keep an arbitrary row — a
    * nondeterminism this engine's oracle discipline forbids). Sort keys
    * must be selected columns (the same visibility QUALIFY has); the
    * scan is depth-0 only, like QUALIFY.
    */
  private[graft] def rewriteDistinctOn(text: String): String = {
    val w = new SqlLex.Walk(text)
    // ON must be its own word: a select item that merely starts with "on"
    // (ontime, only_id) is plain DISTINCT
    w.topLevel("DISTINCT").headOption.filter(d => w.isWord(d + 1, "ON")) match {
      case None => text
      case Some(d) =>
        require(w.isPunct(d + 2, '('), s"DISTINCT ON needs a parenthesized key list in: $text")
        val close = w.close(d + 2)
        require(close > 0, s"unbalanced parens in: $text")
        val keys = w.span(d + 3, close)
        require(keys.nonEmpty, s"DISTINCT ON: empty key list in: $text")
        val o = w.topLevel("ORDER").find(_ > close).getOrElse(
          throw new IllegalArgumentException(
            "DISTINCT ON without ORDER BY keeps an arbitrary row per group — " +
            s"add a total ORDER BY: $text"))
        require(w.isWord(o + 1, "BY"), s"expected BY after ORDER in: $text")
        val limit = w.topLevel("LIMIT").find(_ > o)
        val sorts = w.span(o + 2, limit.getOrElse(w.toks.length))
        val limitTail = limit.fold("")(l => " " + text.substring(w.toks(l).start))
        val inner = text.substring(0, w.toks(d).start) +
          text.substring(w.toks(close).end, w.toks(o).start)
        s"""SELECT * EXCEPT (__rn) FROM (
           |SELECT __q.*, row_number() OVER (PARTITION BY $keys ORDER BY $sorts) AS __rn
           |FROM ( $inner ) AS __q
           |) WHERE __rn = 1 ORDER BY $sorts$limitTail""".stripMargin
    }
  }

  /** Run SQL text through the ADT-aware path after lowering QUALIFY and
    * DISTINCT ON (no parser knows them natively). `AdtSql.sql` serves
    * sessions with and without the injected parser alike: its rewrite is
    * the identity on text it has already lowered. */
  private[graft] def runSql(spark: SparkSession, text: String): DataFrame =
    graft.adt.AdtSql.sql(spark, rewriteDistinctOn(rewriteQualify(text)))

  /** Execute one statement; a CREATE TYPE that passes the typechecker is
    * then recorded in the persistent catalog (recording first would
    * persist ill-typed declarations). DELETE/UPDATE on warehouse tables
    * run as copy-on-write rewrites. The statement dispatches on its text
    * from the first token, so comments may lead it. Returns the result
    * for rendering. */
  def execute(spark: SparkSession, warehouse: String, text: String): DataFrame = {
    val stmt = SqlLex.trim(text)
    def rewriteExpr(text: String): String =
      graft.adt.AdtSql.rewrite(spark, text)
    def runSql(text: String): DataFrame = Sql.runSql(spark, text)
    // A WHERE-less DELETE/UPDATE is legal SQL: it touches every row. WHERE
    // must be its own word — "WHEREX > 1" is a syntax error, not a
    // predicate on X.
    def predOf(rest: String): String = SqlLex.lex(rest) match {
      case Seq() => "true"
      case (w: SqlLex.Word) +: _ if w.text.equalsIgnoreCase("WHERE") =>
        rewriteExpr(SqlLex.trim(rest.substring(w.end)))
      case _ => throw new IllegalArgumentException(s"expected WHERE, got: ${rest.trim}")
    }
    Merge.parse(stmt) match {
      case Some(spec) => return executeMerge(spark, warehouse, spec)
      case None => ()
    }
    stmt match {
      // CREATE MATERIALIZED VIEW <name> AS <aggregate query>: run the
      // defining query, persist the summary under the warehouse, and
      // register it with the MvRewrite rule — from then on matching
      // aggregates over the same base are silently served from the
      // summary (see graft.plans.MvRewrite; dims/metrics are DERIVED
      // from the defining aggregate, which must carry a count(*) column)
      case CreateMvStmt(name, query) =>
        // a re-CREATE over a registered base must not have its defining
        // query rewritten onto the OLD summary — pull the stale def first
        graft.plans.MvCatalog.forget(spark, name)
        val defn = runSql(query)
        val dir = s"$warehouse/$name"
        defn.write.mode("overwrite").parquet(dir)
        // a re-CREATE overwrites the summary dir — drop any stale listing
        // this session holds for it (same hazard as DML copy-on-write)
        graft.plans.MvMaintain.invalidateListing(spark, dir)
        val scan = spark.read.parquet(dir)
        val basePlan = graft.plans.Mv.registerFromDefinition(name, defn, scan)
        graft.plans.MvCatalog.remember(spark, name, graft.plans.MvCatalog.NamedMv(
          query, dir, basePlan,
          graft.plans.MvMaintain.manifestOf(spark, basePlan),
          graft.plans.Mv.isFullyMergeable(defn)))
        graft.plans.Mv.enable(spark)
        scan
      // REFRESH merges the base's append-only DELTA into the summary when
      // provably safe (storage-backed base, mergeable aggregates, intact
      // manifest), and falls back to a full recompute otherwise — see
      // graft.plans.MvMaintain for the contract
      case RefreshMvStmt(name) =>
        graft.plans.MvMaintain.refresh(spark, name, runSql)
      case DropMvStmt(name) =>
        graft.plans.MvCatalog.recall(spark, name).getOrElse(
          throw new IllegalArgumentException(s"unknown materialized view: $name"))
        graft.plans.MvCatalog.forget(spark, name)
        spark.range(0).toDF("dropped")
      case DeleteStmt(table, rest) =>
        val pred = predOf(rest)
        // keep rows where the predicate is NOT TRUE: a NULL-valued
        // predicate must KEEP the row (plain NOT(pred) in a filter would
        // silently delete it — NULL is not TRUE but NOT(NULL) is NULL)
        copyOnWrite(spark, warehouse, table)(
          _.filter(s"NOT coalesce(($pred), false)"))
      case UpdateStmt(table, setsAndPred) =>
        val whereIdx = topLevelKeywordIndex(setsAndPred, "WHERE")
        val (setList, pred) =
          if (whereIdx < 0) (setsAndPred, "true")
          else (setsAndPred.substring(0, whereIdx), predOf(setsAndPred.substring(whereIdx)))
        val sets = splitTopLevel(setList, ',').map { a =>
          a.split("=", 2) match {
            // a backticked SET target is accepted and stored unquoted
            case Array(c, e) =>
              SqlLex.trim(c).stripPrefix("`").stripSuffix("`") -> rewriteExpr(e).trim
            case _ => throw new IllegalArgumentException(s"bad SET assignment '$a'")
          }
        }
        // SQL rejects assigning the same column twice in one UPDATE
        val dupes = sets.groupBy(_._1.toLowerCase).filter(_._2.length > 1).keys
        require(dupes.isEmpty, s"UPDATE: column(s) assigned more than once: ${dupes.mkString(", ")}")
        copyOnWrite(spark, warehouse, table) { df =>
          // ONE projection: SQL UPDATE evaluates every SET expression
          // against the OLD row, so assignments must not see each other.
          // Column matching is case-insensitive like the rest of Spark SQL;
          // generated references are backtick-quoted so any column name works.
          val resolved = sets.map { case (c, e) =>
            df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
              throw new IllegalArgumentException(s"UPDATE: no column '$c' in $table")) -> e
          }.toMap
          import org.apache.spark.sql.functions.{col, expr}
          df.select(df.columns.toIndexedSeq.map { c =>
            resolved.get(c) match {
              case Some(e) => expr(s"CASE WHEN ($pred) THEN ($e) ELSE `$c` END").as(c)
              case None => col(c)
            }
          }: _*)
        }
      case _ =>
        // A DROP VIEW that resolves to a TEMP view must not prune the
        // persistent record — the untouched catalog view survives the
        // session, so it must survive the restart too. Snapshot before
        // executing (the drop removes the evidence).
        val dropHitsTempView = GraftCatalog.dropViewName(stmt).exists { n =>
          try spark.catalog.tableExists(n) && spark.catalog.getTable(n).isTemporary
          catch { case _: Exception => false }
        }
        val result = runSql(stmt)
        if (graft.adt.AdtSql.isCreateType(stmt))
          GraftCatalog.recordType(warehouse, stmt)
        else if (GraftCatalog.isCreateView(stmt))
          GraftCatalog.recordView(warehouse, stmt)
        // record only ANALYZE of WAREHOUSE tables: analyzing a fixture temp
        // view succeeds in Spark but the view won't exist at restore time,
        // and a recorded statement with no DROP path would replay (and
        // re-scan) forever
        else if (GraftCatalog.analyzeTableName(stmt).exists(n =>
                   java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warehouse, n))))
          GraftCatalog.recordAnalyze(warehouse, stmt)
        else if (!dropHitsTempView)
          GraftCatalog.dropViewName(stmt).foreach(GraftCatalog.forgetView(warehouse, _))
        GraftCatalog.dropTableName(stmt).foreach(GraftCatalog.forgetTable(warehouse, _))
        result
    }
  }

  /** MERGE INTO as a copy-on-write rewrite (grammar and semantics:
    * [[Merge]]). The result set is assembled relationally from the frozen
    * before-image: untouched rows (anti join on matched ids) ∪
    * updated/kept matched rows ∪ inserted not-matched source rows.
    */
  private def executeMerge(spark: SparkSession, warehouse: String,
                           spec: Merge.MergeSpec): DataFrame =
    copyOnWrite(spark, warehouse, spec.table)(mergeResult(spark, _, spec))

  /** Assemble the MERGE result set from the before-image (pure relative to
    * the warehouse — `private[graft]` so plan gates can inspect the join
    * tree it builds without running a copy-on-write swap). */
  private[graft] def mergeResult(spark: SparkSession,
                                 before0: DataFrame,
                                 spec: Merge.MergeSpec): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, monotonically_increasing_id}
    def rw(text: String): String = graft.adt.AdtSql.rewrite(spark, text)
    // Freeze a synthetic row id so "matched" is decided against stable
    // identities: monotonically_increasing_id is plan-dependent, and the
    // before-image is referenced by several branches below — the eager
    // checkpoint pins one assignment for all of them.
    val before = before0.withColumn("__rid", monotonically_increasing_id())
      .localCheckpoint(true).alias(spec.tableAlias)
    val tCols = before.columns.filterNot(_ == "__rid").toIndexedSeq
    def tType(c: String) = before.schema(c).dataType
    // a SET/INSERT target column may be written qualified (`t.col`) —
    // accept the target alias or table name as a prefix
    def targetCol(c: String): String = {
      val bare = Seq(s"${spec.tableAlias}.", s"${spec.table}.")
        .collectFirst { case p if c.length > p.length && c.regionMatches(true, 0, p, 0, p.length) =>
          c.substring(p.length) }
        .getOrElse(c).trim.stripPrefix("`").stripSuffix("`")
      tCols.find(_.equalsIgnoreCase(bare)).getOrElse(
        throw new IllegalArgumentException(s"MERGE: no column '$c' in ${spec.table}"))
    }
    val src = (spec.sourceSql match {
      case Left(name) => spark.table(name)
      case Right(sql) => runSql(spark, sql)
    }).alias(spec.sourceAlias)
    def cond = expr(rw(spec.cond))
    val m = before.join(src, cond) // matched (target, source) pairs
    // SQL-standard guard: a target row matching more than one source row
    // makes UPDATE/DELETE nondeterministic — error, never pick one. An
    // insert-only merge is exempt (no matched action exists, so multiple
    // matches are harmless and legal).
    if (spec.matched.isDefined) {
      val dup = m.groupBy(col("__rid")).count()
        .filter(col("count") > 1).limit(1).count()
      require(dup == 0,
        s"MERGE: a ${spec.table} row matches more than one source row")
    }
    // qualified reference to the TARGET side of the join (source may
    // share column names)
    def tRef(c: String) = col(s"${spec.tableAlias}.`$c`")
    val survivors = spec.matched match {
      case None =>
        // no matched action: every target row survives unchanged
        before.select(tCols.map(c => col(s"`$c`")): _*)
      case Some(action) =>
        val matchedRids = m.select(col("__rid"))
        val untouched = before.join(matchedRids, Seq("__rid"), "left_anti")
          .select(tCols.map(c => col(s"`$c`")): _*)
        action match {
          case Merge.DeleteAction => untouched
          case Merge.UpdateAction(sets) =>
            val resolved = sets.map { case (c, e) => targetCol(c) -> rw(e) }
            val dupes = resolved.groupBy(_._1).filter(_._2.length > 1).keys
            require(dupes.isEmpty,
              s"MERGE: column(s) assigned more than once: ${dupes.mkString(", ")}")
            // ONE projection over the joined pair: every SET expression sees
            // the OLD target row and the source row (SQL UPDATE semantics)
            val rmap = resolved.toMap
            val updated = m.select(tCols.map { c =>
              rmap.get(c) match {
                case Some(e) => expr(e).cast(tType(c)).as(c)
                case None => tRef(c).as(c)
              }
            }: _*)
            untouched.unionAll(updated)
        }
    }
    spec.notMatched match {
      case None => survivors
      case Some(ins) =>
        val anti = src.join(before, cond, "left_anti")
        val inserted = ins.colsValues match {
          case None => // INSERT *: source columns matched by name
            anti.select(tCols.map { c =>
              src.columns.find(_.equalsIgnoreCase(c)) match {
                case Some(sc) => col(s"`$sc`").cast(tType(c)).as(c)
                case None => lit(null).cast(tType(c)).as(c)
              }
            }: _*)
          case Some((cols, values)) =>
            val vmap = cols.zip(values).map { case (c, v) => targetCol(c) -> v }.toMap
            require(vmap.size == cols.size,
              s"MERGE: duplicate insert column in (${cols.mkString(", ")})")
            anti.select(tCols.map { c =>
              vmap.get(c) match {
                case Some(v) => expr(rw(v)).cast(tType(c)).as(c)
                case None => lit(null).cast(tType(c)).as(c)
              }
            }: _*)
        }
        survivors.unionAll(inserted)
    }
  }

  /** Split on the top-level `sep` tokens; empty parts drop. */
  private[graft] def splitTopLevel(text: String, sep: Char): Seq[String] =
    new SqlLex.Walk(text).splitTop(sep).filter(_.nonEmpty)

  private def render(spark: SparkSession, df: DataFrame): Unit = {
    // Execute ONCE: limit+collect instead of count()-then-show(), which
    // would run the query (and any side effects) twice.
    val rows = df.limit(1001).collect()
    if (rows.isEmpty && df.schema.isEmpty) println("ok")
    else {
      val shown = rows.take(1000)
      spark.createDataFrame(
        java.util.Arrays.asList(shown: _*), df.schema).show(1000, truncate = false)
      if (rows.length > 1000) println("(more than 1000 rows; showing first 1000)")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val warehouse = sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "spark-warehouse")
    val spark = LocalSpark.sqlSurface(warehouse).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.views(spark, sfDir)
    val (tables, types) = GraftCatalog.restore(spark, warehouse)
    if (tables.nonEmpty) println(s"restored tables: ${tables.mkString(", ")}")
    if (types.nonEmpty) println(s"restored types: ${types.mkString(", ")}")
    val script = args match {
      case Array("-f", path) =>
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      case a if a.nonEmpty => a.mkString(" ")
      case _ => scala.io.Source.stdin.mkString
    }
    val statements = splitStatements(script)
    require(statements.nonEmpty, "usage: graft.Sql <statements> (or pipe SQL on stdin)")
    statements.foreach { stmt =>
      try render(spark, execute(spark, warehouse, stmt))
      catch { case e: Exception =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
        println(s"error: ${msg.linesIterator.take(3).mkString(" ")}")
      }
    }
    spark.stop()
  }
}
