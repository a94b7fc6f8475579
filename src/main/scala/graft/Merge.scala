package graft

/** `MERGE INTO` for the SQL session — the upsert primitive that completes
  * the mutation surface (INSERT / UPDATE / DELETE shipped in round 2).
  * Spark only supports MERGE on v2 tables with row-level-operation
  * support; on the session's bare-parquet warehouse tables it executes as
  * the same copy-on-write rewrite the other mutations use.
  *
  * Supported grammar (one clause of each kind, the common CDC shape):
  *
  * {{{
  * MERGE INTO t [[AS] a] USING (<query>) [AS] s | src_table [[AS] s]
  *   ON <condition>
  *   [WHEN MATCHED THEN UPDATE SET c = expr, …]   -- or: WHEN MATCHED THEN DELETE
  *   [WHEN NOT MATCHED THEN INSERT (c, …) VALUES (expr, …)]  -- or: INSERT *
  * }}}
  *
  * Semantics follow the SQL standard: all UPDATE expressions evaluate
  * against the (old target row, source row) pair; a target row matching
  * MORE THAN ONE source row is an error (the result would be
  * nondeterministic — the same rule Delta/DuckDB enforce); source rows
  * with a NULL/false condition are "not matched".
  */
private[graft] object Merge {

  sealed trait MatchedAction
  final case class UpdateAction(sets: Seq[(String, String)]) extends MatchedAction
  case object DeleteAction extends MatchedAction

  /** cols/values of `INSERT (…) VALUES (…)`; `None` = `INSERT *`. */
  final case class InsertAction(colsValues: Option[(Seq[String], Seq[String])])

  final case class MergeSpec(
      table: String, tableAlias: String,
      sourceSql: Either[String, String], // Left(table name) | Right(subquery text)
      sourceAlias: String,
      cond: String,
      matched: Option[MatchedAction],
      notMatched: Option[InsertAction])

  private val Head =
    """(?is)^\s*MERGE\s+INTO\s+([A-Za-z_][A-Za-z_0-9]*)(?:\s+(?:AS\s+)?([A-Za-z_][A-Za-z_0-9]*))?\s+USING\s+(.*)$""".r

  /** Parse `stmt` as MERGE, or None if it is not one. Malformed MERGE
    * throws (a statement that names the verb must not fall through to the
    * stock parser, which would produce a misleading error). */
  def parse(stmt: String): Option[MergeSpec] = stmt match {
    case Head(table, aliasOpt, rest) =>
      val tableAlias = Option(aliasOpt).getOrElse(table)
      // clauses cut at the top-level ON and WHENs: the walk nests CASE … END
      // and MATCH ( … END, whose own WHEN/THEN arms stay inside
      val w = new SqlLex.Walk(rest)
      val on = w.topLevel("ON").headOption.getOrElse(-1)
      require(on > 0, s"MERGE: expected ON <condition> in: $stmt")
      val whens = w.topLevel("WHEN").filter(_ > on)
      require(whens.nonEmpty, s"MERGE: expected at least one WHEN clause in: $stmt")
      // source: `(<query>) [AS] s` or `name [[AS] s]`, name maybe qualified
      val subquery = w.isPunct(0, '(')
      val nameEnd =
        if (subquery) w.close(0) + 1
        else Iterator.iterate(1)(_ + 2).find(i => !w.isPunct(i, '.') || i + 1 >= on).get
      require(nameEnd > 0 && nameEnd <= on, s"MERGE: unclosed source subquery: ${w.span(0, on)}")
      val source = w.span(0, nameEnd)
      val aliasWords = (nameEnd until on).map(i => w.span(i, i + 1)) match {
        case Seq(as, a) if as.equalsIgnoreCase("AS") => Seq(a)
        case words => words
      }
      val (sourceSql, sourceAlias) = (subquery, aliasWords) match {
        case (true, Seq()) => throw new IllegalArgumentException(
          "MERGE: a source subquery needs an alias")
        case (true, Seq(a)) => (Right(w.span(1, nameEnd - 1)), a)
        case (false, Seq()) => (Left(source), source)
        case (false, Seq(a)) => (Left(source), a)
        case _ => throw new IllegalArgumentException(
          s"MERGE: cannot parse source '${w.span(0, on)}'")
      }
      val cond = w.span(on + 1, whens.head)
      val clauses = whens.zip(whens.tail :+ w.toks.length)
        .map { case (a, b) => w.span(a, b).stripSuffix(";").trim }
      var matched: Option[MatchedAction] = None
      var notMatched: Option[InsertAction] = None
      val UpdateClause =
        """(?is)^WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+)$""".r
      val DeleteClause = """(?is)^WHEN\s+MATCHED\s+THEN\s+DELETE$""".r
      val InsertClause =
        """(?is)^WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+(.+)$""".r
      clauses.foreach {
        case UpdateClause(sets) =>
          require(matched.isEmpty, "MERGE: more than one WHEN MATCHED clause")
          val pairs = Sql.splitTopLevel(sets, ',').map { a =>
            a.split("=", 2) match {
              case Array(c, e) =>
                SqlLex.trim(c).stripPrefix("`").stripSuffix("`") -> e.trim
              case _ => throw new IllegalArgumentException(
                s"MERGE: bad SET assignment '$a'")
            }
          }
          matched = Some(UpdateAction(pairs))
        case c if DeleteClause.matches(c) =>
          require(matched.isEmpty, "MERGE: more than one WHEN MATCHED clause")
          matched = Some(DeleteAction)
        case InsertClause(ins) =>
          require(notMatched.isEmpty, "MERGE: more than one WHEN NOT MATCHED clause")
          val body = ins.trim
          if (body == "*") notMatched = Some(InsertAction(None))
          else {
            val vIdx = Sql.topLevelKeywordIndex(body, "VALUES")
            require(vIdx > 0, s"MERGE: expected INSERT (cols) VALUES (exprs), got: $body")
            def parenList(s: String): Seq[String] = {
              val t = SqlLex.trim(s)
              require(t.startsWith("(") && t.endsWith(")"),
                s"MERGE: expected a parenthesized list, got: $s")
              Sql.splitTopLevel(t.substring(1, t.length - 1), ',')
            }
            val cols = parenList(body.substring(0, vIdx))
              .map(_.stripPrefix("`").stripSuffix("`"))
            val values = parenList(body.substring(vIdx + 6))
            require(cols.length == values.length,
              s"MERGE: ${cols.length} insert columns vs ${values.length} values")
            notMatched = Some(InsertAction(Some((cols, values))))
          }
        case other =>
          throw new IllegalArgumentException(s"MERGE: cannot parse clause '$other'")
      }
      require(matched.nonEmpty || notMatched.nonEmpty,
        "MERGE: needs WHEN MATCHED and/or WHEN NOT MATCHED")
      Some(MergeSpec(table, tableAlias, sourceSql, sourceAlias, cond, matched, notMatched))
    case _ => None
  }
}
