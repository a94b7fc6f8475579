package graft.adt

import graft.SqlLex.{Punct, Tok, Walk, Word, lex}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL surface for the ADT layer — the reference engine's user-facing
  * grammar (user-defined sum types + pattern matching *in SQL*),
  * re-expressed as a source-to-source rewrite onto plain Spark SQL over the
  * `Adt` struct encoding (`STRUCT(tag, <variant payloads>)`).
  *
  * Grammar accepted on top of Spark SQL:
  * {{{
  *   CREATE TYPE OrderState = Open(priority STRING) | Shipped(d TIMESTAMP) | Returned
  *   OrderState.Open(o_orderpriority)        -- constructor, full ADT value
  *   MATCH (state)
  *     WHEN Open(p)    THEN 'open:' || p     -- binders are positional
  *     WHEN Shipped(d) THEN year(d)
  *     WHEN Returned   THEN 'returned'
  *   [ELSE expr] END
  * }}}
  *
  * Everything lowers to `named_struct` / `CASE WHEN` BEFORE parsing, so ADT
  * queries are ordinary Catalyst plans: optimized, codegen'd, and columnar
  * at rest exactly like the `Adt` combinator API (which produces the same
  * encoding — the two surfaces interoperate on the same columns).
  *
  * Typechecking happens at rewrite time, mirroring the reference's
  * typechecked SQL: unknown variants, wrong constructor/binder arity,
  * ambiguous or non-exhaustive matches are REJECTED with a compile-style
  * error before anything executes.
  *
  * Wiring: `GraftExtensions.injectParser` routes every `spark.sql` text
  * through [[rewrite]] (sessions built `withExtensions`, e.g. `graft.Sql`);
  * [[sql]] is the same path callable on any session.
  */
object AdtSql {

  /** One variant: constructor tag + named, Spark-DDL-typed payload fields.
    * In a parametric type's template the field-type text may reference the
    * type parameters by name; [[TypeDef.instantiate]] substitutes them. */
  final case class VariantDef(tag: String, fields: Seq[(String, String)]) {
    def fieldName: String = tag.toLowerCase
    /** DDL of the payload struct (payload-less variants carry `present`
      * so the parquet group is non-empty — same rule as `Adt.Variant`). */
    def structDdl: String =
      if (fields.isEmpty) "STRUCT<present: BOOLEAN>"
      else fields.map { case (n, t) => s"$n: $t" }.mkString("STRUCT<", ", ", ">")
  }

  /** `params` non-empty makes this a GENERIC template (`CREATE TYPE
    * Maybe<T> = Just(value T) | Nothing`): constructors must instantiate it
    * with concrete Spark-DDL type arguments (`Maybe<BIGINT>.Just(x)`),
    * while MATCH needs no instantiation at all — pattern lowering only
    * reads tags and payload accessors, which are parameter-independent. */
  final case class TypeDef(name: String, variants: Seq[VariantDef],
                           params: Seq[String] = Nil) {
    def variant(tag: String): Option[VariantDef] =
      variants.find(_.tag.equalsIgnoreCase(tag))

    /** Monomorphize: substitute each parameter word (case-insensitive,
      * whole-word so `T` never rewrites `TIMESTAMP`) with its concrete
      * type argument inside every field-type text. */
    def instantiate(typeArgs: Seq[String]): TypeDef = {
      if (typeArgs.length != params.length)
        fail(s"type $name takes ${params.length} type argument(s) " +
          s"<${params.mkString(", ")}>, got ${typeArgs.length}")
      val sub = params.map(_.toLowerCase).zip(typeArgs.map(_.trim)).toMap
      val word = "[A-Za-z_][A-Za-z_0-9]*".r
      def apply(t: String): String =
        word.replaceAllIn(t, m => java.util.regex.Matcher.quoteReplacement(
          sub.getOrElse(m.matched.toLowerCase, m.matched)))
      val mono = copy(
        name = s"$name<${typeArgs.mkString(", ")}>",
        variants = variants.map(v => v.copy(fields = v.fields.map {
          case (fn, ft) => fn -> apply(ft)
        })),
        params = Nil)
      // validate the substituted DDL eagerly — a bad type argument fails
      // at the constructor site with the instantiated type named
      mono.variants.foreach(_.fields.foreach { case (fn, ft) =>
        try org.apache.spark.sql.types.DataType.fromDDL(ft)
        catch { case e: Exception =>
          fail(s"${mono.name}: field $fn has bad instantiated type '$ft': ${e.getMessage}")
        }
      })
      mono
    }
  }

  /** Session-scoped type catalog (the reference's CREATE TYPE registers in
    * its database catalog; here types live for the SparkSession). */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), TypeDef]()

  def types(spark: SparkSession): Seq[TypeDef] = {
    registry.keySet.removeIf(_._1.sparkContext.isStopped)
    import scala.jdk.CollectionConverters._
    registry.asScala.collect { case ((s, _), td) if s eq spark => td }.toSeq
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"ADT type error: $msg")

  // ------------------------------------------------------------ CREATE TYPE

  /** Split type DDL on top-level commas. Besides the walk's parens
    * (DECIMAL(10,2)), '<' … '>' nest here (MAP<STRING, BIGINT>): only type
    * DDL treats them as brackets. */
  private def splitTypes(ddl: String): Seq[String] = {
    val w = new Walk(ddl)
    val angle = w.toks.scanLeft(0)(angleStep)
    w.split(0, w.toks.length)(i => w.depth(i) == 0 && angle(i) == 0 && w.isPunct(i, ','))
  }

  private def angleStep(d: Int, t: Tok): Int = t match {
    case Punct(_, _, '<') => d + 1
    case Punct(_, _, '>') => d - 1
    case _ => d
  }

  private val CreateType =
    """(?is)^\s*CREATE\s+TYPE\s+([A-Za-z_][A-Za-z_0-9]*)\s*(?:<\s*([A-Za-z_][A-Za-z_0-9]*(?:\s*,\s*[A-Za-z_][A-Za-z_0-9]*)*)\s*>)?\s*=\s*(.+?)\s*;?\s*$""".r

  /** Does this statement declare a type? (If so, [[sql]]/the injected parser
    * registers it instead of delegating the text to Spark.) */
  def isCreateType(text: String): Boolean = CreateType.matches(text)

  /** The declared type name, if the statement is a CREATE TYPE. */
  def createTypeName(text: String): Option[String] = text match {
    case CreateType(name, _, _) => Some(name)
    case _ => None
  }

  /** `TEXT` is the reference's string type name; everything else must be
    * Spark DDL, validated eagerly so a bad CREATE TYPE fails at declaration
    * (not first use). In a generic template, type-parameter words are
    * stand-ins: validation substitutes STRING for each parameter (any
    * parameter admits any concrete type, so one witness suffices) and the
    * raw text — parameters included — is what the template stores. */
  private def normType(t: String, params: Seq[String]): String = {
    val norm = if (t.trim.equalsIgnoreCase("text")) "STRING" else t.trim
    val probe =
      if (params.isEmpty) norm
      else {
        val ps = params.map(_.toLowerCase).toSet
        "[A-Za-z_][A-Za-z_0-9]*".r.replaceAllIn(norm,
          m => if (ps.contains(m.matched.toLowerCase)) "STRING" else m.matched)
      }
    try org.apache.spark.sql.types.DataType.fromDDL(probe)
    catch { case e: Exception => fail(s"bad field type '$t': ${e.getMessage}") }
    norm
  }

  /** Parse + register a CREATE TYPE statement; returns the TypeDef. */
  def createType(spark: SparkSession, text: String): TypeDef = text match {
    case CreateType(name, paramsTxt, body) =>
      val params: Seq[String] =
        if (paramsTxt == null) Nil
        else paramsTxt.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      if (params.map(_.toLowerCase).distinct.length != params.length)
        fail(s"duplicate type parameters in type $name<${params.mkString(", ")}>")
      // variants split on top-level '|'; each is `Tag` or `Tag(<fields>)`
      val variants = new Walk(body).splitTop('|').map { part =>
        val pw = new Walk(part)
        val n = pw.toks.length
        pw.toks.headOption.collect { case Word(_, _, t) if !t.head.isDigit => t } match {
          case Some(tag) if n == 1 => VariantDef(tag, Nil)
          case Some(tag) if pw.isPunct(1, '(') && pw.close(1) == n - 1 =>
            val fields = splitTypes(pw.span(2, n - 1)).filter(_.nonEmpty).map { f =>
              lex(f) match {
                case Word(_, _, fn) +: t +: _ => fn -> normType(f.substring(t.start), params)
                case _ => fail(s"variant $tag: field '$f' needs '<name> <type>'")
              }
            }
            if (fields.isEmpty) fail(s"variant $tag: empty payload list — drop the parens instead")
            VariantDef(tag, fields)
          case _ => fail(s"cannot parse variant '$part'")
        }
      }
      val tags = variants.map(_.tag.toLowerCase)
      if (tags.distinct != tags) fail(s"duplicate variant tags in type $name")
      if (tags.contains("tag")) fail(s"variant name 'tag' collides with the discriminator field")
      if (params.nonEmpty && variants.forall(_.fields.forall { case (_, ft) =>
            !lex(ft).exists { case Word(_, _, w) =>
              params.exists(_.equalsIgnoreCase(w)); case _ => false }
          }))
        fail(s"type $name<${params.mkString(", ")}> declares parameters " +
          "but no field uses them — drop the parameter list")
      val td = TypeDef(name, variants, params)
      registry.keySet.removeIf(_._1.sparkContext.isStopped)
      registry.put((spark, name.toLowerCase), td) // CREATE OR REPLACE semantics
      td
    case _ => fail(s"not a CREATE TYPE statement: $text")
  }

  // ---------------------------------------------------------- constructors

  /** The full-ADT `named_struct` literal text for one constructor call. */
  private def constructorSql(td: TypeDef, v: VariantDef, args: Seq[String]): String = {
    if (args.length != v.fields.length)
      fail(s"${td.name}.${v.tag} takes ${v.fields.length} argument(s), got ${args.length}")
    val payloads = td.variants.map { w =>
      val value =
        if (w.tag != v.tag) s"CAST(NULL AS ${w.structDdl})"
        else if (w.fields.isEmpty) "named_struct('present', true)"
        else w.fields.zip(args).map { case ((fn, ft), a) =>
          s"'$fn', CAST(($a) AS $ft)"
        }.mkString("named_struct(", ", ", ")")
      s"'${w.fieldName}', $value"
    }
    (s"'tag', '${v.tag}'" +: payloads).mkString("named_struct(", ", ", ")")
  }

  /** The argument texts of the call whose '(' is token `open`, and the
    * index of its ')'. */
  private def callArgs(w: Walk, open: Int): (Seq[String], Int) = {
    val close = w.close(open)
    if (close < 0) fail("unbalanced parentheses")
    val args =
      if (close == open + 1) Nil
      else w.split(open + 1, close)(i => w.depth(i) == w.depth(open) + 1 && w.isPunct(i, ','))
    (args, close)
  }

  /** Index just past the '>' closing the '<' at token `open`, or -1 if
    * none closes it (then the '<' was a comparison, not type arguments).
    * Type-argument DDL contains no comparison operators. */
  private def closeAngle(w: Walk, open: Int): Int =
    w.toks.drop(open).scanLeft(0)(angleStep).indexWhere(_ == 0, 1) match {
      case -1 => -1
      case k => open + k
    }

  /** Rewrite the FIRST `TypeName.Variant(args)` or
    * `TypeName<TypeArgs>.Variant(args)` call; None if there is none. A
    * generic template instantiates at each constructor site (the
    * turbofish discipline: the writer names the payload type, nothing is
    * inferred), and distinct instantiations coexist freely — each call
    * emits its own concrete struct DDL. */
  private def rewriteOneConstructor(spark: SparkSession, text: String): Option[String] = {
    val w = new Walk(text)
    val toks = w.toks
    def typeAt(j: Int): Option[TypeDef] = toks(j) match {
      case Word(_, _, tn) => Option(registry.get((spark, tn.toLowerCase)))
      case _ => None
    }
    // `.Variant(` starting at token `dot`: the variant name
    def variantAt(dot: Int): Option[String] = toks.lift(dot + 1) match {
      case Some(Word(_, _, vt)) if w.isPunct(dot, '.') && w.isPunct(dot + 2, '(') => Some(vt)
      case _ => None
    }
    // the text with the call from token `from` to the ')' after `dot` lowered
    def lower(td: TypeDef, from: Int, dot: Int, vt: String): String = {
      val v = td.variant(vt).getOrElse(
        fail(s"type ${td.name} has no variant $vt (has: ${td.variants.map(_.tag).mkString(", ")})"))
      val (args, close) = callArgs(w, dot + 2)
      text.substring(0, toks(from).start) + constructorSql(td, v, args) + text.substring(toks(close).end)
    }
    // generic form: Type '<' … '>' '.' Variant '('
    val generic = toks.indices.iterator.flatMap { j =>
      typeAt(j).filter(td => td.params.nonEmpty && w.isPunct(j + 1, '<')).flatMap { td =>
        val gEnd = closeAngle(w, j + 1)
        // no '.Variant(' after a closing '>': a '<' comparison against a
        // column named like the type
        (if (gEnd > 0) variantAt(gEnd) else None).map { vt =>
          if (gEnd == j + 3) fail(s"type ${td.name} needs type arguments")
          lower(td.instantiate(splitTypes(w.span(j + 2, gEnd - 1))), j, gEnd, vt)
        }
      }
    }
    val plain = toks.indices.iterator.flatMap { j =>
      variantAt(j + 1).flatMap(vt => typeAt(j).map { td =>
        if (td.params.nonEmpty)
          fail(s"type ${td.name} is generic over <${td.params.mkString(", ")}> — " +
            s"instantiate the constructor: ${td.name}<…>.$vt(…)")
        lower(td, j, j + 1, vt)
      })
    }
    (generic ++ plain).nextOption()
  }

  // ----------------------------------------------------------------- MATCH

  private final case class Arm(tag: String, binders: Seq[String], body: String)

  /** Rewrite the FIRST (leftmost) `MATCH (subj) WHEN … END`; None if absent.
    * Its arms sit one level inside it; nested MATCH/CASE blocks in arm
    * bodies sit deeper and are rewritten on later fixpoint passes.
    */
  private def rewriteOneMatch(spark: SparkSession, text: String): Option[String] = {
    val w = new Walk(text)
    val toks = w.toks
    toks.indices.find(m => w.isWord(m, "MATCH") && w.isPunct(m + 1, '(')).map { m =>
      val subjEnd = w.close(m + 1)
      val end = w.close(m)
      if (subjEnd < 0 || !w.isWord(end, "END")) fail("MATCH without closing END")
      // WHEN Tag[(b,…)] THEN body … [ELSE body] END
      val marks = (subjEnd + 1 until end).filter(i =>
        w.depth(i) == w.depth(m) + 1 && (w.isWord(i, "WHEN") || w.isWord(i, "ELSE")))
      if (!w.isWord(subjEnd + 1, "WHEN")) fail("MATCH needs at least one WHEN arm")
      if (marks.init.exists(w.isWord(_, "ELSE"))) fail("ELSE must be the last MATCH arm")
      def body(from: Int, until: Int): String = w.span(from, until) match {
        case "" => fail("empty MATCH arm body")
        case b => b
      }
      val arms = marks.zip(marks.tail :+ end).collect { case (a, next) if w.isWord(a, "WHEN") =>
        val tag = toks(a + 1) match {
          case Word(_, _, t) => t
          case _ => fail("WHEN must name a variant")
        }
        val thenAt = if (w.isPunct(a + 2, '(')) w.close(a + 2) + 1 else a + 2
        val binders = toks.slice(a + 3, thenAt - 1).filter {
          case Punct(_, _, ',') => false
          case _ => true
        }.map {
          case Word(_, _, b) => b
          case t => fail(s"binder list may only contain names: '${text.substring(t.start, t.end)}'")
        }
        if (!w.isWord(thenAt, "THEN")) fail(s"expected THEN after WHEN $tag")
        Arm(tag, binders, body(thenAt + 1, next))
      }
      val elseBody = marks.lastOption.filter(w.isWord(_, "ELSE")).map(e => body(e + 1, end))
      text.substring(0, toks(m).start) +
        lowerMatch(spark, w.span(m + 1, subjEnd + 1), arms, elseBody) +
        text.substring(toks(end).end)
    }
  }

  /** Type-resolve the arms against the session catalog and emit the CASE.
    *
    * The subject text is interpolated into each arm's tag test and payload
    * accessor; Catalyst's subexpression elimination collapses the duplicate
    * evaluations of a deterministic subject inside codegen, but a
    * NON-deterministic subject would be genuinely re-evaluated — tag test
    * and payload could disagree — so those are rejected here.
    */
  private val NonDeterministicFns =
    Seq("rand", "randn", "random", "uuid", "shuffle", "monotonically_increasing_id")
  private def lowerMatch(spark: SparkSession, subj: String,
                         arms: Seq[Arm], elseBody: Option[String]): String = {
    val subjWords = lex(subj).collect { case Word(_, _, w) => w.toLowerCase }.toSet
    val nd = NonDeterministicFns.filter(subjWords.contains)
    if (nd.nonEmpty) fail(
      s"MATCH subject must be deterministic (found ${nd.mkString(", ")}): " +
      "its text is evaluated per arm, so a random subject could match one " +
      "arm's tag and read another's payload — bind it in a subquery first")
    val sessionTypes = types(spark)
    if (sessionTypes.isEmpty) fail("no types declared — CREATE TYPE first")
    val candidates = sessionTypes.filter(td => arms.forall(a => td.variant(a.tag).isDefined))
    val td = candidates match {
      case Seq(one) => one
      case Seq() => fail(
        s"no declared type has variants {${arms.map(_.tag).mkString(", ")}} " +
        s"(declared: ${sessionTypes.map(t => t.name + " = " + t.variants.map(_.tag).mkString(" | ")).mkString("; ")})")
      case many => fail(s"ambiguous MATCH: variants fit ${many.map(_.name).mkString(" and ")}")
    }
    val seen = arms.map(_.tag.toLowerCase)
    if (seen.distinct != seen) fail(s"duplicate MATCH arm in {${arms.map(_.tag).mkString(", ")}}")
    if (elseBody.isEmpty) {
      val missing = td.variants.map(_.tag).filterNot(t => seen.contains(t.toLowerCase))
      if (missing.nonEmpty) fail(
        s"non-exhaustive MATCH on ${td.name}: missing ${missing.mkString(", ")} (add arms or ELSE)")
    }
    val cases = arms.map { a =>
      val v = td.variant(a.tag).get
      if (a.binders.length != v.fields.length) fail(
        s"${td.name}.${v.tag} has ${v.fields.length} payload field(s), pattern binds ${a.binders.length}")
      // positional binder → payload field accessor, substituted word-wise
      // (opaque string literals are never touched; a binder shadows any
      // same-named column inside its own arm, as in the reference). A word
      // preceded by '.' is a qualified/field reference and one followed by
      // '(' is a function-call head — neither is a binder occurrence.
      val sub = a.binders.zip(v.fields).map { case (b, (fn, _)) =>
        b.toLowerCase -> s"($subj).${v.fieldName}.$fn"
      }.toMap
      val body =
        if (sub.isEmpty) a.body
        else {
          val bw = new Walk(a.body)
          val sb = new StringBuilder
          var pos = 0
          for (idx <- bw.toks.indices) bw.toks(idx) match {
            case Word(s0, e0, wtx) if sub.contains(wtx.toLowerCase) &&
                !bw.isPunct(idx - 1, '.') && !bw.isPunct(idx + 1, '(') =>
              sb.append(a.body.substring(pos, s0)).append(sub(wtx.toLowerCase)); pos = e0
            case _ =>
          }
          sb.append(a.body.substring(pos)).toString
        }
      s"WHEN ($subj).tag = '${v.tag}' THEN $body"
    }
    (Seq("CASE") ++ cases ++ elseBody.map(b => s"ELSE $b").toSeq ++ Seq("END")).mkString(" ")
  }

  // ------------------------------------------------------------ public API

  /** Lower all ADT syntax in a query text to plain Spark SQL (identity for
    * text using no ADT constructs). Fixpoint over constructor and MATCH
    * rewrites so nested uses resolve inside-out.
    */
  def rewrite(spark: SparkSession, text: String): String = {
    var cur = text
    var changed = true
    var rounds = 0
    while (changed) {
      changed = false
      rewriteOneConstructor(spark, cur).foreach { t => cur = t; changed = true }
      rewriteOneMatch(spark, cur).foreach { t => cur = t; changed = true }
      rounds += 1
      if (rounds > 200) fail("ADT rewrite did not terminate (malformed nesting?)")
    }
    cur
  }

  /** The text Spark parses in place of `text`: a CREATE TYPE (recognized
    * from its first token, so comments may lead it) registers and becomes
    * its one-row acknowledgement; anything else is lowered by [[rewrite]].
    * The injected parser and [[sql]] both go through here.
    */
  def lower(spark: SparkSession, text: String): String = {
    val stmt = graft.SqlLex.trim(text)
    if (isCreateType(stmt)) s"SELECT '${createType(spark, stmt).name}' AS type_created"
    else rewrite(spark, text)
  }

  /** Run one statement with the ADT grammar enabled on any session —
    * sessions built with `GraftExtensions` get the same transparently
    * inside plain `spark.sql`.
    */
  def sql(spark: SparkSession, text: String): DataFrame = spark.sql(lower(spark, text))
}
