package graft

/** SQL's lexical rules, in one place: what a string literal, a quoted
  * identifier, a comment and a word are, and how deep a token nests. Every
  * text-level rewrite in front of Spark's parser (statement splitting,
  * QUALIFY, DISTINCT ON, MERGE, copy-on-write UPDATE/DELETE, the ADT
  * grammar) reads its statement through [[lex]] and [[Walk]], so a keyword,
  * quote or paren inside a literal or a comment is never taken for SQL.
  */
object SqlLex {

  /** A token and its character span in the lexed text. Words are
    * identifiers, keywords and numbers; string literals and quoted
    * identifiers are opaque spans, so rewrites never touch their contents.
    * Comments yield no token at all. */
  sealed trait Tok { def start: Int; def end: Int }
  final case class Word(start: Int, end: Int, text: String) extends Tok
  final case class Punct(start: Int, end: Int, ch: Char) extends Tok
  final case class Opaque(start: Int, end: Int) extends Tok

  def lex(s: String): Vector[Tok] = scan(s)._1

  /** `s`'s tokens, and the (start, end) span of each comment. */
  private def scan(s: String): (Vector[Tok], Vector[(Int, Int)]) = {
    val out = Vector.newBuilder[Tok]
    val comments = Vector.newBuilder[(Int, Int)]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"' || c == '`') {
        val start = i; i += 1
        var done = false
        while (i < n && !done) {
          // backslash escape (Spark default string literals) — backticked
          // identifiers only use doubling
          if (s(i) == '\\' && c != '`' && i + 1 < n) i += 2
          else if (s(i) == c) { if (i + 1 < n && s(i + 1) == c) i += 2 else { i += 1; done = true } }
          else i += 1
        }
        out += Opaque(start, i)
      } else if (c == '-' && i + 1 < n && s(i + 1) == '-') {
        val start = i
        while (i < n && s(i) != '\n') i += 1
        comments += ((start, i))
      } else if (c == '/' && i + 1 < n && s(i + 1) == '*') {
        val start = i; i += 2
        while (i + 1 < n && !(s(i) == '*' && s(i + 1) == '/')) i += 1
        i = math.min(n, i + 2)
        comments += ((start, i))
      } else if (c.isLetter || c == '_' || c.isDigit) {
        val start = i
        while (i < n && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
        out += Word(start, i, s.substring(start, i))
      } else {
        out += Punct(i, i + 1, c); i += 1
      }
    }
    (out.result(), comments.result())
  }

  /** `stmt` as its tokens span it, each comment between them one space:
    * whitespace and comments at either end and a final ';' drop, so a
    * statement dispatches on its first keyword even behind a leading
    * comment, and a keyword head regex (`MERGE\s+INTO`) matches across a
    * comment inside the head. */
  def trim(stmt: String): String = {
    val (t, comments) = scan(stmt)
    val n = t.lastOption match {
      case Some(Punct(_, _, ';')) => t.length - 1
      case _ => t.length
    }
    if (n == 0) ""
    else {
      val (from, until) = (t.head.start, t(n - 1).end)
      val b = new StringBuilder
      val last = comments.filter(c => c._1 > from && c._1 < until).foldLeft(from) {
        case (at, (a, e)) => b.append(stmt.substring(at, a)).append(' '); e }
      b.append(stmt.substring(last, until)).toString
    }
  }

  /** `text`'s tokens with the nesting depth of each. A '(' or a block
    * opener — `CASE`, or `MATCH` directly followed by '(' (the ADT form; a
    * column named `match` opens nothing) — nests every token after it
    * until its ')' or `END`. An opener and its closer sit at the outer
    * depth, so depth 0 is the statement's top level. */
  final class Walk(val text: String) {
    val toks: Vector[Tok] = lex(text)

    def isWord(i: Int, kw: String): Boolean = toks.lift(i).exists {
      case Word(_, _, w) => w.equalsIgnoreCase(kw)
      case _ => false
    }

    def isPunct(i: Int, c: Char): Boolean = toks.lift(i).exists {
      case Punct(_, _, p) => p == c
      case _ => false
    }

    val depth: Array[Int] = {
      // open enclosures, innermost first: true for a block, false for '(',
      // so an `end` column inside parens closes nothing
      var open = List.empty[Boolean]
      toks.indices.map { i =>
        if (open.headOption.contains(false) && isPunct(i, ')') ||
            open.headOption.contains(true) && isWord(i, "END")) open = open.tail
        val d = open.length
        if (isPunct(i, '(')) open = false :: open
        else if (isWord(i, "CASE") || (isWord(i, "MATCH") && isPunct(i + 1, '('))) open = true :: open
        d
      }.toArray
    }

    /** Indices of the top-level words `kw`. */
    def topLevel(kw: String): IndexedSeq[Int] =
      toks.indices.filter(i => depth(i) == 0 && isWord(i, kw))

    /** Index of the ')' or `END` closing the opener at `open`, or -1. */
    def close(open: Int): Int =
      (open + 1 until toks.length).find(depth(_) <= depth(open)).getOrElse(-1)

    /** Source text of tokens [from, until), first token's start to last
      * token's end: comments and whitespace at either edge drop. */
    def span(from: Int, until: Int): String =
      if (from >= until) "" else text.substring(toks(from).start, toks(until - 1).end)

    /** Spans of tokens [from, until) between the tokens `cut` selects. */
    def split(from: Int, until: Int)(cut: Int => Boolean): Seq[String] = {
      val cuts = (from until until).filter(cut)
      (from +: cuts.map(_ + 1)).zip(cuts :+ until).map { case (a, b) => span(a, b) }
    }

    /** Spans between the top-level `sep` tokens. */
    def splitTop(sep: Char): Seq[String] =
      split(0, toks.length)(i => depth(i) == 0 && isPunct(i, sep))
  }
}
