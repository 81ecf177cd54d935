package graft.plans

/** The one lexer and token cursor behind every text-level Hive verb that
  * Spark's parser does not know. Lexing follows Spark's: `--` and `/* */`
  * comments are skipped; `'...'`/`"..."` strings read a doubled quote as
  * one (backslash escapes stay raw), `` `...` `` names a doubled backtick;
  * a word is an `[A-Za-z0-9_$]` run, hyphen-joined (FAST-FORWARD is one
  * verb), and `1.5` is one word. Any other character, an unterminated
  * quote or comment included, is a one-character symbol.
  *
  * The fall-through invariant: a verb executes, and privilege-checks, only
  * after its full shape has parsed through end-of-statement ([[end]]);
  * otherwise it answers None and the statement surfaces Spark's own error,
  * so trailing junk never half-matches.
  */
final class Cursor private (toks: Vector[Cursor.Token], src: String) {
  import Cursor._

  private var i = 0

  private def at: Tok = if (i < toks.length) toks(i).tok else Eof
  private def take[T](v: T): Option[T] = { i += 1; Some(v) }

  /** A fresh cursor over the same tokens, at the start. */
  def fresh(): Cursor = new Cursor(toks, src)

  /** Match a sequence of keywords (case-insensitively) and symbols;
    * all-or-nothing.
    */
  def kw(words: String*): Boolean = {
    val save = i
    val ok = words.forall(w => at match {
      case Word(s) if s.equalsIgnoreCase(w) => i += 1; true
      case Sym(s) if s == w => i += 1; true
      case _ => false
    })
    if (!ok) i = save
    ok
  }

  /** [[kw]] as a for-comprehension gate. */
  def expect(words: String*): Option[Unit] = if (kw(words: _*)) Some(()) else None

  /** Optional clause led by `words`: Some(None) when absent, None when
    * present but malformed (the whole verb then fails to match).
    */
  def opt[T](words: String*)(parse: => Option[T]): Option[Option[T]] =
    if (!kw(words: _*)) Some(None) else parse.map(Some(_))

  def word(): Option[String] = at match {
    case Word(s) => take(s)
    case _ => None
  }

  /** One identifier part: a word or a backtick-quoted name (unquoted). */
  def name(): Option[String] = at match {
    case Word(s) => take(s)
    case Quoted(s) => take(s)
    case _ => None
  }

  /** A dotted name, `db.t` / `` `db`.`t` ``, as its unquoted parts. */
  def qparts(): Option[Seq[String]] = sepBy(".")(name())

  def qname(): Option[String] = qparts().map(_.mkString("."))

  /** A table identifier: a dotted name, or one backtick-quoted part kept
    * WITH its backticks — the snapshot-root-path spelling the maintenance
    * verbs tell apart from a registered name.
    */
  def ident(): Option[String] = (at, toks.lift(i + 1).map(_.tok)) match {
    case (Quoted(s), next) if !next.contains(Sym(".")) => take("`" + s + "`")
    case _ => qname()
  }

  def num(): Option[String] = at match {
    case Word(s) if s.matches("""\d+(\.\d+)?""") => take(s)
    case _ => None
  }

  def str(): Option[String] = at match {
    case Str(s) => take(s)
    case _ => None
  }

  /** `item [sep item]*`; None (nothing consumed) when an item fails. */
  def sepBy[T](sep: String)(item: => Option[T]): Option[Seq[T]] = {
    val save = i
    val out = Seq.newBuilder[T]
    var more = true
    while (more) item match {
      case Some(v) => out += v; more = kw(sep)
      case None => i = save; return None
    }
    Some(out.result())
  }

  /** `( ident [, ident]* )`, possibly empty; backticks stripped. */
  def parenIdents(): Option[Seq[String]] = {
    val save = i
    val parsed = group().flatMap(all(_) { e =>
      val c = Cursor(e); c.qname().filter(_ => c.end())
    })
    if (parsed.isEmpty) i = save
    parsed
  }

  /** One balanced `( ... )` group as the ORIGINAL text of each entry
    * between its top-level commas; `()` is no entries. None (and nothing
    * consumed) when the group is unbalanced or an entry is empty.
    */
  def group(): Option[Seq[String]] = {
    if (at != Sym("(")) return None
    val entries = Seq.newBuilder[String]
    var depth = 0
    var from = i + 1
    var j = i
    while (j < toks.length) {
      val t = toks(j).tok
      if (t == Sym("(")) depth += 1
      else if (depth == 1 && (t == Sym(",") || t == Sym(")"))) {
        if (j > from) entries += text(from, j)
        else if (t == Sym(",") || from > i + 1) return None // empty entry
        if (t == Sym(")")) { i = j + 1; return Some(entries.result()) }
        from = j + 1
      } else if (t == Sym(")")) depth -= 1
      j += 1
    }
    None
  }

  /** The ORIGINAL text of the remaining tokens, trailing `;` and comments
    * excluded; consumes them. None when nothing remains.
    */
  def rest(): Option[String] = {
    var last = toks.length
    while (last > i && toks(last - 1).tok == Sym(";")) last -= 1
    if (last <= i) None
    else { val t = text(i, last); i = toks.length; Some(t) }
  }

  /** End of statement, one optional trailing `;` consumed. */
  def end(): Boolean = { kw(";"); i == toks.length }

  /** [[end]] as a for-comprehension gate. */
  def done(): Option[Unit] = if (end()) Some(()) else None

  private def text(from: Int, until: Int): String =
    src.substring(toks(from).start, toks(until - 1).end)
}

object Cursor {

  sealed trait Tok
  final case class Word(s: String) extends Tok // bare word / number
  final case class Quoted(s: String) extends Tok // `...` (content)
  final case class Str(s: String) extends Tok // '...' or "..." (content)
  final case class Sym(s: String) extends Tok // any other character
  private case object Eof extends Tok

  private[plans] final case class Token(tok: Tok, start: Int, end: Int)

  private val TokRe = ("""(?s)\s++|--[^\n]*+|/\*.*?\*/|`(?:[^`]++|``)*+`""" +
    """|'(?:[^'\\]++|\\.|'')*+'|"(?:[^"\\]++|\\.|"")*+"|\d+\.\d+""" +
    """|[\w$]+(?:-[\w$]+)*+|.""").r
  private val Skip = """(?s)(?:\s++|--[^\n]*+|/\*.*?\*/)*+""".r

  def apply(src: String): Cursor = new Cursor(lex(src), src)

  /** Every element's result, or None when any element has none. */
  def all[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.flatMap(f(_))
    if (out.size == xs.size) Some(out) else None
  }

  /** Does the statement's first word (after whitespace and comments) equal
    * `word`, case-insensitively? The pre-parse probes call this before
    * lexing, so a statement of any other verb costs one short scan.
    */
  def leads(src: String, word: String): Boolean = {
    val i = Skip.findPrefixMatchOf(src).fold(0)(_.end)
    val j = i + word.length
    src.regionMatches(true, i, word, 0, word.length) &&
      (j == src.length || !isWord(src.charAt(j)))
  }

  private def isWord(c: Char): Boolean =
    (c < 128 && c.isLetterOrDigit) || c == '_' || c == '$'

  private def lex(src: String): Vector[Token] =
    TokRe.findAllMatchIn(src).flatMap { m =>
      val t = m.matched
      val tok = t.head match {
        case c if c.isWhitespace => None
        case '-' | '/' if t.length > 1 => None // a comment
        case q @ ('`' | '\'' | '"') if t.length > 1 =>
          val body = t.substring(1, t.length - 1).replace(s"$q$q", q.toString)
          Some(if (q == '`') Quoted(body) else Str(body))
        case c if isWord(c) => Some(Word(t))
        case _ => Some(Sym(t))
      }
      tok.map(Token(_, m.start, m.end))
    }.toVector
}
