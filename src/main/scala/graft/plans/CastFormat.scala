package graft.plans

/** SQL:2016 `CAST(x AS type FORMAT 'pattern')` (ref ql/udf/generic/
  * GenericUDFCastFormat.java — Hive's parser lowers it to cast_format),
  * a parse error to Spark: each occurrence rewrites to
  * `cast_format(x, 'type', 'pattern')` via a balanced-paren scan
  * (regexes can't hold nested parens in the operand). A parse-failure
  * stage of the front door ([[FrontDoor]]): it only fires when the
  * original text failed to parse AND the rewrite parses — otherwise the
  * canonical error against the user's text stands.
  */
object CastFormat {

  /** One pass of CAST...FORMAT rewriting; None when nothing matched. */
  def rewrite(q: String): Option[String] = {
    val CastRe = """(?i)\bCAST\s*\(""".r
    val Tail =
      """(?is)^\s*(\w+(?:\s*\(\s*\d+\s*\))?)\s+FORMAT\s+('(?:[^']|'')*')\s*$""".r
    var changed = false
    var out = q
    var search = 0
    var guard = 0
    while (guard < 64) {
      guard += 1
      CastRe.findFirstMatchIn(out.substring(search)) match {
        case None => return if (changed) Some(out) else None
        case Some(m) =>
          val open = search + m.end - 1 // index of '('
          // balanced scan respecting '…' literals
          var i = open + 1; var depth = 1
          var lastTopAs = -1
          while (i < out.length && depth > 0) {
            out.charAt(i) match {
              case '\'' => // skip the string literal ('' = escaped quote)
                i += 1
                while (i < out.length &&
                    (out.charAt(i) != '\'' ||
                      (i + 1 < out.length && out.charAt(i + 1) == '\''))) {
                  i += (if (out.charAt(i) == '\'') 2 else 1)
                }
              case '(' => depth += 1
              case ')' => depth -= 1
              case 'a' | 'A' if depth == 1 &&
                  out.regionMatches(true, i, "as", 0, 2) &&
                  !Character.isLetterOrDigit(out.charAt(i - 1)) &&
                  out.charAt(i - 1) != '_' &&
                  i + 2 < out.length &&
                  !Character.isLetterOrDigit(out.charAt(i + 2)) &&
                  out.charAt(i + 2) != '_' =>
                lastTopAs = i
              case _ => ()
            }
            i += 1
          }
          if (depth != 0) return if (changed) Some(out) else None
          val close = i - 1
          if (lastTopAs < 0) { search = open + 1 }
          else out.substring(lastTopAs + 2, close) match {
            case Tail(tpe, fmtLit) =>
              val expr = out.substring(open + 1, lastTopAs).trim
              val castStart = search + m.start
              out = out.substring(0, castStart) +
                s"cast_format($expr, '${tpe.replaceAll("\\s+", "")}', " +
                s"$fmtLit)" + out.substring(close + 1)
              changed = true
              search = 0 // rescan from the top (indexes shifted)
            case _ => search = open + 1
          }
      }
    }
    if (changed) Some(out) else None
  }
}
