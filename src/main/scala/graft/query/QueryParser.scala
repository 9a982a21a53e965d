package graft.query

/** The reference query grammar (Query.cpp:252-388, Globals.cpp:51-58,
  * CompleterBase.cpp:2505-2636), as an AST + parser:
  *
  *   - parts separated by SEP_CHARS:
  *       ' '  same document        (window = none)
  *       '.'  phrase / adjacent    (window [1, 1])
  *       '..' near                 (window [-10, 10], NEIGHBORHOOD_SIZE)
  *       '='  same position        (window [0, 0])
  *       '.,,.' / '.;;.'  flexi    (window [+n, +n] / [-n, -n], where n =
  *                                  the number of commas/semicolons;
  *                                  Separator.cpp:37-105)
  *   - within a part: `a|b|c` OR alternatives -- each alternative may be
  *     any word atom (modifiers allowed) or a word range `a--b`; the part
  *     evaluates as the reference's merged sub-query results
  *     (processOrQuery, CompleterBase.cpp:377-560 -- the merge dedups
  *     identical postings, QueryResult.cpp:316-415, so it equals matching
  *     the union of the alternatives' postings)
  *   - atom suffixes/prefixes:
  *       `w*`     prefix (autocompletion word range)
  *       `-w`     NOT (docs must not match)
  *       `w$`     exact word (no rewrite)
  *       `w~`     fuzzy (edit-distance candidate expansion)
  *       `w^`     synonym-group expansion
  *       `a--b`   lexicographic word range
  *   - `[q1#q2]` join block: completions common to both sub-results
  *
  * With normalizeWords=true the reference's rewriteQuery applies
  * (Query.cpp:391-468, parser -s flag): a bare word `w` also matches its
  * indexed normalized-variant terms `w:<original>` (CsvParser.cpp:120-131
  * emits `norm:lower` at the same position), i.e. `w -> w|w:*`; an exact
  * word `w$` whose normalization differs from its lowercase form looks up
  * only `norm(w):w`.
  */
object QueryParser {

  sealed trait Sep { def window: Option[(Int, Int)] }
  case object SameDoc extends Sep { val window = None }
  case object Phrase extends Sep { val window = Some((1, 1)) }
  case object Near extends Sep { val window = Some((-10, 10)) }
  case object SamePos extends Sep { val window = Some((0, 0)) }
  /** Flexi separator `.,,.` (+n) / `.;;.` (-n): the second word must occur
    * EXACTLY n positions after (commas) or before (semicolons) the first
    * (Separator.cpp:37-105: window = [sign*n, sign*n]).
    */
  case class Flexi(n: Int) extends Sep { val window = Some((n, n)) }

  sealed trait Atom
  /** One query word with its modifiers. */
  case class Word(text: String, prefix: Boolean = false, not: Boolean = false,
                  exact: Boolean = false, fuzzy: Boolean = false,
                  synonym: Boolean = false) extends Atom
  case class WordRange(lo: String, hi: String) extends Atom
  /** OR alternatives: any non-OR, non-join atom (words with modifiers,
    * word ranges). Evaluates as the union of the alternatives' matched
    * postings (see class doc).
    */
  case class OrAtoms(alts: Seq[Atom]) extends Atom

  /** `[q1#q2#...#qn]` join block, n >= 2: completions common to ALL
    * sub-results (the reference folds n-part blocks pairwise,
    * CompleterBase.cpp:592-609 `xyz [q1#q2#q3] -> xyz [q1#q2]`; the
    * flat n-ary form evaluates to the same common-term set).
    */
  case class JoinBlock(parts: Seq[ParsedQuery]) extends Atom {
    require(parts.length >= 2, "join block needs at least two parts")
  }

  /** sep is the separator BETWEEN this part and the previous one
    * (None for the first part).
    */
  case class Part(atom: Atom, sep: Option[Sep])
  case class ParsedQuery(parts: Seq[Part])

  def parse(q: String): ParsedQuery = parse(q, normalizeWords = false)

  def parse(q: String, normalizeWords: Boolean): ParsedQuery = {
    val trimmed = q.trim
    require(trimmed.nonEmpty, "empty query")
    val parts = splitParts(trimmed)
    // separator-only input (`.`, `=`, `.,,.`) has no word to evaluate
    require(parts.nonEmpty, "query has no parts")
    val pq = ParsedQuery(parts)
    if (normalizeWords)
      ParsedQuery(pq.parts.map(p => Part(rewriteForNorm(p.atom), p.sep)))
    else pq
  }

  /** rewriteQuery analog (Query.cpp:391-468): bare words gain their
    * normalized-variant prefix alternative; exact words whose norm differs
    * from their lowercase form look up the `norm:lower` variant only.
    * NOT words are left as-is (the negated doc set is driven by the plain
    * word; reference applies the rewrite before the `-` handling which our
    * OrAtoms cannot negate -- documented divergence, covered by spec).
    */
  private def rewriteForNorm(a: Atom): Atom = a match {
    case w: Word if w.exact =>
      val norm = graft.core.Tokenizer.normalize(w.text)
      if (norm != w.text) w.copy(text = s"$norm:${w.text}") else w
    case w: Word if !w.prefix && !w.fuzzy && !w.synonym && !w.not =>
      OrAtoms(Seq(w, Word(w.text + ":", prefix = true)))
    case OrAtoms(alts) => OrAtoms(alts.map(rewriteForNorm).flatMap {
      case OrAtoms(inner) => inner
      case other => Seq(other)
    })
    // join-block subqueries were parsed with the 1-arg parse (the splitter
    // has no normalizeWords); the rewrite recurses into both sides so
    // `[q1#q2]` words match their normalized variants like the rest of the
    // query (reference rewriteQuery applies to the whole query string)
    case JoinBlock(ps) =>
      def rw(pq: ParsedQuery): ParsedQuery =
        ParsedQuery(pq.parts.map(p => Part(rewriteForNorm(p.atom), p.sep)))
      JoinBlock(ps.map(rw))
    case other => other
  }

  /** Split on separators at depth 0 (outside [..] blocks). */
  private def splitParts(q: String): Seq[Part] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[Part]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    var pendingSep: Option[Sep] = None
    def flush(nextSep: Option[Sep]): Unit = {
      val s = cur.toString.trim
      if (s.nonEmpty) { parts += Part(parseAtom(s), pendingSep); pendingSep = nextSep }
      else if (nextSep.isDefined) pendingSep = nextSep
      cur.clear()
    }
    /** At a '.' (index i): if it opens a flexi separator `.,,.`/`.;;.`,
      * return (window offset, index past the closing '.').
      */
    def flexiAt(i: Int): Option[(Int, Int)] = {
      if (i + 2 >= q.length) return None
      val marker = q.charAt(i + 1)
      if (marker != ',' && marker != ';') return None
      var j = i + 1
      while (j < q.length && q.charAt(j) == marker) j += 1
      if (j < q.length && q.charAt(j) == '.') {
        val n = j - (i + 1)
        Some((if (marker == ',') n else -n, j + 1))
      } else None
    }
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '[') { depth += 1; cur += c; i += 1 }
      else if (c == ']') { depth -= 1; cur += c; i += 1 }
      else if (depth == 0 && c == '.') {
        flexiAt(i) match {
          case Some((n, next)) => flush(Some(Flexi(n))); i = next
          case None =>
            if (i + 1 < q.length && q.charAt(i + 1) == '.') { flush(Some(Near)); i += 2 }
            else { flush(Some(Phrase)); i += 1 }
        }
      } else if (depth == 0 && c == '=') { flush(Some(SamePos)); i += 1 }
      else if (depth == 0 && (c == ' ' || c == ',' || c == ';')) { flush(Some(SameDoc)); i += 1 }
      else { cur += c; i += 1 }
    }
    flush(None)
    parts.toSeq
  }

  private def parseAtom(s: String): Atom = {
    if (s.startsWith("[") && s.endsWith("]")) {
      val inner = s.substring(1, s.length - 1)
      val pieces = topLevelSplit(inner, '#')
      require(pieces.length >= 2, s"join block without '#': $s")
      return JoinBlock(pieces.map(parse))
    }
    // '|' binds LOOSER than '--': `a--b|c*` is (range a--b) OR (prefix c)
    if (s.contains('|')) {
      // `|` and `||` split to no alternatives at all
      val alts = s.split('\\' + "|").toSeq
      require(alts.nonEmpty, s"OR without alternatives: $s")
      return OrAtoms(alts.map(parseAlternative))
    }
    parseAlternative(s)
  }

  /** One OR alternative (or a whole non-OR atom): word range or word. */
  private def parseAlternative(s: String): Atom = {
    if (s.contains("--")) {
      val Array(lo, hi) = s.split("--", 2)
      WordRange(lo, hi)
    } else parseWord(s)
  }

  /** Split on every occurrence of `ch` at depth 0 (outside [..]). */
  private def topLevelSplit(s: String, ch: Char): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach { c =>
      if (c == '[') { depth += 1; cur.append(c) }
      else if (c == ']') { depth -= 1; cur.append(c) }
      else if (c == ch && depth == 0) { out += cur.toString; cur.clear() }
      else cur.append(c)
    }
    out += cur.toString
    out.toSeq
  }

  private def topLevelIndexOf(s: String, ch: Char): Int = {
    var depth = 0
    s.zipWithIndex.foreach { case (c, i) =>
      if (c == '[') depth += 1
      else if (c == ']') depth -= 1
      else if (c == ch && depth == 0) return i
    }
    -1
  }

  private def parseWord(s0: String): Word = {
    var s = s0
    var not = false; var prefix = false; var exact = false
    var fuzzy = false; var synonym = false
    if (s.startsWith("-")) { not = true; s = s.substring(1) }
    if (s.endsWith("*")) { prefix = true; s = s.dropRight(1) }
    else if (s.endsWith("$")) { exact = true; s = s.dropRight(1) }
    else if (s.endsWith("~")) { fuzzy = true; s = s.dropRight(1) }
    else if (s.endsWith("^")) { synonym = true; s = s.dropRight(1) }
    // `:facet:Autor:` / `:filter:Autor:mann`: special words are indexed
    // with their field name's case, so they keep it (as WordRange bounds do)
    val text = if (s.startsWith(":")) s else graft.core.Tokenizer.toLowerAscii(s)
    Word(text, prefix, not, exact, fuzzy, synonym)
  }
}
