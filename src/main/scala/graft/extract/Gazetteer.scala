package graft.extract

import graft.core.{Concept, SpanAlgebra, TextSpan}

/** Multi-concept gazetteer: one shared character-trie pass over each passage
  * instead of C regex scans for C concepts.
  *
  * Scale rationale: the reference runs one compiled regex set per concept per
  * passage (/root/reference/knowledge_graph/classifier/keyword.py:174-222),
  * i.e. O(concepts × text). At 10^12 turns × thousands of concepts that is
  * the dominant cost, so the gazetteer scans each passage ONCE, walking a
  * character-level trie built over all concepts' labels — O(text ×
  * max-label-length), independent of concept count, and allocation-free in
  * the no-match hot path (allocation rate, not arithmetic, is what limits
  * single-node scaling of this operator).
  *
  * Exactness contract (property-tested against KeywordMatcher):
  *  - case-insensitive labels whose separator-split parts are pure ASCII
  *    word characters (the overwhelming majority — case-insensitive labels
  *    are pure-ASCII-lowercase by construction, keyword.py:141-148) match
  *    via the trie: parts are \w-only so regex matches start/end exactly at
  *    token boundaries, each part must equal a whole token, and the
  *    [\s\-–—]+ separator between parts is checked on the raw gap;
  *  - finditer order is emulated by replaying hits left-to-right, preferring
  *    the lowest alternation rank (labels sorted longest-first) at each
  *    start and resuming after each match end;
  *  - concepts with any non-simple case-insensitive label, all
  *    case-sensitive labels, and all negative labels fall back to the
  *    per-concept compiled patterns, preserving KeywordMatcher's semantics.
  */
final class Gazetteer(val concepts: Vector[Concept]) extends Serializable {
  import Gazetteer._

  val matchers: Vector[KeywordMatcher] = concepts.map(new KeywordMatcher(_))

  // Per concept: case-insensitive labels in alternation-rank order (longest
  // first) as separator-split parts, or None if any label is non-simple
  // (then the regex path covers the whole ci set).
  private val ciLabelSets: Vector[Option[Vector[Vector[String]]]] = concepts.map { c =>
    val (_, ci) = KeywordMatcher.splitByCaseHandling(c.allLabels)
    val tokenized = ci.map(tokenizeSimpleLabel)
    if (tokenized.forall(_.isDefined)) Some(tokenized.map(_.get)) else None
  }

  private val trieViaIndex: Array[Boolean] = ciLabelSets.map(_.isDefined).toArray
  private val hasNegatives: Array[Boolean] = concepts.map(_.negativeLabels.nonEmpty).toArray
  private val hasCs: Array[Boolean] =
    concepts.map(c => KeywordMatcher.splitByCaseHandling(c.allLabels)._1.nonEmpty).toArray

  // cs labels always via regex; ci via regex only for fallback concepts.
  @transient private lazy val csPatterns =
    concepts.indices.toArray.map { i =>
      val (cs, _) = KeywordMatcher.splitByCaseHandling(concepts(i).allLabels)
      KeywordMatcher.compile(KeywordMatcher.alternation(cs), caseSensitive = true)
    }
  @transient private lazy val ciFallbackPatterns =
    concepts.indices.toArray.map { i =>
      if (trieViaIndex(i)) null
      else {
        val (_, ci) = KeywordMatcher.splitByCaseHandling(concepts(i).allLabels)
        KeywordMatcher.compile(KeywordMatcher.alternation(ci), caseSensitive = false)
      }
    }
  // ---- case-sensitive prefilter ---------------------------------------------
  // separatorFlexible only relaxes the SEPARATORS of a label, so any regex
  // match must contain each word-char run of the label verbatim. The longest
  // run is therefore a literal anchor: if no cs label's anchor occurs in the
  // text (one indexOf each, ~100ns), the cs regex (a full scan, ~µs) cannot
  // match and is skipped. Labels with no word chars get no anchor and force
  // the regex unconditionally (csAnchorsExact false).
  private def longestWordRun(label: String): String = {
    var best = ""
    var i = 0
    val n = label.length
    while (i < n) {
      if (!Character.isLowSurrogate(label.charAt(i)) && isWordCp(label.codePointAt(i))) {
        var j = i
        while (j < n && isWordCp(label.codePointAt(j))) j += Character.charCount(label.codePointAt(j))
        if (j - i > best.length) best = label.substring(i, j)
        i = j
      } else i += 1
    }
    best
  }
  private val csAnchors: Array[Array[String]] = concepts.toArray.map { c =>
    val (cs, _) = KeywordMatcher.splitByCaseHandling(c.allLabels)
    cs.map(longestWordRun).toArray
  }
  private val csAnchorsExact: Array[Boolean] = csAnchors.map(_.forall(_.nonEmpty))
  /** false only when NO cs label can possibly match `text`. */
  private def csPossible(ci: Int, text: String): Boolean = {
    if (!csAnchorsExact(ci)) return csAnchors(ci).nonEmpty
    val anchors = csAnchors(ci)
    var i = 0
    while (i < anchors.length) {
      if (text.contains(anchors(i))) return true
      i += 1
    }
    false
  }

  @transient private lazy val negPatterns: Array[(java.util.regex.Pattern, java.util.regex.Pattern)] =
    concepts.toArray.map { c =>
      val (cs, ci) = KeywordMatcher.splitByCaseHandling(c.negativeLabels)
      (
        KeywordMatcher.compile(KeywordMatcher.alternation(cs), caseSensitive = true),
        KeywordMatcher.compile(KeywordMatcher.alternation(ci), caseSensitive = false)
      )
    }

  // ---- char trie -----------------------------------------------------------
  // symbols: a-z 0-25, 0-9 26-35, '_' 36, inter-part separator 37
  private final class Node extends Serializable {
    val children = new Array[Node](NSym)
    // (conceptIdx, rank in that concept's ci alternation)
    var terminals: List[(Int, Int)] = Nil
  }

  private val root: Node = {
    val r = new Node
    for (ci <- concepts.indices; labels <- ciLabelSets(ci); (parts, rank) <- labels.zipWithIndex) {
      var node = r
      var pi = 0
      while (pi < parts.length) {
        if (pi > 0) {
          if (node.children(SepSym) == null) node.children(SepSym) = new Node
          node = node.children(SepSym)
        }
        val part = parts(pi)
        var k = 0
        while (k < part.length) {
          val s = symIndex(part.charAt(k))
          if (node.children(s) == null) node.children(s) = new Node
          node = node.children(s)
          k += 1
        }
        pi += 1
      }
      node.terminals ::= (ci, rank)
    }
    r
  }

  /** Walk the trie from every token start; `onTerminal(ci, rank, start, end)`
    * fires for each label match. Token boundaries are maximal \w runs;
    * multi-part labels cross tokens only over pure-separator gaps. */
  private def walk(text: String, onTerminal: (Int, Int, Int, Int) => Unit): Unit = {
    val n = text.length
    var tokStart = 0
    // token starts: positions where a word CODEPOINT follows a non-word one
    // (codepoint-aware so supplementary-plane word chars — surrogate pairs —
    // bound tokens exactly like java regex \w does)
    var i = 0
    while (i < n) {
      val atTokenStart =
        !Character.isLowSurrogate(text.charAt(i)) &&
          isWordCp(text.codePointAt(i)) &&
          (i == 0 || !isWordCp(text.codePointBefore(i)))
      if (atTokenStart) {
        tokStart = i
        var node = root
        var k = i
        var alive = true
        while (alive) {
          // consume word codepoints of the current token
          var failed = false
          while (!failed && k < n && isWordCp(text.codePointAt(k))) {
            val cp = text.codePointAt(k)
            val s = if (cp > 0xffff) -1 else symIndex(cp.toChar)
            if (s < 0) failed = true
            else {
              node = node.children(s)
              if (node == null) failed = true else k += Character.charCount(cp)
            }
          }
          if (failed || node == null) alive = false
          else {
            // full token consumed: report terminals
            var ts = node.terminals
            while (ts.nonEmpty) {
              val (ci, rank) = ts.head
              onTerminal(ci, rank, tokStart, k)
              ts = ts.tail
            }
            // try to extend across a pure-separator gap
            val sepChild = node.children(SepSym)
            if (sepChild == null) alive = false
            else {
              var g = k
              while (g < n && isSeparatorChar(text.charAt(g))) g += 1
              if (g == k || g >= n || !isWordCp(text.codePointAt(g))) alive = false
              else {
                node = sepChild
                k = g
              }
            }
          }
        }
      }
      i += 1
    }
  }

  /** Spans for every concept in one pass with PYTHON (codepoint) indices —
    * identical to what KeywordMatcher.findSpans emits per concept. */
  def findAll(text: String): Array[Vector[TextSpan]] = {
    val raw = findAllRaw(text)
    if (!graft.core.CodePoints.hasSupplementary(text)) raw
    else raw.map(spans => graft.core.CodePoints.toCodePointSpans(text, spans))
  }

  /** Spans for every concept in one pass, UTF-16 indices (internal fast
    * path — substring extraction needs UTF-16 offsets). */
  private[graft] def findAllRaw(text: String): Array[Vector[TextSpan]] = {
    val hits = new Array[List[(Int, Int, Int)]](concepts.length)
    java.util.Arrays.fill(hits.asInstanceOf[Array[AnyRef]], Nil)
    walk(text, (ci, rank, s, e) => hits(ci) ::= ((s, e, rank)))

    val out = new Array[Vector[TextSpan]](concepts.length)
    var ci = 0
    while (ci < concepts.length) {
      val m = matchers(ci)
      // case-sensitive matches first (reference extends cs then ci)
      val csSpans = if (csPossible(ci, text)) matchWith(text, csPatterns(ci), m) else Vector.empty
      val ciSpans =
        if (trieViaIndex(ci)) emulateFinditer(hits(ci), m)
        else matchWith(text, ciFallbackPatterns(ci), m)
      out(ci) =
        if (csSpans.isEmpty && ciSpans.isEmpty) Vector.empty
        else {
          val merged = SpanAlgebra.mergeOverlapping(csSpans ++ ciSpans)
          val negs = negativeSpans(text, ci)
          if (negs.isEmpty) merged
          else merged.filterNot(p => negs.exists(n => SpanAlgebra.overlaps(p, n)))
        }
      ci += 1
    }
    out
  }

  /** Presence-only fast path for edge-grain extraction: which concepts have
    * at least one surviving mention in this text? Concepts without negative
    * labels only need a boolean (no hit collection, no merge, no finditer
    * replay); concepts with negatives or regex-path labels take the exact
    * span path. Allocation-free for no-match texts. */
  def findPresent(text: String): Array[Boolean] = {
    val present = new Array[Boolean](concepts.length)
    var needSpans = false
    var ci0 = 0
    while (ci0 < concepts.length && !needSpans) {
      if (hasNegatives(ci0) || !trieViaIndex(ci0)) needSpans = true
      ci0 += 1
    }
    var hits: Array[List[(Int, Int, Int)]] = null
    if (needSpans) {
      hits = new Array[List[(Int, Int, Int)]](concepts.length)
      java.util.Arrays.fill(hits.asInstanceOf[Array[AnyRef]], Nil)
      walk(
        text,
        (ci, rank, s, e) =>
          if (hasNegatives(ci)) hits(ci) ::= ((s, e, rank))
          else present(ci) = true
      )
    } else {
      walk(text, (ci, _, _, _) => present(ci) = true)
    }
    var ci = 0
    while (ci < concepts.length) {
      if (!present(ci)) {
        if (hasNegatives(ci) || !trieViaIndex(ci)) {
          // exact span path for the hard cases
          val m = matchers(ci)
          val csSpans = if (csPossible(ci, text)) matchWith(text, csPatterns(ci), m) else Vector.empty
          val ciSpans =
            if (trieViaIndex(ci)) emulateFinditer(hits(ci), m)
            else matchWith(text, ciFallbackPatterns(ci), m)
          if (csSpans.nonEmpty || ciSpans.nonEmpty) {
            val merged = SpanAlgebra.mergeOverlapping(csSpans ++ ciSpans)
            val negs = negativeSpans(text, ci)
            present(ci) =
              if (negs.isEmpty) merged.nonEmpty
              else merged.exists(p => !negs.exists(n => SpanAlgebra.overlaps(p, n)))
          }
        } else if (hasCs(ci)) {
          // no negatives: any case-sensitive hit is enough
          val p = if (csPossible(ci, text)) csPatterns(ci) else null
          if (p != null) {
            val mt = p.matcher(text)
            var found = false
            while (!found && mt.find())
              found = mt.start() != mt.end() && KeywordMatcher.codepointBoundariesOk(text, mt.start(), mt.end())
            present(ci) = found
          }
        }
      }
      ci += 1
    }
    present
  }

  private def matchWith(text: String, p: java.util.regex.Pattern, m: KeywordMatcher): Vector[TextSpan] = {
    if (p == null) return Vector.empty
    val mt = p.matcher(text)
    val out = Vector.newBuilder[TextSpan]
    while (mt.find()) {
      if (mt.start() != mt.end() && KeywordMatcher.codepointBoundariesOk(text, mt.start(), mt.end()))
        out += TextSpan(mt.start(), mt.end(), m.concept.wikibaseId, Vector(m.labeller))
    }
    out.result()
  }

  private def negativeSpans(text: String, ci: Int): Vector[TextSpan] = {
    if (concepts(ci).negativeLabels.isEmpty) return Vector.empty
    val (csP, ciP) = negPatterns(ci)
    val raw = matchWith(text, csP, matchers(ci)) ++ matchWith(text, ciP, matchers(ci))
    if (raw.isEmpty) Vector.empty else SpanAlgebra.mergeOverlapping(raw)
  }

  /** Replay regex finditer semantics over collected trie hits. */
  private def emulateFinditer(hitsReversed: List[(Int, Int, Int)], m: KeywordMatcher): Vector[TextSpan] = {
    if (hitsReversed.isEmpty) return Vector.empty
    val sorted = hitsReversed.toArray
    java.util.Arrays.sort(
      sorted,
      Ordering.by[(Int, Int, Int), (Int, Int)](h => (h._1, h._3))
    )
    val out = Vector.newBuilder[TextSpan]
    var pos = 0
    var k = 0
    while (k < sorted.length) {
      val (s, e, _) = sorted(k)
      if (s >= pos) {
        out += TextSpan(s, e, m.concept.wikibaseId, Vector(m.labeller))
        pos = e
        // skip remaining hits at the same start (lower-priority alternatives)
        while (k + 1 < sorted.length && sorted(k + 1)._1 == s) k += 1
      }
      k += 1
    }
    out.result()
  }
}

object Gazetteer {
  val NSym = 38
  val SepSym = 37

  /** Map a char to its trie symbol: a-z (case-folded) 0-25, digits 26-35,
    * '_' 36; -1 for anything a simple label can't contain. */
  def symIndex(c: Char): Int = {
    if (c >= 'a' && c <= 'z') c - 'a'
    else if (c >= 'A' && c <= 'Z') c - 'A'
    else if (c >= '0' && c <= '9') 26 + (c - '0')
    else if (c == '_') 36
    // unicode case-fold equivalents of ascii letters that
    // CASE_INSENSITIVE|UNICODE_CASE regexes accept: Kelvin sign and long s
    else if (c == '\u212a') 'k' - 'a'
    else if (c == '\u017f') 's' - 'a'
    else -1
  }

  /** Java \w with UNICODE_CHARACTER_CLASS:
    * [\p{Alpha}\p{gc=Mn}\p{gc=Me}\p{gc=Mc}\p{Digit}\p{gc=Pc}\p{IsJoin_Control}],
    * evaluated per CODEPOINT (supplementary-plane chars included). */
  def isWordCp(cp: Int): Boolean = {
    if (cp < 128) (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') || (cp >= '0' && cp <= '9') || cp == '_'
    else {
      val t = Character.getType(cp)
      Character.isAlphabetic(cp) || Character.isDigit(cp) ||
      t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
      t == Character.COMBINING_SPACING_MARK || t == Character.CONNECTOR_PUNCTUATION ||
      cp == 0x200c || cp == 0x200d // ZWNJ / ZWJ join controls
    }
  }

  /** Python/Java \s (Unicode White_Space) plus the hyphen/dash separators.
    * Character.isWhitespace misses the no-break spaces and NEL that the
    * White_Space property (java \s under UNICODE_CHARACTER_CLASS) includes. */
  /** PYTHON \s (White_Space property plus U+001C-001F, str.isspace
    * semantics) plus the hyphen/dash separators. Character.isWhitespace
    * already includes 1C-1F but misses the no-break spaces and NEL. */
  def isSeparatorChar(c: Char): Boolean =
    c == '-' || c == '–' || c == '—' || Character.isWhitespace(c) ||
      c == '\u00a0' || c == '\u2007' || c == '\u202f' || c == '\u0085'

  /** A label is trie-eligible iff every separator-split part is pure ASCII
    * word chars. Returns the parts (lowercase by construction). */
  def tokenizeSimpleLabel(label: String): Option[Vector[String]] = {
    val parts = java.util.regex.Pattern
      .compile(KeywordMatcher.separatorClass, java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
      .split(label.trim)
      .filter(_.nonEmpty)
    val ok = parts.nonEmpty && parts.forall(_.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'
    ))
    if (ok) Some(parts.toVector) else None
  }
}
