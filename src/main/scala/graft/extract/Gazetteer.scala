package graft.extract

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

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
  * Two walks share the trie:
  *  - `findPresent(UTF8String)` (edge grain) reads the turn's UTF-8 bytes
  *    once, without decoding them to a String: ASCII bytes are classified
  *    through 128-entry tables, multi-byte sequences are decoded inline and
  *    classified per code point. It sees every simple label: positive and
  *    negative, case-insensitive and case-sensitive (a case-sensitive
  *    terminal re-checks the matched bytes for exact case);
  *  - `findAllRaw(String)` (span grain) walks the decoded String and reads
  *    only the case-insensitive positive terminals; every other label goes
  *    through its regex.
  *
  * Exactness contract (property-tested against KeywordMatcher):
  *  - a label is simple when its separator-split parts are pure ASCII word
  *    characters (the overwhelming majority — case-insensitive labels are
  *    pure-ASCII-lowercase by construction, keyword.py:141-148). Parts are
  *    \w-only, so a regex match starts and ends exactly at token
  *    boundaries, each part must equal a whole token, and the
  *    [\s\-–—]+ separator between parts is checked on the raw gap;
  *  - finditer order is emulated by replaying hits left-to-right, preferring
  *    the lowest alternation rank (labels sorted longest-first) at each
  *    start and resuming after each match end — per label group, as the
  *    reference runs one alternation per group;
  *  - a label group (positive or negative, case-sensitive or not) with any
  *    non-simple label falls back to the group's compiled pattern on the
  *    decoded String, preserving KeywordMatcher's semantics.
  */
final class Gazetteer(val concepts: Vector[Concept]) extends Serializable {
  import Gazetteer._

  val matchers: Vector[KeywordMatcher] = concepts.map(new KeywordMatcher(_))

  // Per concept, one entry per label group (CiPos, CsPos, CiNeg, CsNeg):
  // the group's labels in alternation-rank order (longest first) as
  // separator-split parts, or None if any label is non-simple (then the
  // group's regex covers it). An empty group is Some(empty).
  private val labelGroups: Vector[Array[Option[Vector[Vector[String]]]]] = concepts.map { c =>
    val (cs, ci) = KeywordMatcher.splitByCaseHandling(c.allLabels)
    val (negCs, negCi) = KeywordMatcher.splitByCaseHandling(c.negativeLabels)
    Array(ci, cs, negCi, negCs).map { labels =>
      val tokenized = labels.map(tokenizeSimpleLabel)
      if (tokenized.forall(_.isDefined)) Some(tokenized.map(_.get)) else None
    }
  }

  private val trieViaIndex: Array[Boolean] = labelGroups.map(_(CiPos).isDefined).toArray
  private val csViaTrie: Array[Boolean] = labelGroups.map(_(CsPos).isDefined).toArray
  // every group in the trie: presence needs no regex and no decoded String
  private val presenceViaTrie: Array[Boolean] = labelGroups.map(_.forall(_.isDefined)).toArray
  private val hasNegatives: Array[Boolean] = concepts.map(_.negativeLabels.nonEmpty).toArray
  // the concepts whose presence is not settled by the walk alone
  private val presenceAfterWalk: Array[Int] =
    concepts.indices.filter(ci => hasNegatives(ci) || !presenceViaTrie(ci)).toArray

  // findAllRaw runs every cs group through its regex; presence only the
  // non-simple ones. ci groups take the regex only when non-simple.
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
    var terms: Array[Term] = null
  }

  private val root: Node = {
    val r = new Node
    for (ci <- concepts.indices; kind <- 0 until NKinds) {
      // negatives only serve presence, and only when no group needs a regex
      val used = kind < CiNeg || presenceViaTrie(ci)
      for (labels <- labelGroups(ci)(kind) if used; (parts, rank) <- labels.zipWithIndex) {
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
        val exact = if (kind == CsPos || kind == CsNeg) parts.map(_.getBytes("US-ASCII")).toArray else null
        val term = new Term(ci, kind, rank, exact, hasNegatives(ci))
        node.terms = if (node.terms == null) Array(term) else node.terms :+ term
      }
    }
    r
  }

  /** Walk the trie from every token start; `onTerminal(ci, rank, start, end)`
    * fires for each case-insensitive positive label match. Token boundaries
    * are maximal \w runs; multi-part labels cross tokens only over
    * pure-separator gaps. */
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
            val ts = node.terms
            if (ts != null) {
              var t = 0
              while (t < ts.length) {
                if (ts(t).kind == CiPos) onTerminal(ts(t).concept, ts(t).rank, tokStart, k)
                t += 1
              }
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

  /** Which concepts have at least one surviving mention in this text? One
    * pass over the UTF-8 bytes, no decode: a concept whose groups are all in
    * the trie is settled by its terminals (a concept with negatives replays
    * finditer, merges and tests overlap only when it has both positive and
    * negative hits); the rest decode the String once and run their regex
    * groups. Allocation-free for no-match texts. */
  def findPresent(text: UTF8String): Array[Boolean] = {
    val present = new Array[Boolean](concepts.length)
    val asciiSym = AsciiSym
    val asciiSep = AsciiSep
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var hits: List[Hit] = Nil // terminals of concepts with negatives
    var prevWord = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      var word = false
      var len = 1
      if (b >= 0) word = asciiSym(b) >= 0
      else {
        val d = decodeUtf8(base, off, i, n)
        word = isWordCp(d & CpMask)
        len = d >>> LenShift
      }
      if (word && !prevWord) {
        // a token starts at i: walk the trie, token by token across gaps
        var node = root
        var k = i
        var alive = true
        while (alive) {
          var tokenEnd = false
          while (node != null && !tokenEnd && k < n) {
            val bk = Platform.getByte(base, off + k)
            if (bk >= 0) {
              val s = asciiSym(bk)
              if (s < 0) tokenEnd = true
              else {
                node = node.children(s)
                k += 1
              }
            } else {
              val d = decodeUtf8(base, off, k, n)
              val cp = d & CpMask
              if (!isWordCp(cp)) tokenEnd = true
              else {
                val s = if (cp > 0xffff) -1 else symIndex(cp.toChar)
                node = if (s < 0) null else node.children(s)
                k += d >>> LenShift
              }
            }
          }
          if (node == null) alive = false
          else {
            val ts = node.terms
            if (ts != null) {
              var t = 0
              while (t < ts.length) {
                val term = ts(t)
                if (term.exact == null || exactCase(base, off, i, k, term.exact)) {
                  if (term.collect) hits = Hit(term, i, k) :: hits
                  else present(term.concept) = true
                }
                t += 1
              }
            }
            val sepChild = node.children(SepSym)
            if (sepChild == null) alive = false
            else {
              var g = k
              var inGap = true
              while (inGap && g < n) {
                val bg = Platform.getByte(base, off + g)
                if (bg >= 0) {
                  if (asciiSep(bg)) g += 1 else inGap = false
                } else {
                  val d = decodeUtf8(base, off, g, n)
                  val cp = d & CpMask
                  if (cp <= 0xffff && isSeparatorChar(cp.toChar)) g += d >>> LenShift else inGap = false
                }
              }
              if (g == k || g >= n || !isWordAt(base, off, g, n)) alive = false
              else {
                node = sepChild
                k = g
              }
            }
          }
        }
      }
      prevWord = word
      i += len
    }

    var str: String = null
    var j = 0
    while (j < presenceAfterWalk.length) {
      val ci = presenceAfterWalk(j)
      if (str == null && !presenceViaTrie(ci)) str = text.toString
      if (hasNegatives(ci)) {
        var pos = false
        var neg = false
        var h = hits
        while (h.nonEmpty) {
          val term = h.head.term
          if (term.concept == ci) { if (term.kind < CiNeg) pos = true else neg = true }
          h = h.tail
        }
        present(ci) =
          if (presenceViaTrie(ci)) pos && (!neg || survivesNegatives(ci, hits))
          else {
            val maybe = pos || !trieViaIndex(ci) || (!csViaTrie(ci) && csPossible(ci, str))
            maybe && matchers(ci).findSpansRaw(str).nonEmpty
          }
      } else if (!present(ci)) {
        present(ci) =
          (!csViaTrie(ci) && csPossible(ci, str) && anyMatch(str, csPatterns(ci))) ||
            (!trieViaIndex(ci) && anyMatch(str, ciFallbackPatterns(ci)))
      }
      j += 1
    }
    present
  }

  /** findPresent for a caller holding a JVM String (the tests). */
  def findPresent(text: String): Array[Boolean] = findPresent(UTF8String.fromString(text))

  /** Does a positive span of concept `ci` survive its negatives? The
    * reference's span semantics over the walk's hits (byte offsets: merges
    * and overlap tests only compare positions, which UTF-8 offsets order as
    * UTF-16 offsets do). */
  private def survivesNegatives(ci: Int, hits: List[Hit]): Boolean = {
    val byKind = Array.fill[List[(Int, Int, Int)]](NKinds)(Nil)
    hits.foreach(h => if (h.term.concept == ci) byKind(h.term.kind) ::= ((h.start, h.end, h.term.rank)))
    val m = matchers(ci)
    def merged(cs: Int, caseless: Int): Vector[TextSpan] = {
      val raw = emulateFinditer(byKind(cs), m) ++ emulateFinditer(byKind(caseless), m)
      if (raw.isEmpty) raw else SpanAlgebra.mergeOverlapping(raw)
    }
    val negs = merged(CsNeg, CiNeg)
    merged(CsPos, CiPos).exists(p => !negs.exists(SpanAlgebra.overlaps(p, _)))
  }

  private def anyMatch(text: String, p: java.util.regex.Pattern): Boolean = {
    if (p == null) return false
    val mt = p.matcher(text)
    var found = false
    while (!found && mt.find())
      found = mt.start() != mt.end() && KeywordMatcher.codepointBoundariesOk(text, mt.start(), mt.end())
    found
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

  // label groups: KeywordMatcher runs one alternation per group
  private val CiPos = 0
  private val CsPos = 1
  private val CiNeg = 2
  private val CsNeg = 3
  private val NKinds = 4

  /** A label's trie terminal: its concept, group and alternation rank in
    * that group; `exact` holds a case-sensitive label's part bytes;
    * `collect` marks a concept with negatives, whose hits are replayed. */
  private final class Term(val concept: Int, val kind: Int, val rank: Int, val exact: Array[Array[Byte]], val collect: Boolean)
      extends Serializable

  private final case class Hit(term: Term, start: Int, end: Int)

  // ASCII byte -> trie symbol (-1 for a non-word byte), and separator bytes
  private val AsciiSym: Array[Int] = Array.tabulate(128)(b => symIndex(b.toChar))
  private val AsciiSep: Array[Boolean] = Array.tabulate(128)(b => isSeparatorChar(b.toChar))

  // decodeUtf8 packs (sequence length << LenShift) | code point
  private val LenShift = 24
  private val CpMask = (1 << LenShift) - 1
  // a malformed byte: one U+FFFD, as String decoding yields — neither a
  // word char nor a separator
  private val Malformed = (1 << LenShift) | 0xfffd

  /** Decode the multi-byte UTF-8 sequence at byte `i`; overlong forms,
    * surrogates, code points past U+10FFFF and truncated sequences are
    * Malformed, one byte at a time. */
  private def decodeUtf8(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    val b0 = Platform.getByte(base, off + i) & 0xff
    var len = 0
    var cp = 0
    var min = 0
    if (b0 >= 0xc2 && b0 <= 0xdf) { len = 2; cp = b0 & 0x1f; min = 0x80 }
    else if (b0 >= 0xe0 && b0 <= 0xef) { len = 3; cp = b0 & 0x0f; min = 0x800 }
    else if (b0 >= 0xf0 && b0 <= 0xf4) { len = 4; cp = b0 & 0x07; min = 0x10000 }
    if (len == 0 || i + len > n) return Malformed
    var j = 1
    while (j < len) {
      val bj = Platform.getByte(base, off + i + j) & 0xff
      if ((bj & 0xc0) != 0x80) return Malformed
      cp = (cp << 6) | (bj & 0x3f)
      j += 1
    }
    if (cp < min || cp > 0x10ffff || (cp >= 0xd800 && cp <= 0xdfff)) Malformed
    else (len << LenShift) | cp
  }

  private def isWordAt(base: AnyRef, off: Long, i: Int, n: Int): Boolean = {
    val b = Platform.getByte(base, off + i)
    if (b >= 0) AsciiSym(b) >= 0 else isWordCp(decodeUtf8(base, off, i, n) & CpMask)
  }

  /** Do the bytes [s, e) that the trie matched case-insensitively spell the
    * ASCII parts exactly? Between parts only the gap's non-word bytes are
    * skipped; a Kelvin sign or long s in a token leaves too few ASCII word
    * bytes to spell the parts, so it fails as the case-sensitive regex does. */
  private def exactCase(base: AnyRef, off: Long, s: Int, e: Int, parts: Array[Array[Byte]]): Boolean = {
    var p = s
    var pi = 0
    while (pi < parts.length) {
      if (pi > 0) {
        while (p < e && { val b = Platform.getByte(base, off + p); b < 0 || AsciiSym(b) < 0 }) p += 1
      }
      val part = parts(pi)
      var k = 0
      while (k < part.length) {
        if (p >= e || Platform.getByte(base, off + p) != part(k)) return false
        p += 1
        k += 1
      }
      pi += 1
    }
    p == e
  }

  /** Map a char to its trie symbol: a-z (case-folded) 0-25, digits 26-35,
    * '_' 36; -1 for anything a simple label can't contain. */
  def symIndex(c: Char): Int = {
    if (c >= 'a' && c <= 'z') c - 'a'
    else if (c >= 'A' && c <= 'Z') c - 'A'
    else if (c >= '0' && c <= '9') 26 + (c - '0')
    else if (c == '_') 36
    // the non-ASCII chars that CASE_INSENSITIVE|UNICODE_CASE regexes (and
    // Python's re.IGNORECASE) match against an ASCII letter: Kelvin sign,
    // long s, dotted capital I and dotless i
    else if (c == '\u212a') 'k' - 'a'
    else if (c == '\u017f') 's' - 'a'
    else if (c == '\u0130' || c == '\u0131') 'i' - 'a'
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
    * word chars. Returns the parts (lowercase for a case-insensitive label,
    * by construction). */
  def tokenizeSimpleLabel(label: String): Option[Vector[String]] = {
    val parts = java.util.regex.Pattern
      .compile(KeywordMatcher.separatorClass, java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
      .split(label.trim)
      .filter(_.nonEmpty)
    val ok = parts.nonEmpty && parts.forall(_.forall(c => c < 128 && symIndex(c) >= 0))
    if (ok) Some(parts.toVector) else None
  }
}
