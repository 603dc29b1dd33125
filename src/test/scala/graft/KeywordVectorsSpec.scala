package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Concept
import graft.extract.{Gazetteer, KeywordMatcher}

/** Differential tests against the ACTUAL reference KeywordClassifier:
  * src/test/resources/keyword_vectors.json was produced by running
  * /root/reference/knowledge_graph/classifier/keyword.py (via
  * tools/ref_oracle.py) over 16 concepts × 172 texts covering case
  * sensitivity, unicode labels, separator variants, negative labels, word
  * boundaries and overlap merging. Expected values include the reference's
  * deterministic span ids, so this also locks Identifier8 to the real
  * pydantic implementation.
  */
class KeywordVectorsSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private case class Case(
      concept: Concept,
      texts: Vector[String],
      expected: Vector[Vector[(Int, Int, String)]]
  )

  private def loadCases(resource: String): Vector[Case] =
    mapper.readTree(getClass.getResourceAsStream(resource)).asScala.toVector.map { c =>
      def strs(field: String): Vector[String] =
        Option(c.get(field)).map(_.asScala.toVector.map(_.asText())).getOrElse(Vector.empty)
      Case(
        concept = Concept.normalized(
          wikibaseId = c.get("wikibase_id").asText(),
          preferredLabel = c.get("preferred_label").asText(),
          alternativeLabels = strs("alternative_labels"),
          negativeLabels = strs("negative_labels")
        ),
        texts = strs("texts"),
        expected = c.get("expected").asScala.toVector.map { spans =>
          spans.asScala.toVector.map(s => (s.get("start").asInt(), s.get("end").asInt(), s.get("id").asText()))
        }
      )
    }

  private val cases: Vector[Case] = loadCases("/keyword_vectors.json")
  private val fuzzCases: Vector[Case] = loadCases("/keyword_vectors_fuzz.json")

  test("vectors loaded") {
    assert(cases.length >= 10)
    assert(cases.map(_.texts.length).sum >= 100)
  }

  for ((c, ci) <- cases.zipWithIndex) {
    test(s"case $ci '${c.concept.preferredLabel}' matches reference spans and ids") {
      val m = new KeywordMatcher(c.concept)
      c.texts.lazyZip(c.expected).foreach { (text, want) =>
        val got = m.findSpans(text).map(s => (s.start, s.end, s.idFor(text)))
        assert(got == want, s"text=<$text>")
      }
    }
  }

  test("single-concept gazetteer emits identical spans to KeywordMatcher on all vectors") {
    cases.foreach { c =>
      val g = new Gazetteer(Vector(c.concept))
      val m = new KeywordMatcher(c.concept)
      c.texts.foreach { text =>
        assert(
          g.findAll(text)(0) == m.findSpans(text),
          s"concept=${c.concept.preferredLabel} text=<$text>"
        )
      }
    }
  }

  test("fuzz corpus: 60 random concepts x 10 texts match reference spans, ids, gazetteer and presence") {
    assert(fuzzCases.length >= 50)
    fuzzCases.foreach { c =>
      val m = new KeywordMatcher(c.concept)
      val g = new Gazetteer(Vector(c.concept))
      c.texts.lazyZip(c.expected).foreach { (text, want) =>
        val got = m.findSpans(text).map(s => (s.start, s.end, s.idFor(text)))
        assert(got == want, s"concept=${c.concept.preferredLabel} text=<$text>")
        assert(g.findAll(text)(0) == m.findSpans(text), s"gazetteer mismatch text=<$text>")
        assert(g.findPresent(text)(0) == m.findSpans(text).nonEmpty, s"presence mismatch text=<$text>")
      }
    }
  }

  test("fuzz corpus: combined 60-concept gazetteer == per-concept matchers") {
    val g = new Gazetteer(fuzzCases.map(_.concept))
    val matchers = fuzzCases.map(c => new KeywordMatcher(c.concept))
    fuzzCases.flatMap(_.texts).distinct.take(200).foreach { text =>
      val all = g.findAll(text)
      matchers.indices.foreach { i =>
        assert(all(i) == matchers(i).findSpans(text), s"concept=${fuzzCases(i).concept.preferredLabel} text=<$text>")
      }
    }
  }

  test("findPresent (presence fast path) == findAll nonEmpty on every vector text") {
    val concepts = cases.zipWithIndex.map { case (c, i) => c.concept.copy(wikibaseId = s"Q${900 + i}") }
    val g = new Gazetteer(concepts)
    cases.flatMap(_.texts).distinct.foreach { text =>
      val all = g.findAll(text).map(_.nonEmpty).toSeq
      val present = g.findPresent(text).toSeq
      assert(present == all, s"text=<$text>")
    }
  }

  test("combined multi-concept gazetteer == per-concept matchers on every vector text") {
    // distinct wikibase ids so concepts don't collide in one trie
    val concepts = cases.zipWithIndex.map { case (c, i) => c.concept.copy(wikibaseId = s"Q${900 + i}") }
    val g = new Gazetteer(concepts)
    val matchers = concepts.map(new KeywordMatcher(_))
    val texts = cases.flatMap(_.texts).distinct
    texts.foreach { text =>
      val all = g.findAll(text)
      concepts.indices.foreach { i =>
        assert(
          all(i) == matchers(i).findSpans(text),
          s"concept=${concepts(i).preferredLabel} text=<$text>"
        )
      }
    }
  }

  test("cs anchor prefilter is lossless: boundary-failing anchors, absent anchors, true matches") {
    import graft.core.Concept
    import graft.extract.{Gazetteer, KeywordMatcher}
    // labels chosen so the LONGEST word run ('Spark', 'GHG', 'NetZero') is a
    // real anchor; texts place the anchor inside larger words (prefilter
    // passes, regex must still reject on boundaries), omit it entirely
    // (prefilter must prove the miss), or present genuine matches
    val concepts = Vector(
      Concept.normalized("Q201", "motor", Seq("Spark Plug", "plug")),
      Concept.normalized("Q202", "emissions", Seq("GHG")),
      Concept.normalized("Q203", "target", Seq("NetZero-2050"))
    )
    val gaz = new Gazetteer(concepts)
    val matchers = concepts.map(new KeywordMatcher(_))
    val texts = Vector(
      "the Spark Plug fired",            // true cs match
      "sparkly Sparkling aSpark text",   // anchor inside larger words only
      "spark plug lowercase only",       // ci labels may fire, cs must not
      "GHGs and aGHG and GHG",           // boundary fails + one true match
      "no anchors anywhere here",        // prefilter proves the miss
      "NetZero 2050 and NetZero-2050",   // separator-flexible multi-part
      "NetZeroX-2050 almost"             // anchor present, boundary fails
    )
    texts.foreach { t =>
      val all = gaz.findAll(t)
      val present = gaz.findPresent(t)
      concepts.indices.foreach { i =>
        assert(all(i) == matchers(i).findSpans(t), s"spans diverged: '${t}' concept ${concepts(i).wikibaseId}")
        assert(present(i) == matchers(i).findSpans(t).nonEmpty, s"presence diverged: '${t}' ${concepts(i).wikibaseId}")
      }
    }
  }

  test("findPresent(UTF8String) == per-concept KeywordMatcher presence on seeded random concept sets") {
    // concept and text shapes follow tools/gen_fuzz_vectors.py (random
    // single/multi-word labels, separator variants, token-disjoint
    // negatives), widened to every byte class the UTF-8 kernel tells apart
    val rng = new scala.util.Random(20261020)
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val unicodeChars = Vector("é", "中", "文", "\u212a", "\u017f", "\u0130", "\u0131", "\ud835\udc00", "ß", "Δ")
    val seps = Vector(" ", "\t", "\u001c", "\u001d", "\u001e", "\u001f", "-", "–", "—", "\u00a0", "\u0085", "\n", " - ")
    val noise = Vector("lorem", "ipsum", "x9", "_v", "naïve", "end.", "(a)", "b,c", "中文", "\ud83d\ude80",
      "\ud835\udc00bold", "CO₂e", "ΔT", "\u212aelvin", "\u017fort", "a\u001cb", "Sort", "TABLE")
    def pick[T](xs: Vector[T]): T = xs(rng.nextInt(xs.length))
    def word(unicodeP: Double, upperP: Double, digitP: Double): String =
      (0 to rng.nextInt(6)).map { _ =>
        val r = rng.nextDouble()
        if (r < unicodeP) pick(unicodeChars)
        else if (r < unicodeP + digitP) pick(Vector("0", "7", "9", "_"))
        else {
          val c = lower(rng.nextInt(26))
          if (rng.nextDouble() < upperP) c.toUpper.toString else c.toString
        }
      }.mkString
    def label(unicodeP: Double, upperP: Double): String =
      (0 to rng.nextInt(3)).map(_ => word(unicodeP, upperP, 0.05)).mkString(pick(Vector(" ", " ", "-")))
    def randomConcept(id: Int): Concept = {
      if (rng.nextInt(4) == 0) return fuzzCases(rng.nextInt(fuzzCases.length)).concept.copy(wikibaseId = s"Q$id")
      // simple case-insensitive, simple case-sensitive, or unicode labels
      val (unicodeP, upperP) = pick(Vector((0.0, 0.0), (0.0, 0.3), (0.15, 0.15)))
      val pos = (0 to rng.nextInt(3)).map(_ => label(unicodeP, upperP)).toVector
      val negs =
        if (rng.nextBoolean()) Vector.empty
        else
          (0 to rng.nextInt(2)).map { _ =>
            val extra = word(0, if (rng.nextBoolean()) 0 else 0.5, 0)
            if (rng.nextBoolean()) pick(pos) + " " + extra else extra + "-" + pick(pos)
          }.toVector
      Concept.normalized(s"Q$id", pos.head, pos.tail, negativeLabels = negs)
    }
    def variant(lab: String): String = {
      val spaced = lab.split(" ", -1).mkString(pick(seps))
      val cased = rng.nextInt(7) match {
        case 0 => spaced.toUpperCase
        case 1 => spaced.toLowerCase
        case 2 => spaced.map(c => if (rng.nextBoolean()) c.toUpper else c.toLower)
        case 3 => spaced.replace("k", "\u212a").replace("s", "\u017f")
        case 4 => spaced.replace("i", "\u0131").replace("I", "\u0130")
        case _ => spaced
      }
      // a word char glued on either side breaks the label's boundary
      val before = if (rng.nextInt(6) == 0) pick(Vector("x", "7", "_", "é", "中", "\ud835\udc00")) else ""
      val after = if (rng.nextInt(6) == 0) pick(Vector("s", "9", "_", "é", "文", ".")) else ""
      before + cased + after
    }
    // malformed UTF-8: stray continuation bytes, overlong forms (of 'A' and
    // of a space, which must not read as a word char or a separator), an
    // encoded surrogate, past U+10FFFF, invalid lead bytes, a truncated
    // sequence
    val junk = Vector(Array(0x80), Array(0xbf), Array(0xc1, 0x81), Array(0xe0, 0x81, 0x81), Array(0xe0, 0x80, 0xa0),
      Array(0xf0, 0x80, 0x81, 0x81), Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80), Array(0xf8),
      Array(0xff), Array(0xe2, 0x84))
      .map(_.map(_.toByte))
    def corrupt(bytes: Array[Byte]): Array[Byte] = {
      val at = rng.nextInt(bytes.length + 1)
      bytes.take(at) ++ pick(junk) ++ bytes.drop(at)
    }

    var (checked, present, corrupted) = (0, 0, 0)
    for (set <- 0 until 300) {
      val concepts = (0 to rng.nextInt(6)).map(i => randomConcept(5000 + 10 * set + i)).toVector
      val g = new Gazetteer(concepts)
      val matchers = concepts.map(new KeywordMatcher(_))
      val labels = concepts.flatMap(c => c.allLabels ++ c.negativeLabels)
      for (_ <- 0 until 20) {
        val toks = Vector.fill(rng.nextInt(6))(pick(noise)) ++ Vector.fill(rng.nextInt(4))(variant(pick(labels)))
        val text = rng.shuffle(toks).mkString(pick(seps :+ ", "))
        val utf8 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bytes = if (rng.nextInt(3) == 0) { corrupted += 1; corrupt(utf8) } else utf8
        val decoded = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        val got = g.findPresent(UTF8String.fromBytes(bytes)).toVector
        val want = matchers.map(_.findSpans(decoded).nonEmpty)
        assert(got == want, s"concepts=${concepts.map(c => (c.allLabels, c.negativeLabels))} text=<$decoded>")
        checked += 1
        present += want.count(identity)
      }
    }
    info(s"$checked texts, $corrupted with malformed bytes, $present concept presences")
    assert(present > checked / 2, "the generated texts should mention their concepts")
  }

  test("findPresent: negative, case-sensitive and case-folded labels through the trie") {
    val q13 = graft.kg.DemoConceptStore.byId("Q13") // "sort", negative "sort table"
    val csOnly = Concept.normalized("Q901", "Spark SQL Engine")
    val store = graft.kg.DemoConceptStore.concepts :+ csOnly
    val g = new Gazetteer(store)
    val at = store.indexOf(q13)
    def sortPresent(t: String) = g.findPresent(UTF8String.fromString(t))(at)
    assert(!sortPresent("sort table"))
    assert(!sortPresent("Sort-Table"))
    assert(!sortPresent("sort\ttable"))
    assert(sortPresent("sort tables"))
    assert(sortPresent("sort the table, then sort table"))
    def csPresent(t: String) = g.findPresent(UTF8String.fromString(t)).last
    assert(csPresent("Spark SQL Engine"))
    assert(csPresent("the Spark-SQL\u00a0Engine."))
    assert(!csPresent("spark sql engine"))
    assert(!csPresent("SparkSQL Engine"))
    assert(!csPresent("Spark SQL Engines"))
    assert(!csPresent("Spar\u212a SQL Engine"))
    // İ and ı fold to i, as in the reference's re.IGNORECASE
    val window = store.indexWhere(_.wikibaseId == "Q14")
    assert(g.findPresent(UTF8String.fromString("a W\u0130NDOW function"))(window))
    assert(g.findPresent(UTF8String.fromString("w\u0131ndow"))(window))
    val matchers = store.map(new KeywordMatcher(_))
    Seq("sort table", "Sort-Table", "sort\ttable", "sort tables", "Spark SQL Engine", "spark sql engine",
      "SparkSQL Engine", "a W\u0130NDOW function", "w\u0131ndow").foreach { t =>
      assert(g.findPresent(UTF8String.fromString(t)).toVector == matchers.map(_.findSpans(t).nonEmpty), s"text=<$t>")
      assert(g.findAll(t).toVector == matchers.map(_.findSpans(t)), s"spans, text=<$t>")
    }
  }
}
