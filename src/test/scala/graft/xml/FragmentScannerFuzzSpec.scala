package graft.xml

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{ExtractionConfig, ExtractionRule}

/** Scanner fuzz: arbitrary tag soup through the multi-rule scanner must
 * never throw, and every emitted fragment must satisfy the scanner's own
 * contract — a substring-of-input start, per-rule monotone sequence numbers,
 * and the rule's start pattern at position 0. */
class FragmentScannerFuzzSpec extends AnyFunSuite {

  private def rule(spec: String): ExtractionRule =
    ExtractionConfig.parseRule(spec, ";", "#")

  private val rules = Vector(
    rule("book;true;false; ;0#//book/@id;"),
    rule("address;false;true; ;0#//address/phone/text();"),
    rule("meta;true;true; ;0#//meta/@v;"))

  private def invariants(doc: String, frags: Vector[Fragment]): Unit = {
    frags.groupBy(_.ruleIndex).foreach { case (_, fs) =>
      assert(fs.map(_.seq) == fs.map(_.seq).sorted, "per-rule seq must ascend")
    }
    frags.foreach { f =>
      assert(f.ruleIndex >= 0 && f.ruleIndex < rules.length)
      val start = rules(f.ruleIndex).startPattern
      assert(f.xml.startsWith(start.stripSuffix(" ").stripSuffix(">")) ||
        f.xml.startsWith(start),
        s"fragment must open with its rule's start pattern: ${f.xml.take(40)}")
    }
  }

  test("random tag soup never throws and emitted fragments honor the contract") {
    val rnd = new Random(1234)
    val atoms = Array("<book ", "<address>", "</address>", "<meta ", "id=\"x\"",
      ">", "<", "</book>", "text", "\"", "<boo", "k>", "<<>>", " ", "</meta>",
      "<address", "/>", "v=\"y\"", "&lt;", "\u0000", "é")
    for (_ <- 0 until 2000) {
      val doc = (0 until rnd.nextInt(40)).map(_ => atoms(rnd.nextInt(atoms.length))).mkString
      invariants(doc, FragmentScanner.scan(doc, rules))
    }
  }

  test("single-character deletions of a valid document never throw") {
    val doc = """<store><address><phone>123</phone></address>""" +
      """<meta v="a"></meta><book id="bk101" s="3"><title>T</title></book></store>"""
    for (i <- doc.indices) {
      val mutated = doc.substring(0, i) + doc.substring(i + 1)
      invariants(mutated, FragmentScanner.scan(mutated, rules))
    }
  }

  // ------------------------------------------------------------------
  // Deep-nesting differential fuzz (SURVEY §2.10 #5/#6 boundary cases):
  // SAME-TAG rule twins make every match run the shared-end-tag peek path
  // (#6 — the end pattern comes from the highest-index twin while the
  // emitted rule is the lowest whose filter passes, so INCLUDE_CHILDREN
  // interleaves ACROSS the peek), and self-nested elements exercise the
  // first-end-tag truncation (#5 — a truncated <sect><sect></sect> plus the
  // emitted rule's synthetic close recombines into well-formed XML, while a
  // flat <sect>…</sect> plus the same close is malformed and must drop).
  // Every emitted fragment is projected by three engines — the
  // StaxRuleEvaluator's char pass and its StAX reader pass, each forced
  // through its package-private entry, and DOM+javax XPath — which must agree
  // exactly: same per-column concatenations in `order` order, or both
  // dropping the fragment; the char pass may instead decline, and `eval`
  // (char pass, else reader pass) must equal DOM as well. As in extractRows,
  // ONE StaxRuleEvaluator per rule serves the whole corpus, so well-formed,
  // declined and dropped fragments interleave on the same instance and every
  // call must start from clean state.

  private val deepRules = Vector(
    // includeChildren=false, but the peeked end tag is the true twin's
    // "</sect>" — depth-sensitive projections probe the truncation boundary;
    // listed out of order, so the evaluator must return them sorted
    rule("sect;true;false; ;2#//sect/text();0#//sect/@d;1#//sect/sect/@d;"),
    rule("sect;true;true; ;0#//sect/@d;"),
    // substring filter bk1 (matches bk1, bk10..bk19, bk100..): which twin
    // emits depends on the attribute window, the #6 stack-iteration rule
    rule("book;true;true;bk1;0#//book/@id;"),
    // whole subtrees: sibling text projections at one depth, and a step
    // above the last that decides the match
    rule("book;true;true; ;0#//book/@s;1#//filler/item/@v;2#//item/text();3#//sect/text();"),
    rule("item;true;false; ;0#//item/@v;"))

  private def staxEvaluator(rule: graft.config.ExtractionRule): StaxRuleEvaluator =
    new StaxRuleEvaluator(rule.xpaths
      .map(p => (p.order, StaxProjector.compile(p.xpath).getOrElse(fail(s"uncompilable ${p.xpath}"))))
      .toIndexedSeq)

  private def staxEval(eval: StaxRuleEvaluator, xml: String): Option[Seq[(Int, String)]] =
    try Some(eval.eval(xml))
    catch { case _: Exception => None }

  private def readerEval(eval: StaxRuleEvaluator, xml: String): Option[Seq[(Int, String)]] =
    try Some(eval.readerPass(xml))
    catch { case _: Exception => None }

  /** The three engines on one fragment: the char pass (None where it declines),
   * the reader pass and `eval` (None where they drop), each checked against DOM.
   * Returns whether the char pass served the fragment. */
  private def agree(eval: StaxRuleEvaluator, rule: graft.config.ExtractionRule, xml: String): Boolean = {
    val chars = Option(eval.charPass(xml))
    val reader = readerEval(eval, xml)
    val dom = domEval(rule, xml)
    assert(reader == dom, s"reader pass and DOM disagree on ${rule.element}:\n$xml\nreader=$reader dom=$dom")
    assert(chars.forall(c => dom.contains(c)), s"char pass and DOM disagree on ${rule.element}:\n$xml\nchars=$chars dom=$dom")
    assert(staxEval(eval, xml) == dom, s"eval and DOM disagree on ${rule.element}:\n$xml")
    chars.isDefined
  }

  /** The reference: one DOM parse built as the product's DOM fallback builds
   * it (namespace-aware and coalescing, which is XPath 1.0's data model),
   * every projection as a NODESET, results sorted stably by order. */
  private def domEval(rule: graft.config.ExtractionRule, xml: String): Option[Seq[(Int, String)]] =
    try {
      val factory = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      factory.setNamespaceAware(true)
      factory.setCoalescing(true)
      val builder = factory.newDocumentBuilder()
      // quiet handler: malformed fragments are EXPECTED here (truncation
      // drops) — the default handler spams [Fatal Error] to stderr
      builder.setErrorHandler(new org.xml.sax.helpers.DefaultHandler())
      val doc = builder
        .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
      val xp = javax.xml.xpath.XPathFactory.newInstance().newXPath()
      Some(rule.xpaths.flatMap { p =>
        val nodes = xp.compile(p.xpath)
          .evaluate(doc, javax.xml.xpath.XPathConstants.NODESET)
          .asInstanceOf[org.w3c.dom.NodeList]
        if (nodes.getLength == 0) None
        else Some(p.order ->
          (0 until nodes.getLength).map(nodes.item(_).getNodeValue).mkString)
      }.sortBy(_._1))
    } catch { case _: Exception => None }

  private def genTree(depth: Int, rnd: Random): String = {
    if (depth == 0) return s"t${rnd.nextInt(10)}"
    val kids = (0 until rnd.nextInt(4)).map(_ => genTree(depth - 1, rnd)).mkString
    rnd.nextInt(14) match {
      case 0 => s"""<sect d="${rnd.nextInt(100)}">$kids</sect>"""
      case 1 => s"""<book id="bk${rnd.nextInt(200)}" s="${rnd.nextInt(9)}">$kids</book>"""
      case 2 => s"""<item v="i${rnd.nextInt(50)}">$kids</item>"""
      case 3 => s"<filler>$kids</filler>"
      case 4 => s"t${rnd.nextInt(10)}$kids"
      case 5 => kids
      // a prefixed twin: same local name and attribute, but in a namespace,
      // which no unprefixed name test selects
      case 6 => s"""<x:sect xmlns:x="urn:x" d="n${rnd.nextInt(100)}">$kids</x:sect>"""
      case 7 => s"<![CDATA[c${rnd.nextInt(10)}<&>]]>$kids"
      case 8 => s"e${rnd.nextInt(10)}&amp;&lt;$kids"
      case 9 => s"<!--m${rnd.nextInt(10)}-->$kids"
      case 10 => s"<?pi p${rnd.nextInt(10)}?>$kids"
      // whitespace text, which may be all of an element's direct text
      case 11 => s"\n  $kids"
      // a single-quoted value holding `"` and an entity, and an end tag with
      // whitespace before its `>`
      case 12 => s"""<item v='i"${rnd.nextInt(50)}&apos;'>$kids</item >"""
      // a tab inside an attribute value, which a reader normalizes to a space
      case 13 => s"""<sect d="${rnd.nextInt(100)}\t">$kids</sect>"""
    }
  }

  test("deep nesting + shared-start twins: StAX and DOM projections agree on every fragment") {
    val rnd = new Random(777)
    val evals = deepRules.map(staxEvaluator)
    val lastDropped = Array.fill(deepRules.length)(false)
    var charServed = 0
    var parsed = 0
    var dropped = 0
    var deepMatches = 0
    var parsedAfterDrop = 0
    var markupValues = 0
    var nsParsed = 0
    for (_ <- 0 until 800) {
      val doc = s"<root>${(0 until 1 + rnd.nextInt(3)).map(_ => genTree(5, rnd)).mkString}</root>"
      val frags = FragmentScanner.scan(doc, deepRules)
      frags.groupBy(_.ruleIndex).foreach { case (_, fs) =>
        assert(fs.map(_.seq) == fs.map(_.seq).sorted, "per-rule seq must ascend")
      }
      frags.foreach { f =>
        if (agree(evals(f.ruleIndex), deepRules(f.ruleIndex), f.xml)) charServed += 1
        val stax = staxEval(evals(f.ruleIndex), f.xml)
        if (stax.isEmpty) dropped += 1 else parsed += 1
        if (stax.nonEmpty && lastDropped(f.ruleIndex)) parsedAfterDrop += 1
        lastDropped(f.ruleIndex) = stax.isEmpty
        if (f.ruleIndex == 0 && stax.exists(_.exists(_._1 == 1))) deepMatches += 1
        if (stax.exists(_.exists(t => t._2.contains("&") || t._2.contains("<")))) markupValues += 1
        if (stax.nonEmpty && f.xml.contains("<x:sect")) nsParsed += 1
      }
    }
    // the corpus must actually exercise both boundaries, not vacuously agree
    assert(parsed > 100, s"too few well-formed fragments projected: $parsed")
    assert(charServed > 100, s"too few fragments served by the char pass: $charServed")
    assert(parsed - charServed > 100, s"too few fragments served by the reader pass: ${parsed - charServed}")
    assert(dropped > 100, s"too few truncation-malformed fragments dropped: $dropped")
    assert(deepMatches > 10,
      s"self-nested //sect/sect/@d should match on recombined fragments: $deepMatches")
    assert(parsedAfterDrop > 50,
      s"a reused evaluator should project right after dropping: $parsedAfterDrop")
    assert(markupValues > 20, s"CDATA / entity text should reach projected values: $markupValues")
    assert(nsParsed > 20, s"prefixed twins should sit in projected fragments: $nsParsed")
  }

  test("adversarial fragments: the char pass declines outside its subset, and every engine agrees") {
    // each fragment, with whether the char pass serves it
    val cases = Seq(
      "<sect d=\"1\">a\r\nb</sect>" -> false, // CRLF
      "<sect d=\"1\">a\rb</sect>" -> false, // lone CR
      "<sect d=\"a\tb\"><sect d=\"c\nd\"></sect></sect>" -> false, // tab and LF in values
      "<sect d=\"&#65;\">&#x41;</sect>" -> false, // character references
      "<sect d=\"1\">a]]>b</sect>" -> false, // `]]>` in text: malformed
      "<sect d=\"1\">a]b</sect>" -> false, // a lone `]` is well-formed
      "<sect d=\"1\">a\u0001b</sect>" -> false, // C0 control: malformed
      "<sect d=\"1\" d=\"2\">t</sect>" -> false, // duplicate attribute: malformed
      "<sect xmlns=\"urn:y\" d=\"1\">t</sect>" -> false, // default namespace
      "<x:sect d=\"1\">t</x:sect>" -> false, // unbound prefix: malformed
      "<book id='x'/></book>" -> false, // content after the root: malformed
      "<sect d=\"1\">t</sect><sect d=\"2\">u</sect>" -> false, // a second root: malformed
      "<sect d=\"\uD834\uDD1E\">\uD834\uDD1E</sect>" -> false, // supplementary plane
      "<sect d=\"1\"><sect d=\"2\">t</sect ></sect\n>" -> true, // whitespace in end tags
      "<sect d='a\"b&quot;'>t&lt;&amp;&gt;</sect>" -> true, // `"` in a single-quoted value
      "<book id=\"bk1\" s=\"2\">\n  <item v=\"i\">x</item>\n</book>" -> true, // whitespace text
      "<sect d=\"1\">\n  <sect d=\"2\"> </sect>\n</sect>" -> true, // text that is all whitespace
      "<sect d=\"\u00e9\">\u00e9\u4e2d</sect>" -> true) // BMP characters
    val evals = deepRules.map(staxEvaluator)
    for ((xml, served) <- cases; (rule, eval) <- deepRules.zip(evals))
      assert(agree(eval, rule, xml) == served, s"char pass ${if (served) "declined" else "served"}: $xml")
    // the malformed cases are dropped by every engine, not vacuously equal
    for (xml <- Seq(cases(4), cases(6), cases(7), cases(9), cases(10), cases(11)).map(_._1))
      assert(readerEval(evals(0), xml).isEmpty && domEval(deepRules(0), xml).isEmpty, xml)
  }
}
