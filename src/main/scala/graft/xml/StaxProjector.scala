package graft.xml

import java.io.StringReader
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

/**
 * Streaming (StAX) evaluator for the XPath subset the reference's config
 * grammar actually uses (`README.md:239-252` — every shipped config is
 * `//path/steps/@attr` or `//path/steps/text()`): one pull-parse pass per
 * fragment evaluates ALL of a rule's projections simultaneously, with no DOM
 * materialization — the DOM build was the measured bottleneck of the
 * extraction pipeline (~10 MB/s/core; see PLANS.md).
 *
 * Semantics are exactly XPath-1.0-over-DOM for the supported forms:
 *  - `//a/b/@id`: every element with local path suffix `a/b` (no namespace,
 *    like an unprefixed XPath name test) contributes its `id` attribute value
 *    if present, in document order;
 *  - `//a/b/text()`: every DIRECT text/CDATA child of each matched `b`, in
 *    document order (descendant text excluded, like the DOM `text()` step);
 *  - `/a/b/...`: absolute — the element path must match from the fragment
 *    root;
 *  - matched values are concatenated with no separator (the reference's
 *    NodeList fold, `XmlExtractor.java:97-117`).
 *
 * Anything outside the grammar (predicates, wildcards, `..`, functions,
 * prefixes) does not compile here and the caller falls back to the DOM+XPath
 * evaluator for that rule, so full XPath remains available.
 */
object StaxProjector {

  /** A compiled subset pattern: element path steps + `@attr` (null = text()). */
  final case class CompiledPath(steps: Array[String], attr: String, absolute: Boolean)

  private val Name = "[A-Za-z_][A-Za-z0-9_.-]*"
  private val NameRe = Name.r

  /** Compile an XPath string into the subset, or None when unsupported. */
  def compile(xpath: String): Option[CompiledPath] = {
    val (absolute, rest) =
      if (xpath.startsWith("//")) (false, xpath.substring(2))
      else if (xpath.startsWith("/")) (true, xpath.substring(1))
      else return None
    val parts = rest.split("/", -1)
    if (parts.length < 1 || parts.exists(_.isEmpty)) return None
    val (stepParts, attr) = parts.last match {
      case "text()" => (parts.init, null)
      case a if a.startsWith("@") && NameRe.matches(a.substring(1)) =>
        (parts.init, a.substring(1))
      case _ => return None
    }
    if (stepParts.isEmpty || !stepParts.forall(NameRe.matches)) None
    else Some(CompiledPath(stepParts, attr, absolute))
  }
}


/**
 * Per-partition, per-rule evaluator of compiled subset paths: `eval` returns
 * `(order, concatenatedValue)` for every projection that matched at least one
 * node, ordered by `order` (stably, so projections sharing an order keep their
 * given order) — the order the reference's shuffle delivers a fragment's
 * tuples in (`XmlReducerKeySortComparator.java:21-24`).
 *
 * Two passes give one answer:
 *  - the **char pass** copies the fragment once into a reused `char[]`, keeps
 *    the open element names as offsets into it, and decodes only the captured
 *    attribute values and direct text. It accepts a strict well-formed subset
 *    of XML 1.0:
 *    - one root element and nothing before or after it;
 *    - names of `[A-Za-z_][A-Za-z0-9_.-]*` not starting with `xml`, so no
 *      prefixes and no `xmlns`; no duplicate attribute;
 *    - no comment, CDATA section, PI or DOCTYPE;
 *    - references to the five predefined entities only (`&#65;` declines);
 *    - no CR, no other control character but tab and LF (U+007F-U+009F
 *      included), no surrogate (so no supplementary character), no U+FFFE or
 *      U+FFFF, no `]` in text, and no tab or LF inside an attribute value.
 *  - the **reader pass** pull-parses the fragment with the StAX reader, for
 *    everything else; it throws on malformed XML.
 *
 * The char pass never throws. It declines any fragment outside its subset,
 * well-formed or not, and the reader pass then runs, so whether a malformed
 * fragment is dropped stays the reader's decision. On the subset both passes
 * give the same values, which `FragmentScannerFuzzSpec` checks against each
 * other and against the DOM reference.
 *
 * Contract: one instance per partition (per task), called from one thread.
 * The instance is NOT thread-safe: the reader factory, the element-name
 * stacks, the fragment buffer, the text-collection table and the value
 * builders are reused by every call and reset on entry, so a call that
 * declines or throws leaves nothing behind for the next.
 */
final class StaxRuleEvaluator(projections: IndexedSeq[(Int, StaxProjector.CompiledPath)]) {

  private lazy val factory = {
    val f = XMLInputFactory.newInstance()
    // fragments are scanner-extracted element subtrees: no DTDs, no external
    // entities — fail closed like the hardened config parser
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  private val byOrder = projections.sortBy(_._1)
  private val orders = byOrder.map(_._1).toArray
  private val paths = byOrder.map(_._2).toArray
  private val n = paths.length
  // projection indices by the name of their last step: a start tag tests only these
  private val byLastStep = {
    val m = new java.util.HashMap[String, Array[Int]]
    paths.indices.toArray.groupBy(i => paths(i).steps.last).foreach { case (k, v) => m.put(k, v) }
    m
  }
  // the same index for the char pass, and every step and attribute name as chars
  private val lastNames = paths.map(_.steps.last).distinct.map(_.toCharArray)
  private val lastProjections = lastNames.map(c => byLastStep.get(new String(c)))
  private val stepChars = paths.map(_.steps.map(_.toCharArray))
  private val attrChars = paths.map(p => if (p.attr == null) null else p.attr.toCharArray)

  // per projection: the concatenated value, and whether any node matched
  // (a matched empty attribute still yields a tuple)
  private val out = Array.fill(n)(new java.lang.StringBuilder)
  private val hit = new Array[Boolean](n)
  // open elements, root at 0; `depth` of them are live. The reader pass keeps
  // their names, null for a namespaced element (which no unprefixed name test
  // selects); the char pass keeps their offsets and lengths in `buf`.
  private var names = new Array[String](16)
  private var nameAt = new Array[Int](names.length)
  private var nameLen = new Array[Int](names.length)
  // textAt(d * n + i): projection i collects the DIRECT text of the element
  // open at depth d; textAny(d): some projection does. Both are rewritten for
  // depth d at each start tag, so no reset is needed; depth 0 (outside the
  // root) is never written and stays false.
  private var textAt = new Array[Boolean]((names.length + 1) * n)
  private var textAny = new Array[Boolean](names.length + 1)
  // the char pass's copy of the fragment, and the current start tag's
  // attributes as (name offset, name length, value start, value end) in `buf`
  private var buf = new Array[Char](4096)
  private var attrs = new Array[Int](4 * 8)
  private var selfClosed = false

  /** One fragment's tuples: the char pass, or the reader pass where it declines.
   * Throws on malformed XML (the caller drops the fragment, matching the DOM
   * evaluator's catch-all). */
  def eval(xml: String): Seq[(Int, String)] = {
    val viaChars = charPass(xml)
    if (viaChars ne null) viaChars else readerPass(xml)
  }

  /** The char pass alone: the tuples, or null when the fragment is outside the
   * accepted subset. Never throws. */
  private[xml] def charPass(xml: String): Seq[(Int, String)] = {
    val len = xml.length
    if (len > buf.length) buf = new Array[Char](math.max(len, 2 * buf.length))
    xml.getChars(0, len, buf, 0)
    val b = buf
    reset()
    if (len == 0 || b(0) != '<') return null
    var depth = 0
    var p = 0
    while (p < len) {
      if (b(p) == '<') {
        if (p + 1 == len) return null
        if (b(p + 1) == '/') { // end tag: the open name, optional whitespace, '>'
          if (depth == 0) return null
          val d = depth - 1
          val at = nameAt(d)
          val l = nameLen(d)
          var q = p + 2
          if (q + l >= len) return null
          var j = 0
          while (j < l) { if (b(q + j) != b(at + j)) return null; j += 1 }
          q += l
          while (q < len && isSpace(b(q))) q += 1
          if (q == len || b(q) != '>') return null
          depth = d
          p = q + 1
          if (depth == 0 && p != len) return null
        } else {
          val q = startTag(p + 1, len, depth)
          if (q < 0) return null
          p = q
          if (!selfClosed) depth += 1
          else if (depth == 0 && p != len) return null
        }
      } else { // direct text of the element open at `depth`
        if (depth == 0) return null
        val from = p
        var c = b(p)
        while (c != '<') {
          if (c == '&') {
            val e = entityLen(p, len)
            if (e == 0) return null
            p += e
          } else if ((plain(c) && c != ']') || c == '\t' || c == '\n') p += 1
          else return null
          if (p == len) return null
          c = b(p)
        }
        if (textAny(depth)) {
          val row = depth * n
          var i = 0
          while (i < n) {
            if (textAt(row + i)) { appendDecoded(out(i), from, p); hit(i) = true }
            i += 1
          }
        }
      }
    }
    if (depth != 0) return null
    result()
  }

  /** The start tag whose name begins at `at`, pushed as depth `depth + 1`:
   * its projections capture attributes or open text collection. Returns the
   * position after the tag (`selfClosed` tells whether it was `/>`), or -1
   * when the tag is outside the char pass's subset. */
  private def startTag(at: Int, len: Int, depth: Int): Int = {
    val b = buf
    if (at == len || !nameStart(b(at)) || reserved(at, len)) return -1
    var q = at + 1
    while (q < len && nameChar(b(q))) q += 1
    val nameEnd = q
    var na = 0
    selfClosed = false
    var open = true
    while (open) {
      if (q == len) return -1
      val c = b(q)
      if (c == '>') { q += 1; open = false }
      else if (c == '/') {
        if (q + 1 == len || b(q + 1) != '>') return -1
        q += 2; selfClosed = true; open = false
      } else if (!isSpace(c)) return -1
      else {
        while (q < len && isSpace(b(q))) q += 1
        if (q == len) return -1
        if (b(q) != '>' && b(q) != '/') { // name S? = S? quoted value
          val an = q
          if (!nameStart(b(q)) || reserved(q, len)) return -1
          q += 1
          while (q < len && nameChar(b(q))) q += 1
          val anl = q - an
          while (q < len && isSpace(b(q))) q += 1
          if (q == len || b(q) != '=') return -1
          q += 1
          while (q < len && isSpace(b(q))) q += 1
          if (q == len || (b(q) != '"' && b(q) != '\'')) return -1
          val quote = b(q)
          q += 1
          val vs = q
          while (q < len && b(q) != quote) {
            val v = b(q)
            if (v == '&') {
              val e = entityLen(q, len)
              if (e == 0) return -1
              q += e
            } else if (plain(v) && v != '<') q += 1
            else return -1
          }
          if (q == len) return -1
          var k = 0
          while (k < na) {
            if (attrs(4 * k + 1) == anl && same(attrs(4 * k), an, anl)) return -1
            k += 1
          }
          if (4 * na == attrs.length) attrs = java.util.Arrays.copyOf(attrs, 2 * attrs.length)
          attrs(4 * na) = an; attrs(4 * na + 1) = anl; attrs(4 * na + 2) = vs; attrs(4 * na + 3) = q
          na += 1
          q += 1
        }
      }
    }
    if (depth == names.length) grow()
    nameAt(depth) = at
    nameLen(depth) = nameEnd - at
    val d = depth + 1
    val row = d * n
    java.util.Arrays.fill(textAt, row, row + n, false)
    textAny(d) = false
    var k = 0
    while (k < lastNames.length && !sameAs(at, nameEnd - at, lastNames(k))) k += 1
    if (k < lastNames.length) {
      val candidates = lastProjections(k)
      var c = 0
      while (c < candidates.length) {
        val i = candidates(c)
        if (charPathMatches(i, d)) {
          val attr = attrChars(i)
          if (attr == null) { textAt(row + i) = true; textAny(d) = true }
          else {
            var a = 0
            while (a < na && !sameAs(attrs(4 * a), attrs(4 * a + 1), attr)) a += 1
            if (a < na) { appendDecoded(out(i), attrs(4 * a + 2), attrs(4 * a + 3)); hit(i) = true }
          }
        }
        c += 1
      }
    }
    q
  }

  private def isSpace(c: Char): Boolean = c == ' ' || c == '\n' || c == '\t'
  private def nameStart(c: Char): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_'
  private def nameChar(c: Char): Boolean =
    nameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '.'
  // a character the char pass copies as it is (markup and tab/LF are tested apart)
  private def plain(c: Char): Boolean =
    (c >= 0x20 && c < 0x7f) || (c >= 0xa0 && c < 0xd800) || (c >= 0xe000 && c < 0xfffe)
  // a name starting with `xml` (reserved: `xmlns`, `xml:lang`, ...)
  private def reserved(at: Int, len: Int): Boolean =
    at + 2 < len && buf(at) == 'x' && buf(at + 1) == 'm' && buf(at + 2) == 'l'

  private def same(a: Int, b: Int, l: Int): Boolean = {
    var j = 0
    while (j < l && buf(a + j) == buf(b + j)) j += 1
    j == l
  }

  private def sameAs(at: Int, l: Int, name: Array[Char]): Boolean =
    l == name.length && {
      var j = 0
      while (j < l && buf(at + j) == name(j)) j += 1
      j == l
    }

  /** Length of the predefined entity reference at `q` (`&lt;`, `&gt;`, `&amp;`,
   * `&quot;`, `&apos;`), or 0 for anything else. */
  private def entityLen(q: Int, len: Int): Int = {
    def is(j: Int, c: Char) = q + j < len && buf(q + j) == c
    if ((is(1, 'l') || is(1, 'g')) && is(2, 't') && is(3, ';')) 4
    else if (is(1, 'a') && is(2, 'm') && is(3, 'p') && is(4, ';')) 5
    else if (is(1, 'q') && is(2, 'u') && is(3, 'o') && is(4, 't') && is(5, ';')) 6
    else if (is(1, 'a') && is(2, 'p') && is(3, 'o') && is(4, 's') && is(5, ';')) 6
    else 0
  }

  /** Append `buf[from, to)` with its (already validated) entity references decoded. */
  private def appendDecoded(sb: java.lang.StringBuilder, from: Int, to: Int): Unit = {
    var run = from
    var q = from
    while (q < to) {
      if (buf(q) == '&') {
        sb.append(buf, run, q - run)
        val c = buf(q + 1)
        sb.append(if (c == 'l') '<' else if (c == 'g') '>' else if (c == 'q') '"' else if (buf(q + 2) == 'm') '&' else '\'')
        q += entityLen(q, to)
        run = q
      } else q += 1
    }
    sb.append(buf, run, to - run)
  }

  /** The reader pass alone: one StAX pull-parse; throws on malformed XML. */
  private[xml] def readerPass(xml: String): Seq[(Int, String)] = {
    reset()
    var depth = 0
    val reader = factory.createXMLStreamReader(new StringReader(xml))
    try {
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            if (depth == names.length) grow()
            val ns = reader.getNamespaceURI
            val name = if (ns == null || ns.isEmpty) reader.getLocalName else null
            names(depth) = name
            depth += 1
            val row = depth * n
            java.util.Arrays.fill(textAt, row, row + n, false)
            textAny(depth) = false
            val candidates = if (name == null) null else byLastStep.get(name)
            var c = 0
            while (candidates != null && c < candidates.length) {
              val i = candidates(c)
              val p = paths(i)
              if (pathMatches(p, depth)) {
                if (p.attr != null) {
                  val v = reader.getAttributeValue(null, p.attr)
                  if (v != null) { out(i).append(v); hit(i) = true }
                } else {
                  textAt(row + i) = true
                  textAny(depth) = true
                }
              }
              c += 1
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if textAny(depth) =>
            val row = depth * n
            var i = 0
            while (i < n) {
              if (textAt(row + i)) {
                out(i).append(reader.getTextCharacters, reader.getTextStart, reader.getTextLength)
                hit(i) = true
              }
              i += 1
            }
          case XMLStreamConstants.END_ELEMENT =>
            depth -= 1
          case _ =>
        }
      }
    } finally reader.close()
    result()
  }

  private def reset(): Unit = {
    var i = 0
    while (i < n) { out(i).setLength(0); hit(i) = false; i += 1 }
  }

  private def result(): Seq[(Int, String)] = {
    var result: List[(Int, String)] = Nil
    var i = n - 1
    while (i >= 0) {
      if (hit(i)) result = (orders(i), out(i).toString) :: result
      i -= 1
    }
    result
  }

  private def grow(): Unit = {
    names = java.util.Arrays.copyOf(names, names.length * 2)
    nameAt = java.util.Arrays.copyOf(nameAt, names.length)
    nameLen = java.util.Arrays.copyOf(nameLen, names.length)
    textAt = java.util.Arrays.copyOf(textAt, (names.length + 1) * n)
    textAny = java.util.Arrays.copyOf(textAny, names.length + 1)
  }

  /** Whether the `depth` open elements end with (or, absolute, equal) `p`'s
   * steps; the innermost is already known to match the last step. */
  private def pathMatches(p: StaxProjector.CompiledPath, depth: Int): Boolean = {
    val steps = p.steps
    if (p.absolute && depth != steps.length) return false
    if (depth < steps.length) return false
    val off = depth - steps.length
    var s = steps.length - 2
    while (s >= 0) {
      if (steps(s) != names(off + s)) return false
      s -= 1
    }
    true
  }

  /** [[pathMatches]] of projection `i` over the char pass's name offsets. */
  private def charPathMatches(i: Int, depth: Int): Boolean = {
    val steps = stepChars(i)
    if (paths(i).absolute && depth != steps.length) return false
    if (depth < steps.length) return false
    val off = depth - steps.length
    var s = steps.length - 2
    while (s >= 0) {
      if (!sameAs(nameAt(off + s), nameLen(off + s), steps(s))) return false
      s -= 1
    }
    true
  }
}
