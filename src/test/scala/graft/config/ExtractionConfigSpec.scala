package graft.config

import org.scalatest.funsuite.AnyFunSuite

class ExtractionConfigSpec extends AnyFunSuite {

  def res(name: String): String = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(s"/$name"), "UTF-8")
    try src.mkString finally src.close()
  }

  test("parses ExtractInventory.xml (4 rules, 6 columns, ; and # delimiters)") {
    val c = ExtractionConfig.fromXml(res("ExtractInventory.xml"))
    assert(c.delimiter == ";")
    assert(c.sortOrderDelimiter == "#")
    assert(c.outputDelimiter == ";")
    assert(c.nrOfColumns == 6)
    assert(c.triggerOrder == 5)
    assert(c.rules.map(_.element) == Seq("store", "address", "inventory", "book"))

    val store = c.rules(0)
    assert(store.hasAttributes && !store.includeChildren)
    assert(store.requiredAttrSubstring.isEmpty)
    assert(store.xpaths == Seq(XPathProjection(0, "//store/@name")))
    assert(store.startPattern == "<store " && store.endPattern == ">")
    assert(store.bufferAddition == "</store>")

    val address = c.rules(1)
    assert(!address.hasAttributes && address.includeChildren)
    assert(address.startPattern == "<address>" && address.endPattern == "</address>")
    assert(address.bufferAddition == "")

    val inventory = c.rules(2)
    assert(inventory.xpaths == Seq(
      XPathProjection(2, "//inventory/@month"), XPathProjection(3, "//inventory/@day")))
  }

  test("parses ExtractBook.xml: book rule carries required-attribute substring bk106") {
    val c = ExtractionConfig.fromXml(res("ExtractBook.xml"))
    val book = c.rules.find(_.element == "book").get
    assert(book.requiredAttrSubstring.contains("bk106"))
    // the other rules keep the single-space no-filter sentinel
    assert(c.rules.filterNot(_.element == "book").forall(_.requiredAttrSubstring.isEmpty))
  }

  test("single-space ATTRIBUTE_VALUE sentinel means no filter") {
    val r = ExtractionConfig.parseRule("e;true;true; ;0#//e/@x;", ";", "#")
    assert(r.requiredAttrSubstring.isEmpty)
  }

  test("rule with a real attribute filter keeps it verbatim") {
    val r = ExtractionConfig.parseRule("book;true;false;bk1;4#//book/@id;", ";", "#")
    assert(r.requiredAttrSubstring.contains("bk1"))
  }

  test("multiple ORDER#XPATH pairs, trailing delimiter tolerated") {
    val r = ExtractionConfig.parseRule("inv;true;false; ;2#//a;3#//b;", ";", "#")
    assert(r.xpaths == Seq(XPathProjection(2, "//a"), XPathProjection(3, "//b")))
  }

  test("custom delimiters") {
    val r = ExtractionConfig.parseRule("e|false|true|x|1@//e/text()", "|", "@")
    assert(r.element == "e" && !r.hasAttributes && r.includeChildren)
    assert(r.requiredAttrSubstring.contains("x"))
    assert(r.xpaths == Seq(XPathProjection(1, "//e/text()")))
  }

  private def withOrder(order: Int): ExtractionConfig = ExtractionConfig.fromProperties(Map(
    ExtractionConfig.DelimiterKey -> ";",
    ExtractionConfig.SortOrderDelimiterKey -> "#",
    ExtractionConfig.OutputDelimiterKey -> ";",
    ExtractionConfig.NodesKey -> "e;",
    ExtractionConfig.NrOfColumnsKey -> "2",
    "e" -> s"e;true;false; ;0#//e/@a;$order#//e/@b;"))

  test("a projection order equal to nr_of_columns is rejected, naming rule and projection") {
    assert(withOrder(1).rules.head.xpaths.map(_.order) == Seq(0, 1))
    val e = intercept[IllegalArgumentException](withOrder(2))
    assert(e.getMessage.contains("rule 'e'") && e.getMessage.contains("'2#//e/@b'"), e.getMessage)
  }

  test("a negative projection order is rejected, naming rule and projection") {
    val e = intercept[IllegalArgumentException](withOrder(-1))
    assert(e.getMessage.contains("rule 'e'") && e.getMessage.contains("'-1#//e/@b'"), e.getMessage)
  }
}
