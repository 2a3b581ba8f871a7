package graft.perfbench

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

/** The benchmark's own tests: deterministic generators, and checkers that
 * reject planted defects. Returns the process exit code. */
object SelfTest {
  private val xmlSpec = XmlSpec(docs = 6, booksPerDoc = 40, bodyWords = 5, hitRate = 0.2, genreMissRate = 0.3)
  private val textSpec = TextSpec(docs = 300, words = 80, clusters = 20, maxClusterSize = 5, vocab = 4000)

  def run(): Int = {
    val failures = ArrayBuffer.empty[String]
    var checks = 0
    def expect(ok: Boolean, what: String): Unit = {
      checks += 1
      if (!ok) failures += what
    }

    // generators: byte-identical for a seed, different across seeds
    for ((name, gen) <- Seq[(String, Long => String)]("xml" -> xmlCorpus, "text" -> textCorpus)) {
      expect(sha(gen(7)) == sha(gen(7)), s"$name generator is not deterministic for one seed")
      expect(sha(gen(7)) != sha(gen(8)), s"$name generator ignores the seed")
    }
    expect((0 until 70000).map(Words(_)).distinct.size == 70000, "vocabulary words repeat")

    // the truth itself: fill-down rows exist, the filter keeps some books but not all
    val stores = (0 until xmlSpec.docs).map(XmlGen.store(xmlSpec, 7, _))
    val dense = stores.flatMap(XmlGen.denseLines)
    val sparse = stores.flatMap(XmlGen.sparseLines)
    expect(dense.size == xmlSpec.docs * xmlSpec.booksPerDoc, "one dense row per book")
    expect(sparse.nonEmpty && sparse.size < dense.size, "the sparse filter keeps some books, not all")
    expect(stores.flatMap(_.inventories.flatMap(_.books)).exists(_.genre == null) &&
      dense.forall(_.split(";", -1).length == 12), "rows with a carried genre have 11 columns")

    // line checker: accepts a permutation, rejects one dropped line and one altered field
    val want = Digest.of(dense.iterator)
    def lineCheck(actual: Seq[String]) = Checks.linesDiff("selftest", want, dense, actual)
    expect(lineCheck(scala.util.Random.shuffle(dense)).isEmpty, "line check rejects a permutation")
    val dropped = lineCheck(dense.patch(17, Nil, 1))
    expect(dropped.exists(_.contains("missing line")), s"line check missed a dropped line: $dropped")
    val altered = dense.updated(5, dense(5).replaceFirst(";(\\d+);", ";999;"))
    expect(altered(5) != dense(5), "the altered-field defect changes the line")
    expect(lineCheck(altered).isDefined, "line check missed an altered field")
    expect(lineCheck(dense :+ dense.head).isDefined, "line check missed a duplicated line")

    // cluster checker: accepts the planted partition, rejects a split and a merge
    val planted = TextGen.clusters(textSpec, 7)
    val rows = planted.flatMap(c => c.map(id => (id, c.min)))
    expect(Checks.clusters("selftest", planted, rows).isEmpty, "cluster check rejects the truth")
    val c0 = planted.find(_.size >= 3).get
    val split = rows.map { case (id, comp) => if (id == c0.max) (id, id) else (id, comp) }
    expect(Checks.clusters("selftest", planted, split).exists(_.contains(c0.mkString(","))),
      "cluster check missed a split cluster")
    val merged = rows.map { case (id, comp) => if (comp == planted(1).min) (id, planted(0).min) else (id, comp) }
    expect(Checks.clusters("selftest", planted, merged).isDefined, "cluster check missed merged clusters")
    expect(Checks.clusters("selftest", planted, rows.filterNot(_._1 == c0.min)).isDefined,
      "cluster check missed a dropped member")

    // planted pairs are above the verify threshold by construction
    val member = TextGen.membership(planted)
    def shingles(t: String) = t.split(" ").sliding(TextGen.ShingleWords).map(_.mkString(" ")).toSet
    def jaccard(a: Set[String], b: Set[String]) = (a & b).size.toDouble / (a | b).size
    val worst = planted.flatMap { c =>
      val sh = c.map(id => shingles(TextGen.text(textSpec, 7, id, member.get(id))))
      for (i <- sh.indices; j <- sh.indices if i < j) yield jaccard(sh(i), sh(j))
    }.min
    expect(worst >= 0.85, s"a planted pair has Jaccard $worst < 0.85")
    val background = (0L until textSpec.docs).filterNot(member.contains).take(50)
      .map(id => shingles(TextGen.text(textSpec, 7, id, None)))
    val bgMax = (for (a <- background; b <- background if a ne b) yield jaccard(a, b)).max
    expect(bgMax < 0.1, s"background pair with Jaccard $bgMax")

    failures.foreach(f => System.err.println(s"[selftest] FAIL $f"))
    println(s"selftest: ${checks - failures.size}/$checks checks passed")
    if (failures.isEmpty) 0 else 1
  }

  private def xmlCorpus(seed: Long): String =
    (0 until xmlSpec.docs).map { d =>
      val s = XmlGen.store(xmlSpec, seed, d)
      XmlGen.render(s) + XmlGen.denseLines(s).mkString("\n") + XmlGen.sparseLines(s).mkString("\n")
    }.mkString

  private def textCorpus(seed: Long): String = {
    val planted = TextGen.clusters(textSpec, seed)
    val member = TextGen.membership(planted)
    planted.map(_.mkString(",")).mkString(";") +
      (0L until textSpec.docs).map(id => TextGen.text(textSpec, seed, id, member.get(id))).mkString("\n")
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
