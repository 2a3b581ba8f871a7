package graft.perfbench

import java.util.SplittableRandom

/** Seeded randomness: every generated item is a pure function of
 * (seed, stream, index), so generation can run in parallel and a rerun with
 * the same seed is byte-identical. */
object Rng {
  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def of(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ i))
}

/** An unbounded vocabulary of syllable words: distinct index, distinct word.
 * Words hold only lowercase letters, so a token with a digit never collides
 * with one. */
object Words {
  private val syllables = Array("ka", "lo", "mi", "nu", "pe", "ra", "si", "to",
    "vu", "ze", "ba", "do", "fi", "go", "hu", "je")

  def apply(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb.append(syllables(x & 15)); x >>>= 4 } while (x != 0)
    sb.toString
  }
}

/** Order-free digest of a multiset of lines: (count, sum of mixed line hashes). */
final class Digest {
  var count = 0L
  var sum = 0L

  def add(line: String): Unit = {
    count += 1
    sum += Digest.hash(line)
  }

  def same(other: Digest): Boolean = count == other.count && sum == other.sum
}

object Digest {
  /** FNV-1a over the characters, then splitmix64. */
  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    Rng.mix(h)
  }

  def of(lines: Iterator[String]): Digest = {
    val d = new Digest
    lines.foreach(d.add)
    d
  }
}

// -----------------------------------------------------------------------------
// Store / inventory XML corpus (the reference's test-data shape)
// -----------------------------------------------------------------------------

/** A book; `genre == null` means the element is omitted, so the extraction's
 * fill-down carries the previous book's genre into this row. */
final case class Book(id: String, inStock: Int, author: String, title: String,
                      genre: String, price: String, date: String, body: String)
final case class Inventory(month: String, day: Int, books: IndexedSeq[Book])
final case class Store(docId: String, name: String, street: String, nr: Int,
                       city: String, phone: String, inventories: IndexedSeq[Inventory])

/**
 * Knobs of the store corpus.
 *
 * @param booksPerDoc   books per document, split over two inventories
 * @param bodyWords     words in each book's (never projected) description
 * @param hitRate       share of books whose id carries [[XmlGen.FilterValue]]
 * @param genreMissRate share of books without a genre element
 */
final case class XmlSpec(docs: Int, booksPerDoc: Int, bodyWords: Int,
                         hitRate: Double, genreMissRate: Double)

object XmlGen {
  /** The attribute-filter substring of the sparse config (the reference's
   * `ExtractBook.xml` filters on `bk106`). */
  val FilterValue = "bk106"

  private val Genres = IndexedSeq("Computer", "Fantasy", "Romance", "Horror",
    "Science Fiction", "Poetry", "History", "Travel", "Cooking", "Drama", "Mystery")
  private val Vocab = 4000

  def store(spec: XmlSpec, seed: Long, d: Int): Store = {
    val r = Rng.of(seed, 1, d)
    def word(): String = Words(r.nextInt(Vocab))
    def words(n: Int): String = Iterator.fill(n)(word()).mkString(" ")
    val perInventory = spec.booksPerDoc / 2
    val name = s"Store ${word()} $d"
    val street = words(2)
    val nr = r.nextInt(500) + 1
    val city = word()
    val phone = f"${r.nextInt(90000000) + 10000000}%d"
    val inventories = (0 until 2).map { m =>
      val month = s"M${r.nextInt(12) + 1}"
      val day = r.nextInt(28) + 1
      val books = (0 until perInventory).map { b =>
        val k = (d.toLong * 2 + m) * perInventory + b
        val id =
          if (r.nextDouble() < spec.hitRate) s"$FilterValue-$k"
          else {
            val t = 100 + r.nextInt(899)
            s"bk${if (t >= 106) t + 1 else t}-$k" // any 3 digits but 106
          }
        val inStock = r.nextInt(100)
        val author = s"${word()} ${word()}"
        val title = words(3)
        val genre = if (r.nextDouble() < spec.genreMissRate) null else Genres(r.nextInt(Genres.size))
        val price = f"${r.nextInt(90) + 5}%d.${r.nextInt(100)}%02d"
        val date = f"20${r.nextInt(25)}%02d-${r.nextInt(12) + 1}%02d-${r.nextInt(28) + 1}%02d"
        Book(id, inStock, author, title, genre, price, date, words(spec.bodyWords))
      }
      Inventory(month, day, books)
    }
    Store(f"store$d%06d.xml", name, street, nr, city, phone, inventories)
  }

  def render(s: Store): String = {
    val sb = new StringBuilder(256 + s.inventories.map(_.books.size).sum * 400)
    sb.append("<?xml version=\"1.0\"?>\n<store name=\"").append(s.name).append("\">\n")
    sb.append("  <address><street>").append(s.street).append("</street><nr>").append(s.nr)
      .append("</nr><city>").append(s.city).append("</city><phone>").append(s.phone)
      .append("</phone></address>\n")
    for (inv <- s.inventories) {
      sb.append("  <inventory month=\"").append(inv.month).append("\" day=\"").append(inv.day)
        .append("\">\n    <books>\n")
      for (b <- inv.books) {
        sb.append("      <book id=\"").append(b.id).append("\" inStock=\"").append(b.inStock).append("\">\n")
        sb.append("        <author>").append(b.author).append("</author><title>").append(b.title).append("</title>\n")
        sb.append("        ")
        if (b.genre != null) sb.append("<genre>").append(b.genre).append("</genre>")
        sb.append("<price>").append(b.price).append("</price>\n")
        sb.append("        <publish_date>").append(b.date).append("</publish_date>\n")
        sb.append("        <description>").append(b.body).append("</description>\n")
        sb.append("      </book>\n")
      }
      sb.append("    </books>\n  </inventory>\n")
    }
    sb.append("</store>\n").toString
  }

  /** The reference's delimited row: every column followed by `;`, an unset
   * column rendered as one space. */
  def line(cols: String*): String =
    cols.map(v => if (v == null || v.isEmpty) " " else v).mkString("", ";", ";")

  /** Ground truth for [[Configs.dense]]: one row per book, in which the genre
   * column carries forward from the previous book of the document. */
  def denseLines(s: Store): Seq[String] = {
    var genre: String = null
    for (inv <- s.inventories; b <- inv.books) yield {
      if (b.genre != null) genre = b.genre
      line(s.name, s.phone, inv.month, inv.day.toString, b.id, b.inStock.toString,
        b.author, b.title, genre, b.price, b.date)
    }
  }

  /** Ground truth for [[Configs.sparse]]: one row per book whose start tag
   * carries the filter substring. */
  def sparseLines(s: Store): Seq[String] =
    for (inv <- s.inventories; b <- inv.books if b.id.contains(FilterValue))
      yield line(s.name, s.phone, inv.month, inv.day.toString, b.id, b.inStock.toString)
}

// -----------------------------------------------------------------------------
// Text corpus with planted near-duplicate clusters
// -----------------------------------------------------------------------------

/**
 * Knobs of the near-duplicate corpus. A cluster is a base text plus members
 * that each replace one word of it with a token of their own. With `words`
 * words, 3-word shingles and distinct shingles, two members differ in at
 * most 6 of `words - 2` shingles, so for `words >= 80` every pair in a
 * cluster has Jaccard >= 72/84 > 0.85. Background texts draw `words` words
 * from `vocab` at random and share almost no shingle with anything.
 */
final case class TextSpec(docs: Int, words: Int, clusters: Int, maxClusterSize: Int, vocab: Int)

object TextGen {
  val ShingleWords = 3

  /** The planted clusters, each a sorted list of doc ids; disjoint. */
  def clusters(spec: TextSpec, seed: Long): IndexedSeq[IndexedSeq[Long]] = {
    val r = Rng.of(seed, 2, 0)
    val perm = Array.tabulate(spec.docs)(identity)
    var i = perm.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    var at = 0
    (0 until spec.clusters).map { _ =>
      val size = 2 + r.nextInt(spec.maxClusterSize - 1)
      require(at + size <= spec.docs, "clusters do not fit in the corpus")
      val ids = perm.slice(at, at + size).map(_.toLong).sorted.toIndexedSeq
      at += size
      ids
    }
  }

  /** doc id -> (cluster, member index); member 0 is the unedited base. */
  def membership(clusters: IndexedSeq[IndexedSeq[Long]]): Map[Long, (Int, Int)] =
    clusters.zipWithIndex.flatMap { case (ids, c) =>
      ids.zipWithIndex.map { case (id, m) => id -> ((c, m)) }
    }.toMap

  def text(spec: TextSpec, seed: Long, id: Long, member: Option[(Int, Int)]): String =
    member match {
      case Some((c, m)) =>
        val r = Rng.of(seed, 3, c)
        val ws = Array.fill(spec.words)(Words(r.nextInt(spec.vocab)))
        if (m > 0) ws(Rng.of(seed, 4, id).nextInt(spec.words)) = s"edit$id"
        ws.mkString(" ")
      case None =>
        val r = Rng.of(seed, 5, id)
        Array.fill(spec.words)(Words(r.nextInt(spec.vocab))).mkString(" ")
    }
}
