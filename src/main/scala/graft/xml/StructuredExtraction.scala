package graft.xml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The structured (idiomatic, shuffle-free) extraction path — SURVEY.md §7.1's
 * first formulation: read documents with Spark's NATIVE XML data source
 * (`rowTag`-scoped scan, schema inference, attributes as `_attr` fields),
 * keep ancestors by nesting, and denormalize repeated children with
 * correlated `explode` — a narrow Generator, no shuffle, no window.
 *
 * This is what a new pipeline should use on well-formed data; the parity
 * engine ([[XmlExtraction]]) exists for byte-level reference semantics
 * (raw-substring attribute filters, carry-forward quirks — SURVEY.md §2.10).
 *
 * On the reference's inventory corpus the two paths produce identical rows
 * (proven in StructuredExtractionSpec), because each book's ancestors ARE the
 * enclosing store/inventory — the fill-down window is exactly a correlated
 * unnest when documents are well-formed.
 */
object StructuredExtraction {

  /** Read a corpus of XML documents with the native XML source. */
  def readXml(spark: SparkSession, path: String, rowTag: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("ignoreSurroundingSpaces", true)
      .load(path)

  /**
   * The `ExtractInventory` query (reference `testdata/ExtractInventory.xml`),
   * structured: store name + phone from the nested struct, month/day/book
   * fields via two correlated explodes. Column pruning pushes into the XML
   * scan (`requiredSchema` — only the referenced fields are parsed).
   */
  def inventoryQuery(spark: SparkSession, path: String): DataFrame =
    readXml(spark, path, rowTag = "store")
      .select(
        col("_name").as("store"),
        col("address.phone").cast("string").as("phone"),
        explode(col("inventory")).as("inv"))
      .select(
        col("store"), col("phone"),
        col("inv._month").as("month"),
        col("inv._day").cast("string").as("day"),
        explode(col("inv.books.book")).as("book"))
      .select(
        col("store"), col("phone"), col("month"), col("day"),
        col("book._id").as("book_id"),
        col("book._inStock").cast("string").as("in_stock"))

  /**
   * The `ExtractBook` query (required-attribute filter `bk106`): on the
   * structured path the raw-substring filter becomes a plain typed predicate —
   * pushable, index-able, and honest about its semantics. (The reference's
   * byte-substring quirk — `bk1` matching `bk101` — is a parity-path-only
   * behavior; here a substring filter is `contains`, equality is `===`.)
   */
  def bookQuery(spark: SparkSession, path: String, idSubstring: String): DataFrame =
    readXml(spark, path, rowTag = "store")
      .select(col("_name").as("store"), col("address.phone").cast("string").as("phone"),
        explode(col("inventory")).as("inv"))
      .select(col("store"), col("phone"),
        col("inv._month").as("month"), col("inv._day").cast("string").as("day"),
        explode(col("inv.books.book")).as("book"))
      .where(col("book._id").contains(idSubstring))
      .select(col("store"), col("phone"), col("month"), col("day"),
        col("book._id").as("book_id"),
        col("book._inStock").cast("string").as("in_stock"))
}
