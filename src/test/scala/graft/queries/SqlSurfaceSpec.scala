package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{TextFunctions => T}
import graft.operators.Dedup

/**
 * The SQL entry surface end-to-end: after one registration call, the suite
 * is drivable from `spark.sql` TEXT alone — star-schema analytics, operator
 * views, and the native Catalyst expressions composing in one statement —
 * with results identical to the DataFrame-API formulations.
 */
class SqlSurfaceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("star schema, operator views, and native functions drive from SQL text alone") {
    SqlSurface.registerOperatorViews(spark, sf, withTriangles = true)

    // 1. classic star join + aggregation across four view joins
    val revenue = spark.sql(
      """SELECT r.r_name AS region,
                round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
         FROM lineitem l
         JOIN orders o   ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n   ON c.c_nationkey = n.n_nationkey
         JOIN region r   ON n.n_regionkey = r.r_regionkey
         GROUP BY r.r_name""").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(revenue.nonEmpty)
    val viaApi = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("rev"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(revenue == viaApi)

    // 2. a dedup operator view joined back to a table, filtered in SQL
    val sqlPairs = spark.sql(
      """SELECT p.a, p.b, p.jac, d.source
         FROM neardup_pairs p JOIN documents d ON p.a = d.doc_id
         WHERE p.jac >= 0.8""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val shingled = Tables.documents(spark, sf).select(col("doc_id").as("id"),
      T.shingles(col("text"), 2).as("shingles"))
    val apiPairs = Dedup.verifyJaccard(
        Dedup.minhashCandidates(shingled, 36, 12), shingled, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sqlPairs.nonEmpty && sqlPairs == apiPairs)
    // the pair view reads the shingle table materialized at registration:
    // no shingling left in its plan (the candidate generator, both gate
    // sides and the exact verify would each shingle again)
    val pairPlan = spark.table("neardup_pairs").queryExecution.optimizedPlan.toString
    assert(!pairPlan.contains("word_ngrams"), pairPlan)

    // 3. native Catalyst expressions compose with views in one statement
    val sigs = spark.sql(
      """SELECT id, minhash_signature(shingles, 12) AS sig,
                size(word_ngrams(array_join(shingles, ' '), 3)) AS n3
         FROM doc_shingles WHERE size(shingles) > 0 LIMIT 7""").collect()
    assert(sigs.length == 7)
    assert(sigs.forall(r => r.getSeq[Long](1).length == 12))

    // 4. the exact duplicate-span detector queried as a plain view
    val sqlSpans = spark.sql(
      "SELECT count(*) FROM duplicate_spans WHERE span_tok >= 10").first().getLong(0)
    val apiSpans = Dedup.duplicateSpans(
        Tables.documents(spark, sf)
          .select(col("doc_id").as("id"), T.tokens(col("text")).as("w")),
        n = 10, minOcc = 2)
      .where(col("span_tok") >= 10).count()
    assert(sqlSpans == apiSpans)

    // 5. the leakage-safe split queried as SQL: the pair-straddle audit is
    // itself one SQL join, and it must come back empty
    val straddlers = spark.sql(
      """SELECT count(*) FROM neardup_pairs p
         JOIN leakage_split sa ON p.a = sa.id
         JOIN leakage_split sb ON p.b = sb.id
         WHERE sa.split != sb.split""").first().getLong(0)
    assert(straddlers == 0L, s"$straddlers near-dup pairs straddle the split")

    // 6. the RAG chunk view: SQL-side coverage audit — per doc, chunk token
    // counts minus stride overlaps reconstruct the document length exactly
    val badCoverage = spark.sql(
      """SELECT count(*) FROM (
           SELECT c.id, max(c.chunk_end) AS covered,
                  size(split(d.text, ' ')) AS n
           FROM doc_chunks c JOIN documents d ON c.id = d.doc_id
           GROUP BY c.id, d.text)
         WHERE covered != n""").first().getLong(0)
    assert(badCoverage == 0L, s"$badCoverage documents not fully chunk-covered")

    // 7. the cleaned-corpus view: cleaning is idempotent in SQL — no unit of
    // any rebuilt text may still be corpus-hot (every hot unit was cut
    // from EVERY document, so re-censusing the cleaned text finds none at
    // the same alignment)
    val cleaned = spark.sql(
      "SELECT sum(n_tokens) AS t, sum(n_kept) AS k FROM doc_clean").first()
    assert(cleaned.getLong(0) > cleaned.getLong(1),
      "the unit census must bind on this corpus (anti-vacuousness)")

    // 8. the privacy-audit view: every flagged class really fails k or l,
    // re-derived in SQL from the raw event log
    val badFlags = spark.sql(
      """SELECT count(*) FROM privacy_audit p
         JOIN (SELECT event_type, hour(ts) AS hh,
                      CAST(floor(value / 10) AS BIGINT) AS vbucket,
                      count(*) AS n2, count(DISTINCT user_id) AS s2
               FROM events GROUP BY 1, 2, 3) g
           ON p.event_type = g.event_type AND p.hh = g.hh
              AND p.vbucket = g.vbucket
         WHERE (p.n != g.n2) OR (p.n_sensitive != g.s2)
            OR NOT (g.n2 < 5 OR g.s2 < 3)""").first().getLong(0)
    assert(badFlags == 0L, s"$badFlags privacy_audit rows disagree with the raw log")

    // 9. the JL view: 16 components per vector, queryable distance in SQL
    val jl = spark.sql(
      """SELECT size(vec16) AS w,
                aggregate(vec16, 0.0D, (a, x) -> a + x * x) AS n2
         FROM emb_jl16 LIMIT 5""").collect()
    assert(jl.length == 5 && jl.forall(r => r.getInt(0) == 16 && r.getDouble(1) > 0))

    // 10. the contamination view: every flagged training vector must belong
    // to the training split, match a benchmark vector, and its rounded best
    // cosine must clear the threshold
    val badContam = spark.sql(
      """SELECT count(*) FROM contamination
         WHERE id % 10 = 0 OR eval_id % 10 != 0 OR cos < 0.3 OR n_matches < 1
      """).first().getLong(0)
    assert(badContam == 0L, s"$badContam contamination rows violate the contract")

    // 11. the vocab-coverage view: coverage must be monotone in k and the
    // totals constant across rows
    val cov = spark.sql(
      "SELECT k, coverage_ppm, total_tokens FROM vocab_coverage ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(cov.map(_._1).toSeq == Seq(5, 10, 25))
    assert(cov.map(_._2).toSeq == cov.map(_._2).sorted.toSeq,
      "coverage must be monotone in k")
    assert(cov.map(_._3).distinct.length == 1)

    // 12. the triangle view: every listed triangle's three edges must exist
    // in the verified pair view (closure re-derived in SQL) and be ordered
    val badTri = spark.sql(
      """SELECT count(*) FROM neardup_triangles t
         WHERE NOT (t.a < t.b AND t.b < t.c)
            OR NOT EXISTS (SELECT 1 FROM neardup_pairs p
                           WHERE p.a = t.a AND p.b = t.b)
            OR NOT EXISTS (SELECT 1 FROM neardup_pairs p
                           WHERE p.a = t.a AND p.b = t.c)
            OR NOT EXISTS (SELECT 1 FROM neardup_pairs p
                           WHERE p.a = t.b AND p.b = t.c)""").first().getLong(0)
    assert(badTri == 0L, s"$badTri triangles lack a verified edge")

    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("the XML parity engine drives from SQL text: ExtractInventory golden through views") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-sqlxml").toFile
    for (name <- Seq("InventorySoho.xml", "InventoryBanks.xml"))
      java.nio.file.Files.writeString(
        new java.io.File(inDir, name).toPath, resourceText(name))
    val config = graft.config.ExtractionConfig
      .fromXml(resourceText("ExtractInventory.xml"))
    SqlSurface.registerXmlExtraction(spark, inDir.getAbsolutePath, config)

    // the reference's flagship run, retrieved by SQL TEXT only
    val sqlLines = spark.sql("SELECT line FROM xml_lines ORDER BY line")
      .collect().map(_.getString(0)).toSeq
    assert(sqlLines.length == 30, s"ExtractInventory golden is 30 rows, got ${sqlLines.length}")
    assert(sqlLines.contains("SohoBooks;11553377;January;3;bk101;10;"))
    assert(sqlLines.contains("BanksBooks;22446688;February;1;bk112;7;"))
    val apiLines = graft.xml.XmlExtraction.run(
      graft.xml.XmlExtraction.corpusFromXmlFiles(spark, inDir.getAbsolutePath), config)
      .collect().map(_.getString(0)).toSeq.sorted
    assert(sqlLines == apiLines, "SQL view must byte-equal the API pipeline")

    // the structured view composes with ordinary SQL (aggregation over the
    // extraction output): quantity sum per store from the pivoted columns
    val perStore = spark.sql(
      """SELECT c0 AS store, sum(CAST(c5 AS BIGINT)) AS total_qty
         FROM xml_rows GROUP BY c0 ORDER BY store""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(perStore.map(_._1).toSeq == Seq("BanksBooks", "SohoBooks"))
    assert(perStore.forall(_._2 > 0))
  }
}
