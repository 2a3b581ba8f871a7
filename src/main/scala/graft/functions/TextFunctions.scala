package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis column builders for the large-scale training-data pipeline:
 * tokenization, quality scoring, language-ID, shingling, and the md5-derived
 * 60-bit hash that underpins MinHash / SimHash / fingerprinting.
 *
 * Everything here is codegen'd Catalyst expressions, no UDFs: built-in
 * `org.apache.spark.sql.functions` composition, plus the native shingling
 * kernel — so plans stay inside WholeStageCodegen and the same computation
 * is expressible verbatim in the DuckDB oracle SQL (md5 + integer casts +
 * list lambdas exist in both engines and produce identical values).
 */
object TextFunctions {

  /** Whitespace tokens (single-space split; the corpus is single-spaced). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish lexer tokens: letter runs, digit runs, single non-alnum glyphs. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))

  /**
   * Deterministic 60-bit hash of a string, seeded — the shared hash for MinHash
   * signatures and fingerprints: first 15 hex chars of md5, read as an integer.
   * DuckDB oracle twin: `cast(concat('0x', substr(md5(seed || ':' || s),1,15)) as bigint)`.
   */
  def seededHash(seed: Int, s: Column): Column =
    conv(substring(md5(concat(lit(s"$seed:"), s)), 1, 15), 16, 10).cast("long")

  /** Unseeded variant (SimHash feature hashing, fingerprinting). */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /**
   * Rolling gram key from PER-WORD hashes — the cheap n-gram fingerprint
   * for census keys: given `hs` (array of word [[hash60]]s — the DOMAIN
   * contract: non-negative longs < 2^60) and a 0-based window start `i`,
   * the key of the n-gram at i is
   *
   *   XOR over j in [0, n) of rotl60(hs[i+j], 7·j)
   *
   * One md5 per WORD instead of one per GRAM (the q160-q163 censuses run
   * ~8 grams per token across orders 1..4 — this cuts the hash count 8×),
   * while the rotation keeps permutations distinct ("a b" ≠ "b a") and
   * repeated words alive ("a a" = h ^ rotl60(h, 7) ≠ 0 for h ∉ {0, 2^60−1},
   * because gcd(7, 60) = 1 makes the rotation a full cycle). Linear over
   * XOR, so adversarial collisions are constructible — fine for census
   * keys whose oracle twin runs the SAME arithmetic (a collision merges
   * gram classes identically in both engines), wrong for security.
   *
   * The rotation is 60-bit, NOT 64-bit, and masks BEFORE shifting:
   *
   *   rotl60(h, r) = ((h & (2^(60−r) − 1)) << r) | (h >> (60 − r))
   *
   * so every intermediate stays a non-negative BIGINT < 2^60 in BOTH
   * engines. The naive 64-bit form is NOT DuckDB-expressible: DuckDB
   * RAISES "Overflow in left shift" whenever `h << r` loses high bits
   * (measured), it does not wrap like the JVM — the mask-first 60-bit
   * form needs no wrap semantics at all. DuckDB twin, bit-exact:
   *   `xor-fold over j of (((h & ((1::BIGINT << (60−r)) − 1)) << r)
   *                        | (h >> (60 − r)))`,  r = 7·j mod 60
   * (`>>` on a non-negative BIGINT is the same logical shift in both).
   */
  def gramKeyAt(hs: Column, i: Column, n: Int): Column =
    (0 until n).map { j =>
      val r = (7 * j) % 60
      val h = element_at(hs, (i + lit(j + 1)).cast("int"))
      if (r == 0) h
      else shiftleft(h.bitwiseAND(lit((1L << (60 - r)) - 1)), r)
        .bitwiseOR(shiftright(h, 60 - r))
    }.reduce(_ bitwiseXOR _)

  /**
   * Distinct word n-gram shingles of `text` (single-space words, first
   * occurrence order). Documents shorter than `n` words yield a single
   * shingle (the whole text) so every document has a non-empty feature set;
   * a null text yields null. This is the codegen'd
   * [[graft.plans.WordNgramsExpr]], one pass per row, reached by the name
   * [[graft.plans.GraftExtensions]] registers (every `graft.Sessions`
   * session installs it; Spark keeps Column-from-Expression internal). A
   * session without the extension fails at analysis naming `word_ngrams`.
   */
  def shingles(text: Column, n: Int): Column =
    call_function("word_ngrams", text, lit(n))

  /**
   * Exact set-Jaccard similarity between two (already-distinct) shingle arrays.
   */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  // ------------------------------------------------------------------ PII scrubbing

  /** PII patterns for the redaction pass — deliberately restricted to the
   * ASCII syntax subset on which Java regex (Spark) and RE2 (DuckDB) agree,
   * so the redacted text itself is oracle-comparable. Explicit [A-Za-z]
   * classes stand in for case-insensitivity ((?i) is NOT in the common
   * subset); the phone pattern takes 2-4 digit groups, covering both
   * +1-555-0423 and +1-555-123-4567 shapes. */
  final val EmailRe = "[A-Za-z0-9._%-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val PhoneRe = "\\+[0-9]{1,2}(-[0-9]{3,4}){2,3}"
  final val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /**
   * PII redaction for training-data scrubbing: replaces emails, then phone
   * numbers, then IPv4 addresses with typed placeholders. Pure codegen'd
   * `regexp_replace` chain — a narrow map over the corpus, no shuffle; at
   * 100 TB this runs at scan speed and composes with any downstream operator.
   * Ordering matters and is fixed: emails first (their local part may contain
   * digits/dots that the later patterns could clip).
   */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      Ipv4Re, "[IP]")
}
