package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column-level building blocks.
  *
  * Everything here is a pure Catalyst expression (codegen-friendly, no UDFs),
  * so predicates stay inside WholeStageCodegen and remain pushdown-eligible.
  *
  * Reference semantics:
  *  - email format validation: /root/reference/src/models/issue.py:15 (INVALID_EMAIL)
  *  - row hash idempotency:    /root/reference/src/models/issue.py:81 (staging_row_hash)
  *  - file hash:               /root/reference/src/app/services/csv_validator.py:111
  */
object Cols {

  /** Pragmatic email pattern, anchored. `[.]` instead of `\.` so the same
    * literal behaves identically in Java regex (Spark) and RE2 (DuckDB oracle).
    */
  val EmailRegex = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}$"

  def emailValid(c: Column): Column = c.rlike(EmailRegex)

  /** MISSING_REQUIRED_FIELD predicate: null or blank after trim.
    * Mirrors the worker-side required-field check implied by issue.py:17. */
  def isBlank(c: Column): Column = c.isNull || trim(c) === ""

  /** staging_row_hash analog (issue.py:81). sha2-256 over '|'-joined fields.
    * concat_ws skips nulls, so (null,"a") and ("a",null) would collide — callers
    * that need null-position fidelity should coalesce with a sentinel first. */
  def rowHashSha(cols: Column*): Column = sha2(concat_ws("|", cols: _*), 256)

  /** Whitespace-collapsed, lower-cased text; basis for fingerprints and shingles. */
  def normText(c: Column): Column = lower(regexp_replace(trim(c), "\\s+", " "))

  /** Whitespace tokenization (the cheap tokenizer; BPE-ish regex variant below). */
  def wsTokens(c: Column): Column = split(trim(c), "\\s+")

  /** BPE-ish subword-ready tokenization: splits out words, numbers and
    * individual punctuation marks, GPT-2-pretokenizer style (public regex shape). */
  def bpeTokens(c: Column): Column =
    // \p{L}+ words | \p{N}+ numbers | single non-space-non-alnum marks
    regexp_extract_all(c, lit("[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]"), lit(0))

  /** Deterministic 64-bit fingerprint of normalized text (md5-based so the
    * oracle can mirror it; xxhash64 would be faster but is Spark-only). */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Simplified American Soundex (H/W treated as separators like vowels —
    * the classic H/W-transparency rule is dropped; documented variant):
    * uppercase letters only → digit classes (B F P V→1, C G J K Q S X Z→2,
    * D T→3, L→4, M N→5, R→6, vowels/H/W/Y→0) → equal-adjacent runs
    * collapsed (4 halving passes per digit cover runs ≤ 16) → first LETTER
    * + first 3 non-zero digits of the rest, zero-padded. Every step is a
    * `translate`/`regexp_replace`/`substring` chain reproducible verbatim
    * in DuckDB ('g'-flag replaces), so phonetic blocks are oracle-exact. */
  def soundexCode(c: Column): Column = {
    val letters = regexp_replace(upper(c), "[^A-Z]", "")
    val coded = translate(letters,
      "AEIOUYHWBFPVCGJKQSXZDTLMNR", "00000000111122222222334556")
    val collapsed = (1 to 6).foldLeft(coded) { (s, d) =>
      (1 to 4).foldLeft(s)((t, _) => regexp_replace(t, s"$d$d", d.toString))
    }
    val tail = regexp_replace(substring(collapsed, 2, 1000), "0", "")
    concat(substring(letters, 1, 1), rpad(substring(tail, 1, 3), 3, "0"))
  }
}
