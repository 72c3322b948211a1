package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.PiiScan

/** Structured PII accounting + redaction for training-data curation.
  *
  * Web text leaks emails, IP addresses and phone numbers; pipelines
  * that feed LLM pre-training redact them BEFORE tokenization (the
  * BigCode/StarCoder and CCNet lineages both ship exactly this regex
  * family). This operator complements [[TextOps.redactPii]] (the
  * quick email/URL/digit-run rewrite): it adds IPv4 and
  * international-phone categories and — the part a rewrite alone
  * can't give — PER-CATEGORY MATCH COUNTS, which is what downstream
  * policy needs (`pii_total > k` drop rules, per-source audit
  * metrics). Redaction is a pure per-row string rewrite — map-only,
  * no shuffle, scan-bound at 100 TB — so every operator here is a
  * column expression chain that stays inside whole-stage codegen.
  *
  * Pattern notes:
  *  - Every pattern is written in the common subset of java.util.regex
  *    and RE2 (no backreferences, no lookaround) so the DuckDB oracle
  *    can run the SAME pattern verbatim — the regex string itself is
  *    part of the certified contract.
  *  - Phone matching is international-format only (leading `+`): bare
  *    national formats collide with dates, ids and prices; the
  *    false-positive cost of redacting those exceeds the recall gain.
  *    Callers with labeled data can widen the pattern.
  *  - Redaction is sequential (email → IPv4 → phone) and each stage
  *    counts matches on ITS input, so a digit run inside an email
  *    never double-counts as a phone: it is already `<EMAIL>` by the
  *    time the phone stage scans.
  */
object PiiOps {

  /** RFC-5322-ish address, the pragmatic crawl subset. Quantifiers are
    * BOUNDED to the RFC limits (64-char local part, 253-char domain,
    * 24-char TLD) — not just correctness hygiene: an unbounded
    * `[…._]+@` class backtracks O(len) at every start position, which
    * a 100 KB run of dots turns into a measured ~60 s executor stall
    * on ONE row; the bounds cap backtracking per position at the
    * quantifier ceiling (HostileInputSpec detonates both patterns). */
  val EmailPattern =
    "[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9][A-Za-z0-9.-]{0,251}\\.[A-Za-z]{2,24}"

  /** Dotted-quad IPv4 with explicit dot/word guards. A plain `\b`
    * cannot keep version strings out: `\b` holds between a digit and
    * `.`, so `1.2.3.4.5` would match `1.2.3.4`. RE2 has no lookaround,
    * so the guards are CONSUMING capture groups: group 1 = the
    * character before the quad (start, or anything outside
    * `[0-9A-Za-z._]` — the `\b` word set plus dot), group 2 = the
    * quad, group 3 = the character(s) after (end, a non-word-non-dot
    * character, or a dot NOT followed by a digit, so a sentence-ending
    * `1.2.3.4.` still matches while `1.2.3.4.5` does not). Redaction
    * restores groups 1/3 around the token; counts extract group 2.
    * Because group 3 consumes the separator, a second IP immediately
    * after a matched one is invisible to the same pass — [[redactPii]]
    * runs TWO passes, which provably reaches every IP in a
    * space-separated chain (pass one takes the odd ones, freeing the
    * evens' boundaries for pass two). */
  val Ipv4Pattern =
    "(^|[^0-9A-Za-z._])((?:[0-9]{1,3}\\.){3}[0-9]{1,3})(\\.[^0-9]|\\.$|[^0-9A-Za-z._]|$)"

  /** International phone: `+` then AT LEAST 8 digits — contiguous
    * (8–15, the E.164 ceiling), or country code (1–3) + optional
    * parenthesized area code + 2–4 digit groups with single
    * separators, with group shapes chosen so every alternative
    * carries at least 8 digits (`+1 415 555 2671`, `+44 20 7946 0958`,
    * `+79161234567` all match; a 5-digit price range like `+5 10-20`
    * cannot). The grouped alternatives bound each GROUP, not the
    * total: a separator chain can reach ~23 digits before the group
    * count caps it — a deliberate recall/precision trade (real-world
    * formats vary too much to bound the grouped total at 15 without
    * losing them). */
  val PhonePattern =
    "\\+(?:[0-9]{8,15}" +
      "|[0-9]{1,3}[ .-]?(?:\\([0-9]{1,4}\\)[ .-]?)?" +
      "(?:[0-9]{2,4}(?:[ .-]?[0-9]{2,4}){3}" +
      "|[0-9]{3,4}(?:[ .-]?[0-9]{2,4}){2}" +
      "|[0-9]{2}(?:[ .-]?[0-9]{3,4}){2}))"

  val EmailToken = "<EMAIL>"
  val Ipv4Token = "<IP>"
  val PhoneToken = "<PHONE>"

  /** text → (redacted text, per-category match counts). NULL text
    * passes through as NULL with zero counts (null is data, not an
    * error). Columns appended: `text_redacted`, `n_emails`, `n_ipv4`,
    * `n_phones`, `pii_total`. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // one-pass-per-category kernel (expressions/PiiScan.scala): the
    // same patterns in the same sequential order, but each category
    // redacts AND counts from a single Matcher walk — the relational
    // chain paid a regexp_extract_all plus a regexp_replace per stage
    // (8 java-regex scans of the payload per row, measured as ~all of
    // x66's 2.2s sf0.1 wall). The DuckDB oracle still runs the
    // relational formulation verbatim — the pattern strings above
    // remain the certified cross-engine contract.
    val s = column(PiiScan(expression(col(textCol))))
    val nEmail = coalesce(col("_pii.n_emails"), lit(0))
    val nIp = coalesce(col("_pii.n_ipv4"), lit(0))
    val nPhone = coalesce(col("_pii.n_phones"), lit(0))
    docs
      .withColumn("_pii", s)
      .withColumn("text_redacted", col("_pii.text_redacted"))
      .withColumn("n_emails", nEmail)
      .withColumn("n_ipv4", nIp)
      .withColumn("n_phones", nPhone)
      .withColumn("pii_total", nEmail + nIp + nPhone)
      .drop("_pii")
  }
}
