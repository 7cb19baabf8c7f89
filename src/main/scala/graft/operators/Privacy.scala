package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** PII detection and redaction for training-data curation.
  *
  * Pattern-based scrubbing of the classes every corpus release checks
  * first: email addresses, IPv4 addresses, international phone numbers.
  * Real pipelines layer NER models on top; the pattern tier is the part
  * that must run on EVERY byte of a 100 TB corpus, so it is built as pure
  * `Column` compositions over Spark's codegen'd regexp functions — no
  * UDFs, stays inside whole-stage codegen, pushes through scans.
  *
  * The regexes use only syntax shared by Java regex and RE2-style
  * engines (no backreferences or lookaround), so detection counts are
  * exactly reproducible in the DuckDB oracle.
  */
object Privacy {

  /** user@host.tld — conservative: requires a dotted TLD of ≥2 letters. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 (not range-validated — pattern tier recall beats
    * precision; the exact-match tier downstream revalidates). */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** International phone: '+' followed by 7–15 digits (E.164 shape).
    * The '+' anchor keeps it disjoint from IPv4/digit runs. */
  val PhoneRe = "\\+\\d{7,15}"

  /** Per-row PII hit counts as a struct (emails, ips, phones) — native
    * byte scanners exactly equivalent to the three regexes (the patterns
    * use no lookaround/backreferences, so each has a deterministic
    * scanner; java.util.regex's backtracking NFA was ~4× slower on the
    * same scan — q62). [[piiCountsRegex]] is the parity-tested reference
    * formulation and the shape the DuckDB oracle runs. */
  def piiCounts(text: Column): Column =
    // cast preserves the regexp_count formulation's implicit coercion
    // (numeric input counts over its string rendering); identity casts
    // are folded away on string inputs
    Kernel.piiStats(text.cast("string"))

  /** Regex formulation of [[piiCounts]] (parity-test reference). */
  private[graft] def piiCountsRegex(text: Column): Column = struct(
    regexp_count(text, lit(EmailRe)).as("emails"),
    regexp_count(text, lit(Ipv4Re)).as("ips"),
    regexp_count(text, lit(PhoneRe)).as("phones"))

  /** Redacted text: every match replaced by a typed placeholder. Email
    * runs first (an email contains no '+digits' or dotted-quad that the
    * later passes could half-eat); placeholders contain no pattern
    * characters, so passes cannot create new matches. Native sequential-
    * pass scanner, pass-for-pass equivalent to the regexp_replace chain
    * in [[redactRegex]] (the parity-test reference). */
  def redact(text: Column): Column = Kernel.piiRedact(text.cast("string"))

  /** Regex formulation of [[redact]] (parity-test reference). */
  private[graft] def redactRegex(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
}

/** The (emails, ips, phones) struct of [[GraftRuntime.piiStats]]. */
object PiiStats {
  val schema: StructType = StructType(Seq(
    StructField("emails", IntegerType, nullable = false),
    StructField("ips", IntegerType, nullable = false),
    StructField("phones", IntegerType, nullable = false)))
}
