package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII detection and redaction over text columns (prompt family:
  * training-data pipeline; complements the reference's text sanitizers —
  * `ingestion/text_processor.py` strips noise, this strips identifiers a
  * pre-training corpus must not carry).
  *
  * Pure `regexp_replace`/`regexp_extract_all` chains — codegen'd, map-only,
  * zero shuffle: at 100 TB this runs at scan bandwidth alongside the other
  * per-document cleaners. Patterns are deliberately RE2-compatible (no
  * lookaround, no backreferences) so any engine — and the DuckDB oracle —
  * can evaluate the same semantics.
  *
  * Redaction order matters and is fixed: emails first (their domains
  * contain dots and digits an IP/phone pattern could half-match), then
  * IPv4 (dotted digit groups would otherwise be eaten by the phone
  * pattern, whose character class includes '.'), then phones.
  */
object Pii {

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  // international or separator-formatted numbers, ≥8 chars end-to-end:
  // +66-2-123-0456, (202)555-0143 (after the leading paren), 202.555.0143.
  // ' ' is deliberately NOT in the class: allowing it would swallow any
  // run of space-separated numbers ("in 2015 2016 2017"), so
  // space-separated groups redact only their longest spaceless span.
  val PhonePattern = "\\+?\\d[\\d().-]{6,}\\d"

  /** Count email matches (on the UNredacted text). */
  def countEmails(text: Column): Column = size(regexp_extract_all(text, lit(EmailPattern), lit(0)))

  /** Replace every email/IPv4/phone with a typed placeholder token. */
  def redact(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "<IP>")
    regexp_replace(noIp, PhonePattern, "<PHONE>")
  }

  /** Redaction + per-class counts in one struct (counts reflect the
    * pre-redaction text, consistent with `redact`'s ordering). */
  def scrub(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "<IP>")
    struct(
      regexp_replace(noIp, PhonePattern, "<PHONE>").as("text"),
      countEmails(text).as("n_emails"),
      size(regexp_extract_all(noEmail, lit(Ipv4Pattern), lit(0))).as("n_ips"),
      size(regexp_extract_all(noIp, lit(PhonePattern), lit(0))).as("n_phones"))
  }

  // ---------------------------------------------------------------------
  // Payment-card detection (round 6): a bare \d{13,19} regex false-
  // positives on order numbers, timestamps, and IDs constantly — real PII
  // scrubbers validate the Luhn checksum (ISO/IEC 7812) before redacting.
  // Spark ships `luhn_check` as a codegen'd expression since 3.5 —
  // functions, not UDFs — so validation is map-only at any corpus size.

  /** Candidate card numbers: maximal digit runs filtered to 13–19 chars
    * (NOT a `\d{13,19}` regex with boundary lookarounds — RE2 engines
    * like DuckDB's have no lookbehind, and the maximal-run form already
    * prevents a 20+ digit run from yielding a "valid" 19-digit prefix). */
  def cardCandidates(text: Column): Column =
    filter(regexp_extract_all(text, lit("\\d+"), lit(0)),
      x => length(x) >= 13 && length(x) <= 19)

  /** Luhn validity of a digit-string column (built-in expression). */
  def luhnValid(digits: Column): Column = call_function("luhn_check", digits)

  /** The Luhn CHECK DIGIT for a payload (digits without the final check
    * digit) — used by fixtures to plant valid/corrupt numbers with pure
    * arithmetic both engines can replay: reversed-payload odd positions
    * double (fold ≥5 digits back by 9), check = (10 − sum mod 10) mod 10. */
  def luhnCheckDigit(payload: Column): Column = {
    val r = reverse(payload)
    val s = aggregate(sequence(lit(1), length(r)), lit(0), (acc, i) => {
      val d = r.substr(i, lit(1)).cast("int")
      val dd = when(i % 2 === 1, d * 2).otherwise(d)
      acc + when(dd > 9, dd - 9).otherwise(dd)
    })
    (lit(10) - s % 10) % 10
  }

  // ---------------------------------------------------------------------
  // IBAN detection (round 7): ISO 13616 + ISO 7064 mod-97-10. Like Luhn,
  // a bare [A-Z]{2}\d{2}[A-Z0-9]+ regex false-positives on ticket ids and
  // product codes — the checksum is what makes redaction precise. The
  // 34-char max IBAN overflows any int64, so mod-97 runs as the standard
  // chunked fold ((acc·10 + digit) mod 97 per digit) — exact integer
  // arithmetic, codegen'd HOFs, map-only at corpus scale.

  /** Candidate IBANs: country code + 2 check digits + 11–30 alphanumerics
    * (15..34 total — shorter real IBANs exist but below 15 the pattern
    * drowns in ticket-id noise; RE2-safe, no lookaround). */
  val IbanPattern = "\\b[A-Z]{2}\\d{2}[A-Z0-9]{11,30}\\b"

  def ibanCandidates(text: Column): Column =
    regexp_extract_all(text, lit(IbanPattern), lit(0))

  /** ISO 7064 rearrangement + digitization: first 4 chars to the end,
    * then A→10 … Z→35, digits unchanged — a pure digit string. */
  def ibanDigits(iban: Column): Column = {
    val r = concat(iban.substr(lit(5), length(iban) - 4), iban.substr(lit(1), lit(4)))
    array_join(transform(sequence(lit(1), length(r)), i => {
      val ch = r.substr(i, lit(1))
      when(ch >= "0" && ch <= "9", ch).otherwise((ascii(ch) - 55).cast("string"))
    }), "")
  }

  /** mod 97 of an arbitrary-length digit string — the chunked fold. */
  def mod97(digits: Column): Column =
    aggregate(sequence(lit(1), length(digits)), lit(0),
      (acc, i) => (acc * 10 + digits.substr(i, lit(1)).cast("int")) % 97)

  /** ISO 13616 validity: rearranged+digitized value ≡ 1 (mod 97). */
  def ibanValid(iban: Column): Column = mod97(ibanDigits(iban)) === 1

  /** Check digits for a fixture (country + BBAN): 98 − mod97(digits of
    * BBAN ∥ country ∥ "00") — lets both engines PLANT valid IBANs from
    * arithmetic alone (the luhnCheckDigit pattern). */
  def ibanCheckDigits(country: Column, bban: Column): Column =
    lpad((lit(98) - mod97(ibanDigits(concat(country, lit("00"), bban)))).cast("string"), 2, "0")
}
