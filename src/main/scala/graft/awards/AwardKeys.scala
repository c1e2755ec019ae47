package graft.awards

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Award-id normalization keys + the award→work merge (reference:
  * notebooks/awards/AwardNormKey.sql — the generated per-funder key
  * functions — and notebooks/awards/WorkAwards.ipynb — the
  * normalized-key lookup with family election; the 351 per-funder
  * Create*Awards ingest scripts all feed this shared shape).
  *
  * Key regimes:
  *  - GENERIC key: lowercase, strip non-alphanumerics; if the stripped
  *    form is ≥4 chars use it, else lowercased-exact (WorkAwards
  *    `nk`). Spelling variants of the same id collapse; short ids stay
  *    sharp to avoid mass collisions.
  *  - SHARP key: per-funder grammar (AwardNormKey.sql `award_norm_key`)
  *    with distinct registry-side (anchored — registry data is clean)
  *    and deposited-side (salvaging — strings arrive with prefixes and
  *    junk) rules. The rule table here carries a representative subset
  *    of the 60+ configured funders covering every rule shape —
  *    prefix-strip, anchored extract, multi-alternative salvage,
  *    zero-trim via bigint cast, LPAD recompose; the rest is data
  *    entry against [[SharpRule]].
  *  - WEAKNESS guard (`award_id_is_weak`): a deposited string whose
  *    normalized form is a bare number at a dense-numeric-registry
  *    funder is never sufficient evidence for an automatic merge — its
  *    sharp key is suppressed.
  *
  * Scale: key derivation is row-local (no shuffle); the canonical
  * election is one window per regime over the awards registry (small
  * side); the work join is a pair of keyed equijoins.
  */
object AwardKeys {

  /** The shared normalization prelude (AwardNormKey.sql `_t`): upper,
    * trim, literal `\U2xxx` escape sequences → '-', unicode dashes →
    * '-', unicode spaces → ' ', collapse runs of spaces. */
  def normalized(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      upper(trim(c)),
      "\\\\U2[0-9A-F]{3}", "-"),
      "[\\u2010-\\u2015\\u2212\\uFE58\\uFE63\\uFF0D\\uF000-\\uF8FF]", "-"),
      "[\\u00A0\\u1680\\u2000-\\u200B\\u202F\\u205F\\u3000]", " "),
      "  +", " ")

  /** WorkAwards generic key: stripped-lower if ≥4 chars else
    * lowercased-exact. */
  def genericKey(c: Column): Column = {
    val stripped = regexp_replace(lower(c), "[^a-z0-9]", "")
    when(c.isNull, lit(null).cast("string"))
      .when(length(stripped) >= 4, stripped)
      .otherwise(lower(trim(c)))
  }

  private def ex(c: Column, pattern: String): Column =
    nullif(regexp_extract(c, pattern, 1), lit(""))
  private def nospace(c: Column): Column = regexp_replace(c, " ", "")
  /** Leading-zero trim via bigint round-trip (the SQL's CAST(CAST…)). */
  private def trimZeros(c: Column): Column = c.cast("long").cast("string")

  /** Per-funder sharp-key rules; `registry` and `deposited` both take
    * the [[normalized]] string. */
  final case class SharpRule(funderId: Long,
    registry: Column => Column, deposited: Column => Column)

  /** Representative entry of AwardNormKey.sql's per-funder cascade
    * (one funder per rule SHAPE; line refs into the generated SQL). */
  val rules: Seq[SharpRule] = Seq(
    // ANR (:34 / :87): recompose ANR-YY-CODE-NNNN → YY-CODE-NNNN
    SharpRule(4320320883L,
      n => {
        val p = "^ANR-(\\d{2})-([A-Z0-9]{2,6})-(\\d{4})"
        when(ex(n, p).isNotNull, concat_ws("-",
          regexp_extract(n, p, 1), regexp_extract(n, p, 2), regexp_extract(n, p, 3)))
      },
      n => {
        val s = nospace(n); val p = "(?:ANR-?)?(\\d{2})-([A-Z0-9]{2,6})-(\\d{4})"
        when(ex(s, p).isNotNull, concat_ws("-",
          regexp_extract(s, p, 1), regexp_extract(s, p, 2), regexp_extract(s, p, 3)))
      }),
    // Wellcome (:36 / :89): 5-6 digit core, LPAD 6 — '98765/Z/10/A'
    // and '360G-WELLCOME-098765' meet at '098765'
    SharpRule(4320311904L,
      n => lpad(coalesce(ex(n, "360G-WELLCOME-(\\d{5,6})"),
        ex(n, "^(\\d{5,6})(?:[/_ ][A-Z](?:[/_ ]\\d{2})?([/_ ][A-Z])?)?$")), 6, "0"),
      n => lpad(ex(n, "^(\\d{5,6})(?:[/_ ][A-Z](?:[/_ ]\\d{2})?([/_ ][A-Z])?)?$"), 6, "0")),
    // Taiwan MOST/NSC/NSTC (:28 / :82): strip agency prefix + all
    // separators (the agency renamed twice; ids are continuous)
    SharpRule(4320322795L,
      n => nullif(regexp_replace(regexp_replace(n, "^(MOST|NSC|NSTC)[ -]*", ""), "[ -]", ""), lit("")),
      n => nullif(regexp_replace(regexp_replace(n, "^(MOST|NSC|NSTC)[ -]*", ""), "[ -]", ""), lit(""))),
    // JSPS KAKENHI (:32 / :80): registry anchored; deposited salvages
    // KAKENHI/JP/NO./GRANT prefixes, with and without spaces
    SharpRule(4320334764L,
      n => ex(n, "^(\\d{2}[A-Z]\\d{5}|\\d{8})$"),
      n => coalesce(
        ex(n, "^(?:KAKENHI|JP|NO\\.?|GRANT)?[ -]*(\\d{2}[A-Z]\\d{5}|\\d{8})$"),
        ex(nospace(n), "^(?:KAKENHI|JP|NO\\.?|GRANT)?(\\d{2}[A-Z]\\d{5}|\\d{8})$"))),
    // Bare-number registry with zero-trim (:38 / :88); 12-digit
    // deposited concatenations keep their last 6
    SharpRule(4320320924L,
      n => trimZeros(ex(n, "^(\\d{1,6})$")),
      n => trimZeros(when(n.rlike("^\\d{12}$"), substring(n, 7, 6))
        .otherwise(ex(n, "(\\d{5,6})$")))),
    // Spanish AEI (:52 / :101): registry anchored with suffix tail,
    // deposited unanchored program-code extract
    SharpRule(4320335598L,
      n => ex(nospace(n),
        "^((PID|PGC|RYC|RTI|CEX|TED|SEV|BES|FPU|FJC|IJC|CNS|EUR|EQC|PLEC|PDC)\\d{4}-\\d{5,6}[A-Z0-9-]{0,8})$"),
      n => ex(nospace(n),
        "((PID|PGC|RYC|RTI|CEX|TED|SEV|BES|FPU|FJC|IJC|CNS|EUR|EQC|PLEC|PDC)\\d{4}-\\d{5,6})")),
    // Separator-strip funder (:49 / :99)
    SharpRule(4320321114L,
      n => nullif(regexp_replace(n, "[+ /-]", ""), lit("")),
      n => nullif(regexp_replace(n, "[+ /-]", ""), lit(""))),
    // Swedish VR (:53 / :102): registry YYYY-NNNNN; deposited strips
    // VR/DNR/GRANT label and LPADs the serial to 5
    SharpRule(4320322581L,
      n => ex(n, "^((19|20)\\d{2}-\\d{5})$"),
      n => {
        val s = regexp_replace(n, "^(VR|DNR|GRANT)[ .:#-]*", "")
        when(s.rlike("^(19|20)\\d{2}[- ]\\d{4,5}$"), concat(
          regexp_extract(s, "^((19|20)\\d{2})", 1), lit("-"),
          lpad(regexp_extract(s, "[- ](\\d{4,5})$", 1), 5, "0")))
      }),
    // Spanish ISCIII (:51 / :100): CODE/NNNNN with LPAD-5 serial
    SharpRule(4320334923L,
      n => {
        val s = nospace(n)
        when(s.rlike("^[A-Z]{2,4}\\d{2}(CIII)?/\\d{5}$"), concat(
          regexp_extract(s, "^([A-Z]{2,4}\\d{2}(CIII)?)/", 1), lit("/"),
          regexp_extract(s, "/(\\d{5})$", 1)))
      },
      n => {
        val s = nospace(n)
        when(s.rlike("^[A-Z]{2,4}\\d{2}(CIII)?[/-]\\d{1,5}$"), concat(
          regexp_extract(s, "^([A-Z]{2,4}\\d{2}(CIII)?)[/-]", 1), lit("/"),
          lpad(regexp_extract(s, "[/-](\\d{1,5})$", 1), 5, "0")))
      }),
    // Underscore-suffixed serial (:44 / :92): deposited also strips
    // '#' and 950-/letter-code prefixes
    SharpRule(4320334506L,
      n => trimZeros(ex(n, "^(\\d{4,6})_\\d+$")),
      n => trimZeros(ex(
        regexp_replace(regexp_replace(n, "^[#]+ ?", ""), "^(950[- ]|[A-Z]{2,4}[0-9]?[- ]?)", ""),
        "^(\\d{4,6})([-_]\\d+)?$")))) ++ batch2 ++ ukriRules ++ dodRules ++ batch3

  /** Second entry batch: the remaining high-volume grammars. */
  private def batch2: Seq[SharpRule] = Seq(
    // NIH-shape (:25 / :75): U-prefixed 7-digit or bare 8-digit
    SharpRule(4320321001L,
      n => ex(n, "^(U?\\d{7,8})$"),
      n => coalesce(ex(n, "(?<![A-Z0-9])(U\\d{7})(?!\\d)"),
        ex(n, "(?<!\\d)(\\d{8})(?!\\d)"),
        ex(nospace(n), "(?<!\\d)(\\d{8})(?!\\d)"))),
    // two-letter + 6-digit registry (:26 / :76), LPAD recompose
    SharpRule(4320332161L,
      n => ex(n, "([A-Z]{2}\\d{6})"),
      n => {
        val p = "([A-Z]{2}) ?-?(\\d{5,6})(?!\\d)"
        when(ex(n, p).isNotNull,
          concat(regexp_extract(n, p, 1), lpad(regexp_extract(n, p, 2), 6, "0")))
      }),
    // bare 7-digit (:27 / :77) with prefix-code recompose salvage
    SharpRule(4320306076L,
      n => ex(n, "^(\\d{7})$"),
      n => coalesce(ex(n, "(?<!\\d)(\\d{7})(?!\\d)"),
        when(n.rlike("^[A-Z]{2,5}[ -]?\\d{2}[ -]\\d{5}$"),
          concat(regexp_extract(n, "(\\d{2})[ -]\\d{5}$", 1),
            regexp_extract(n, "(\\d{5})$", 1))))),
    // bare 9-digit (:29 / :81)
    SharpRule(4320320879L,
      n => ex(n, "^(\\d{9})$"),
      n => ex(n, "(?<!\\d)(\\d{9})(?!\\d)")),
    // 6-or-9-digit registry, 101-prefixed preferred (:37 / :85)
    SharpRule(4320320300L,
      n => ex(n, "^(\\d{6}|\\d{9})$"),
      n => coalesce(ex(n, "(?<!\\d)(101\\d{6})(?!\\d)"),
        ex(n, "(?<!\\d)(\\d{6})(?!\\d)"))),
    // DOE (:46 / :96): strip separators + DE prefix, program families
    SharpRule(4320306084L,
      n => ex(regexp_replace(regexp_replace(n, "[ -]", ""), "^DE(?=[A-Z]{2}[0-9])", ""),
        "^((SC|EE|FE|AR|NE|NA|EM|OE|IA|PI|BI|CF|ET|SF|HS|DP|EW)\\d{7}|" +
          "(FG|FC|AC|AI|GO|PS|EV|ER|AA)\\d{4}[A-Z]{1,2}\\d{4,6})$"),
      n => ex(regexp_replace(regexp_replace(n, "[ -]", ""), "^DE(?=[A-Z]{2}[0-9])", ""),
        "((SC|EE|FE|AR|NE|NA|EM|OE|IA|PI|BI|CF|ET|SF|HS|DP|EW)\\d{7}|" +
          "(FG|FC|AC|AI|GO|PS|EV|ER|AA)\\d{4}[A-Z]{1,2}\\d{4,6})")),
    // Shandong ZR (:47 / :97)
    SharpRule(4320324174L,
      n => ex(regexp_replace(n, "[ -]", ""),
        "^(ZR(19|20)\\d{2}[A-Z]{1,3}\\d{2,4}|\\d{4}ZR[A-Z][0-9A-Z]{5})$"),
      n => ex(regexp_replace(n, "[ -]", ""),
        "(ZR(19|20)\\d{2}[A-Z]{1,3}\\d{2,4}|\\d{4}ZR[A-Z][0-9A-Z]{5})")),
    // Austrian FWF (:50 / :98): letter+serial, DOI-prefixed deposits
    SharpRule(4320321181L,
      n => ex(nospace(n), "^([A-Z]{1,3}\\d{3,7})$"),
      n => ex(nospace(n),
        "^(?:10\\.55776/|HTTPS?://(?:DX\\.)?DOI\\.ORG/10\\.55776/)?([A-Z]{1,3}\\d{3,7})(?:-[A-Z]\\d{1,3})?$")),
    // NHMRC (:57 / :104): APP/GNT-prefixed 6-7 digit
    SharpRule(4320334705L,
      n => ex(n, "^(\\d{6,7})$"),
      n => coalesce(ex(n, "(?<![A-Z0-9])(?:APP|GNT) ?-?(\\d{6,7})(?!\\d)"),
        ex(nospace(n), "^(?:ID|NHMRC)?[.:#-]*(\\d{6,7})$"))),
    // Hunan JJ (:56 / :103): YYYYJJnnnnn, century salvage
    SharpRule(4320322843L,
      n => ex(n, "^((19|20)\\d{2}JJ\\d{4,5})$"),
      n => {
        val s = nospace(regexp_replace(n, "^(NO|GRANT)[ .:#-]*", ""))
        coalesce(ex(s, "^((?:19|20)\\d{2}JJ\\d{4,5})$"),
          when(s.rlike("^\\d{2}JJ\\d{4,5}$"), concat(lit("20"), s)))
      }))

  /** Third entry batch — the remaining 16 configured funders of
    * AwardNormKey.sql (strict side :23-73 / loose side :77-121). */
  private def batch3: Seq[SharpRule] = {
    val mostStrip: Column => Column = n => nullif(regexp_replace(
      regexp_replace(n, "^(MOST|NSC|NSTC)[ -]*", ""), "[ -]", ""), lit(""))
    Seq(
      // Taiwan NSC legacy id (:37/:91): same grammar as the MOST/NSTC
      // sibling — the agency renamed, the id space is continuous
      SharpRule(2461203286L, mostStrip, mostStrip),
      // UKRI umbrella (:64/:118): anchored council code; deposited
      // gates out label/EU/ORCID-shaped strings then salvages DOD
      // contract forms deposited against the wrong funder
      SharpRule(4320306078L,
        n => ex(n, "^([A-Z][A-Z0-9]{5}[0-9]{2}[A-Z0-9]{3,11})$"),
        n => {
          val s = regexp_replace(n, "[-_ ]", "")
          coalesce(
            when(!s.rlike("^(GRANT|AWARD|CONTRACT|PROJECT|DODWID|H2020|HORIZON)") &&
              !s.rlike("^[A-Z]{2}[0-9]{9}$") &&
              !s.rlike("^[0-9]?[A-Z][0-9]{2}[A-Z]{2}[0-9]{5,6}$"),
              ex(s, "^([A-Z][A-Z0-9]{5}[0-9]{2}[A-Z0-9]{3,11})$")),
            ex(regexp_replace(n, "[- ]", ""),
              "(?<![A-Z0-9])((?:W81XWH|W911NF|N00014|FA[0-9]{4}|HR0011|HDTRA[0-9]|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9})(?![A-Z0-9])"))
        }),
      // NIH activity-code / HHS serial (:51/:105)
      SharpRule(4320306085L,
        n => ex(regexp_replace(n, "[ -]", ""),
          "^([A-Z][A-Z0-9]{4}\\d{6}|\\d{2}[A-Z][A-Z0-9]\\d{4,5})$"),
        n => ex(regexp_replace(n, "[ -]", ""),
          "([A-Z][A-Z0-9]{4}\\d{6}|(?<!\\d)\\d{2}[A-Z][A-Z0-9]\\d{4,5}(?!\\d))")),
      // NASA (:49/:103): separator strip, grammar guarded by the
      // part-plausibility rlikes downstream
      SharpRule(4320306101L,
        n => nullif(regexp_replace(n, "[ -]", ""), lit("")),
        n => nullif(regexp_replace(n, "[ -]", ""), lit(""))),
      // Space-strip funder (:39/:93)
      SharpRule(4320306230L,
        n => nullif(nospace(n), lit("")),
        n => nullif(nospace(n), lit(""))),
      // JSPS legacy H-suffixed (:50/:104): registry carries the HYYYY
      // tail; deposited tolerates a JP prefix and a missing tail
      SharpRule(4320311405L,
        n => ex(n, "^(\\d{2}[A-Z]{2}\\d{7})H\\d{4}$"),
        n => ex(n, "^(?:JP)?(\\d{2}[A-Z]{2}\\d{7})(?:H\\d{4})?$")),
      // NIHR (:63/:117): programme/serial/year salvage tiers behind an
      // NIHR label strip; bare concatenation as the last resort
      SharpRule(4320319990L,
        n => nullif(nospace(n), lit("")),
        n => {
          val l = regexp_replace(n, "NIHR[- ]", "")
          coalesce(
            ex(nospace(l), "^(?:[A-Z]{2,6})?(\\d{2}/\\d{2,4}/\\d{2,4})$"),
            ex(l, "(?<![A-Z0-9-])([A-Z]{1,5}(?:-[A-Z0-9]{1,4}){0,3}-(?:19|20)\\d{2}-[0-9]{2,6}(?:-[A-Z0-9]{1,6}){0,2})(?![A-Z0-9-])"),
            nullif(nospace(l), lit("")))
        }),
      // FAPESP (:29/:83): YY/NNNNN-D; deposited recomposes 4-digit
      // years to their last two and LPADs the serial
      SharpRule(4320320997L,
        n => {
          val p = "^(\\d{2})/(\\d{5})-(\\d)$"
          when(ex(n, p).isNotNull, concat(regexp_extract(n, p, 1), lit("/"),
            regexp_extract(n, p, 2), lit("-"), regexp_extract(n, p, 3)))
        },
        n => {
          val p = "(?<!\\d)(\\d{2,4})/(\\d{4,5})-(\\d)(?!\\d)"
          when(ex(n, p).isNotNull, concat(
            substring(regexp_extract(n, p, 1), -2, 2), lit("/"),
            lpad(regexp_extract(n, p, 2), 5, "0"), lit("-"),
            regexp_extract(n, p, 3)))
        }),
      // Czech GACR (:53/:107): registry GX-prefixed; deposited strips
      // stacked EXPRO/GACR/CSF labels, recomposes dashed legacy forms
      // to slashes, then an unanchored modern-form salvage
      SharpRule(4320321006L,
        n => coalesce(ex(n, "^G[A-Z](\\d{2}-\\d{5}[A-Z])$"),
          ex(n, "^G[A-Z](P?\\d{3}/\\d{2}/[A-Z]?\\d{3,4})$")),
        n => {
          val l = nospace(regexp_replace(n,
            "^((EXPRO|GA ?[CČ]R|GACR|CSF|GRANT|NO)[ .:#-]+)+", ""))
          val dash = "^(?:G[A-Z])?(P?\\d{3})-(\\d{2})-([A-Z]?\\d{3,4})$"
          coalesce(
            ex(l, "^(?:G[A-Z])?(\\d{2}-\\d{5}[A-Z])$"),
            ex(l, "^(?:G[A-Z])?(P?\\d{3}/\\d{2}/[A-Z]?\\d{3,4})$"),
            when(ex(nospace(n), dash).isNotNull, concat_ws("/",
              regexp_extract(nospace(n), dash, 1),
              regexp_extract(nospace(n), dash, 2),
              regexp_extract(nospace(n), dash, 3))),
            ex(nospace(n), "(?<![0-9A-Z-])(\\d{2}-\\d{5}[A-Z])(?![0-9A-Z])"))
        }),
      // Brazilian CAPES finance code (:40/:94)
      SharpRule(4320321091L,
        n => ex(nospace(n), "^((8888\\d|99999)\\.\\d{6}/\\d{4}-\\d{2})$"),
        n => ex(nospace(n), "((8888\\d|99999)\\.\\d{6}/\\d{4}-\\d{2})")),
      // Polish NCN (:41/:95): UMO/DEC-prefixed deposits salvage via
      // the unanchored panel grammar
      SharpRule(4320322511L,
        n => ex(nospace(n),
          "^(20\\d{2}/\\d{2}/[A-Z]{1,2}/[A-Z]{2,3}\\d{1,2}/\\d{5})$"),
        n => ex(nospace(n),
          "(20\\d{2}/\\d{2}/[A-Z]{1,2}/[A-Z]{2,3}\\d{1,2}/\\d{5})")),
      // EPSRC (:36/:90) and the other space-strip funder (:30/:84)
      SharpRule(4320334627L,
        n => nullif(nospace(n), lit("")),
        n => nullif(nospace(n), lit(""))),
      SharpRule(4320334779L,
        n => nullif(nospace(n), lit("")),
        n => nullif(nospace(n), lit(""))),
      // Innovate-UK-shape (:62/:116): bare serial or KTP code behind a
      // single PROJECT/GRANT/APP/NO label
      SharpRule(4320335087L,
        n => ex(nospace(n), "^(\\d{5,8}|KTP\\d{6})$"),
        n => ex(nospace(n),
          "^(?:PROJECT|GRANT|APP|NO)?[.:#-]*(\\d{5,8}|KTP\\d{6})$")),
      // CDMRP (:65/:119): contract families incl. W911 variants
      SharpRule(4320338273L,
        n => ex(regexp_replace(n, "[-_ ]", ""),
          "^((?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4}|W911[A-Z0-9]{2}|CDMRPL)[0-9A-Z]{5,14})$"),
        n => coalesce(
          ex(regexp_replace(n, "[- ]", ""),
            "(?<![A-Z0-9])((?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4}|CDMRPL)[0-9]{2}[A-Z0-9]{3,11})(?![A-Z0-9])"),
          ex(regexp_replace(n, "[-_ ]", ""),
            "^((?:W911[A-Z0-9]{2})[0-9]{2}[A-Z0-9]{3,11})$"))),
      // Zhejiang NSF (:55/:109): L-series codes; deposits missing the
      // leading L get it restored
      SharpRule(4320338464L,
        n => ex(n, "^(L[A-Z]{0,4}\\d{2}[A-Z]\\d{6})$"),
        n => {
          val l = nospace(regexp_replace(n, "^(NO|GRANT)[ .:#-]*", ""))
          coalesce(ex(l, "^(L[A-Z]{0,4}\\d{2}[A-Z]\\d{6})$"),
            when(l.rlike("^[A-Z]{1,4}\\d{2}[A-Z]\\d{6}$") && !l.rlike("^L"),
              concat(lit("L"), l)))
        }))
  }

  /** UKRI councils (:55-60 / :106-111): registry strips separators;
    * deposited salvages the council's GRANT-REF pattern
    * (XX/ A12345 /1) with lookarounds, falling back to a label-strip.
    * One shape, six councils — the rule factory IS the generator's
    * structure. */
  private def ukri(funderId: Long, prefixRe: String, label: String): SharpRule =
    SharpRule(funderId,
      n => nullif(regexp_replace(n, "[ _/.-]", ""), lit("")),
      n => coalesce(
        regexp_replace(ex(n,
          s"(?<![A-Z0-9])($prefixRe/ ?[A-Z0-9/]{4,14}?(/[0-9]{1,2})?)(?![A-Z0-9])"),
          "[ /]", ""),
        nullif(regexp_replace(
          regexp_replace(n, s"^($label|UKRI|GRANT|NO)[ .:#-]*", ""),
          "[ _/.-]", ""), lit(""))))

  private def ukriRules: Seq[SharpRule] = Seq(
    ukri(4320334626L, "MR", "MRC"),        // Medical Research Council
    ukri(4320334629L, "BBS?", "BBSRC"),    // Biotech & Biosciences
    ukri(4320334631L, "NE", "NERC"),       // Natural Environment
    ukri(4320334632L, "(ST|PP)", "STFC"),  // Science & Technology Facilities
    ukri(4320334630L, "ES", "ESRC"),       // Economic & Social
    ukri(4320334609L, "AH", "AHRC"))       // Arts & Humanities

  /** US DOD agencies (:62-70 / :113-121): strip separators, anchored
    * contract-number grammars per agency. */
  private def dod(funderId: Long, re: String): SharpRule =
    SharpRule(funderId,
      n => nullif(regexp_extract(regexp_replace(n, "[-_ ]", ""), s"^($re)$$", 1), lit("")),
      n => nullif(regexp_extract(regexp_replace(n, "[-_ ]", ""), s"^($re)$$", 1), lit("")))

  private def dodRules: Seq[SharpRule] = Seq(
    dod(4320338281L, "W911NF[0-9]{2}[A-Z0-9]{3,9}"),                  // ARO
    dod(4320337345L, "N[0-9]{5}[0-9]{2}[A-Z0-9]{3,9}"),               // ONR
    dod(4320338279L, "(?:FA[0-9]{4}|F49620)[0-9]{2}[A-Z0-9]{3,9}"),   // AFOSR
    dod(4320332180L,
      "(?:HR0011|D[0-9]{2}A[CP]|N66001|W31P4Q|FA86[0-9]{2}|FA87[0-9]{2})[0-9A-Z]{5,12}"), // DARPA
    dod(4320332186L, "HDTRA[0-9][0-9]{2}[A-Z0-9]{3,9}"),              // DTRA
    dod(4320338280L, "(?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9}"),
    dod(4320338415L, "(?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9}"),
    dod(4320338478L, "(?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9}"))

  /** `award_id_is_weak`: deposited bare numbers at dense numeric
    * registries (single source of truth WEAK_BARE in the generator;
    * the data lives in [[graft.plans.AwardWeakBare]] so the native
    * expression and this module share one table). */
  val weakBare: Seq[(Long, String)] = graft.plans.AwardWeakBare.entries

  def isWeak(funderId: Column, awardId: Column): Column =
    isWeakNorm(funderId, normalized(awardId))

  /** [[isWeak]] over an ALREADY-normalized column. Callers that also
    * derive the sharp key should project `normalized(awardId)` once
    * and pass the attribute to both *_Norm variants: passing the raw
    * id inlines the 4-regex normalization subtree into every rule arm
    * (~150 copies across the 50-rule chain), which triples the
    * analyzed/codegen'd tree — plan-build time that every pass pays.
    *
    * r18: evaluates via the native [[graft.plans.AwardIsWeak]]
    * expression — one tree node, hash dispatch, per-JVM compiled
    * patterns. The reference Column chain lives on as the test-scope
    * spec (ChainSpecs); AwardKeysSpec asserts per-row parity across
    * every configured funder × an adversarial string battery. */
  def isWeakNorm(funderId: Column, n: Column): Column =
    org.apache.spark.sql.GraftExpr.column(graft.plans.AwardIsWeak(
      org.apache.spark.sql.GraftExpr.expression(funderId.cast("long")),
      org.apache.spark.sql.GraftExpr.expression(n)))

  /** Sharp key for (funder, award, side); null for unconfigured
    * funders — callers fall back to the generic key.
    *
    * Codegen note (re-measured r17 at the q68 rotation, 150k rows):
    * the 50-branch chain's generated code tops the JVM 64KB
    * single-method limit, so whole-stage codegen falls back to the
    * row-based projection for this stage. Per row only the matched
    * funder's regexes evaluate (guards are cheap long equality) —
    * BUT inlining `normalized(awardId)` per rule arm (the pre-r17
    * form of this method) both tripled the analyzed/codegen'd tree
    * (plan-build time every pass pays) and re-ran the 4-regex prelude
    * per arm use per row in the interpreted fallback: hoisting it to
    * a projected attribute via [[sharpKeyNorm]] halved q68's task CPU
    * (4.2 → 1.8 s) and its plan-build gap (2.75 → 1.2 s). Row-local
    * and embarrassingly parallel — scales linearly with executors. */
  def sharpKey(funderId: Column, awardId: Column, registrySide: Column): Column =
    sharpKeyNorm(funderId, normalized(awardId), registrySide)

  /** [[sharpKey]] over an ALREADY-normalized column (see
    * [[isWeakNorm]] for why callers should project it once).
    *
    * r18: evaluates via the native [[graft.plans.AwardSharpKey]]
    * expression. The pre-r18 `when` chain's generated code topped the
    * JVM 64 KB method limit, so whole-stage codegen failed (and burned
    * ~1 s of Janino work) on EVERY pass of every consumer before
    * falling back to row mode; the native node keeps stages
    * codegen-able and dispatches by hash instead of 40 guards. A null
    * registrySide coalesces to false = the chain's `otherwise`
    * (deposited) branch. The Column chain over [[rules]] lives on as
    * the test-scope spec (ChainSpecs) for the parity test. */
  def sharpKeyNorm(funderId: Column, n: Column, registrySide: Column): Column =
    org.apache.spark.sql.GraftExpr.column(graft.plans.AwardSharpKey(
      org.apache.spark.sql.GraftExpr.expression(funderId.cast("long")),
      org.apache.spark.sql.GraftExpr.expression(n),
      org.apache.spark.sql.GraftExpr.expression(
        coalesce(registrySide, lit(false)))))

  /** Deposited provenances (WorkAwards): sharp keys from these are
    * weakness-guarded; everything else is registry-side. */
  val DepositedProvenances: Seq[String] = Seq("crossref_work_funders",
    "crossref_work.grants", "crossref_work", "europepmc_work_funders",
    "datacite_work_funders")

  /** Canonical award per (funder, key, regime) — WorkAwards `awards`:
    * regime 'g' elects by (has display_name, id); regime 's' elects by
    * (is_registry, has display_name, newest end_year, id) — families
    * sharing a sharp key elect the newest year's registry record.
    * @param awards (id, display_name, funder_id, funder_award_id,
    *               end_year, provenance) */
  def canonicalLookup(awards: DataFrame): DataFrame = {
    val isReg = !col("provenance").isin(DepositedProvenances: _*)
    val base = awards.filter(col("funder_award_id").isNotNull)
      .withColumn("gk", genericKey(col("funder_award_id")))
      // normalized ONCE as an attribute; the rule chain references it
      // instead of inlining the 4-regex prelude per arm (isWeakNorm doc)
      .withColumn("__nrm", normalized(col("funder_award_id")))
      // weakness guards DEPOSITED evidence only; registry ids are
      // trusted (WorkAwards awards_base CASE)
      .withColumn("sk", when(isReg || !isWeakNorm(col("funder_id"), col("__nrm")),
        sharpKeyNorm(col("funder_id"), col("__nrm"), isReg)))
      .drop("__nrm")
      .withColumn("is_registry", isReg.cast("int"))
    val g = base.withColumn("__rn", row_number().over(
        Window.partitionBy(col("funder_id"), col("gk"))
          .orderBy(col("display_name").isNotNull.desc, col("id"))))
      .filter(col("__rn") === 1)
      .select(col("id"), col("display_name"), col("funder_id"),
        col("funder_award_id"), col("gk").as("nk"), lit("g").as("regime"))
    val s = base.filter(col("sk").isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("funder_id"), col("sk"))
          .orderBy(col("is_registry").desc, col("display_name").isNotNull.desc,
            col("end_year").desc_nulls_last, col("id"))))
      .filter(col("__rn") === 1)
      .select(col("id"), col("display_name"), col("funder_id"),
        col("funder_award_id"), col("sk").as("nk"), lit("s").as("regime"))
    g.unionByName(s)
  }

  /** WorkAwards join: generic key first, sharp-deposited key second
    * (weak deposited keys suppressed — they never auto-merge).
    * @param workFunders (work_id, funder_id, funder_award_id) */
  def matchWorkAwards(workFunders: DataFrame, lookup: DataFrame): DataFrame = {
    val keyed = workFunders
      .withColumn("nk", genericKey(col("funder_award_id")))
      .withColumn("__nrm", normalized(col("funder_award_id")))
      .withColumn("sk", when(!isWeakNorm(col("funder_id"), col("__nrm")),
        sharpKeyNorm(col("funder_id"), col("__nrm"), lit(false))))
      .drop("__nrm")
    val g = lookup.filter(col("regime") === "g").select(
      col("funder_id").as("__gf"), col("nk").as("__gk"),
      col("id").as("__gid"), col("display_name").as("__gdn"),
      col("funder_award_id").as("__gaid"))
    val s = lookup.filter(col("regime") === "s").select(
      col("funder_id").as("__sf"), col("nk").as("__sk"),
      col("id").as("__sid"), col("display_name").as("__sdn"),
      col("funder_award_id").as("__said"))
    keyed
      .join(g, col("funder_id") === col("__gf") && col("nk") === col("__gk"), "left")
      .join(s, col("funder_id") === col("__sf") && col("sk") === col("__sk"), "left")
      .filter(coalesce(col("__gid"), col("__sid")).isNotNull)
      .select(col("work_id"), col("funder_id"),
        col("funder_award_id").as("deposited_award_id"),
        coalesce(col("__gid"), col("__sid")).as("award_id"),
        coalesce(col("__gdn"), col("__sdn")).as("award_display_name"),
        coalesce(col("__gaid"), col("__said")).as("canonical_award_id"),
        when(col("__gid").isNotNull, "generic").otherwise("sharp").as("matched_via"))
  }
}
