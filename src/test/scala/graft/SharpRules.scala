package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The per-funder sharp-key rules of AwardNormKey.sql as Column
  * chains — an executable spec only. `graft.plans.AwardKeyExprs`
  * carries the rule table the native [[graft.awards.AwardKeys.sharpKeyNorm]]
  * evaluates; ChainSpecs folds these rules into the Column-chain form
  * that AwardKeysSpec pins the native expression against. */
object SharpRules {

  private def ex(c: Column, pattern: String): Column =
    nullif(regexp_extract(c, pattern, 1), lit(""))
  private def nospace(c: Column): Column = regexp_replace(c, " ", "")
  /** Leading-zero trim via bigint round-trip (the SQL's CAST(CAST…)). */
  private def trimZeros(c: Column): Column = c.cast("long").cast("string")

  /** Per-funder sharp-key rules; `registry` and `deposited` both take
    * the [[graft.awards.AwardKeys.normalized]] string. */
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
}
