package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native evaluation of the AwardKeys per-funder sharp-key / weakness
  * rules (graft.awards.AwardKeys — reference AwardNormKey.sql).
  *
  * WHY (guide: expressions & codegen): as a Column tree the ~40-funder
  * rule cascade is a `when` chain whose generated code tops the JVM
  * 64 KB method limit — whole-stage codegen failed to compile on every
  * pass of every consumer (q68/q108/q109/q69/q118/q128: an ERROR +
  * ~1 s of wasted Janino work per pass, then the row-based fallback),
  * and the analyzed tree itself cost ~1.3 s/pass of driver time. Here
  * the whole cascade is ONE expression node: the generated code is a
  * single static call, the per-funder dispatch is a hash lookup
  * instead of up to 40 sequential guards, and every regex is compiled
  * once per JVM instead of per codegen instance.
  *
  * SEMANTICS are a 1:1 port of the Column chain; the original Column
  * implementations are kept in test scope (SharpRules, ChainSpecs) and
  * AwardKeysSpec asserts per-row parity over every configured funder ×
  * an adversarial string battery (plus the DuckDB oracle on the six
  * consumer queries). The Spark built-ins being ported (regexp_extract
  * / regexp_replace / rlike / lpad / substring / CAST) all delegate to
  * java.util.regex / UTF8String, so the port uses the same engines:
  *  - ex(p,s)     = regexp_extract(s,p,1) nullif '' (first find; a
  *    non-participating group extracts as '' → null)
  *  - replaceAll  = regexp_replace (all occurrences)
  *  - rlike       = Matcher.find
  *  - lpad(s,k)   = pad with '0', TRUNCATING to k when longer (Spark
  *    lpad semantics)
  *  - trimZeros   = CAST(CAST(s AS BIGINT) AS STRING) — digits-only
  *    inputs by construction, null on cast failure
  *  - substr      = SQL substring (1-based, negative start from end)
  */
object AwardKeyRules {

  private def ex(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find()) {
      val g = m.group(1)
      if (g == null || g.isEmpty) null else g
    } else null
  }
  private def rlike(p: Pattern, s: String): Boolean = p.matcher(s).find()
  private def nullifEmpty(s: String): String =
    if (s == null || s.isEmpty) null else s
  private def trimZeros(s: String): String =
    if (s == null) null
    else try java.lang.Long.parseLong(s.trim).toString
    catch { case _: NumberFormatException => null }
  private def lpad0(s: String, len: Int): String =
    if (s == null) null
    else if (s.length >= len) s.substring(0, len)
    else ("0" * (len - s.length)) + s
  /** SQL substring (1-based; negative start counts from the end). */
  private def substr(s: String, pos: Int, len: Int): String =
    if (s == null) null
    else {
      val sl = s.length
      val start = if (pos > 0) math.min(pos - 1, sl)
        else if (pos < 0) math.max(sl + pos, 0) else 0
      val end = math.min(sl.toLong, start.toLong + len).toInt
      if (start >= end) "" else s.substring(start, end)
    }
  private def P(p: String): Pattern = Pattern.compile(p)

  private val spaceP = P(" ")
  private def nospace(s: String): String = if (s == null) null else spaceP.matcher(s).replaceAll("")

  /** One funder's pair of rule functions over the NORMALIZED string
    * (never null when called). Either side may return null (no key). */
  final case class Rule(registry: String => String, deposited: String => String)

  // ---- rule bodies, in SharpRules.rules order ------------------------

  private val anrReg = P("^ANR-(\\d{2})-([A-Z0-9]{2,6})-(\\d{4})")
  private val anrDep = P("(?:ANR-?)?(\\d{2})-([A-Z0-9]{2,6})-(\\d{4})")
  private def anr3(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find() && m.group(1) != null && !m.group(1).isEmpty)
      m.group(1) + "-" + m.group(2) + "-" + m.group(3)
    else null
  }

  private val wel360 = P("360G-WELLCOME-(\\d{5,6})")
  private val welCore = P("^(\\d{5,6})(?:[/_ ][A-Z](?:[/_ ]\\d{2})?([/_ ][A-Z])?)?$")

  private val mostPre = P("^(MOST|NSC|NSTC)[ -]*")
  private val sepDash = P("[ -]")
  private def mostStrip(s: String): String =
    nullifEmpty(sepDash.matcher(mostPre.matcher(s).replaceAll("")).replaceAll(""))

  private val kakAnch = P("^(\\d{2}[A-Z]\\d{5}|\\d{8})$")
  private val kakDep1 = P("^(?:KAKENHI|JP|NO\\.?|GRANT)?[ -]*(\\d{2}[A-Z]\\d{5}|\\d{8})$")
  private val kakDep2 = P("^(?:KAKENHI|JP|NO\\.?|GRANT)?(\\d{2}[A-Z]\\d{5}|\\d{8})$")

  private val bare16 = P("^(\\d{1,6})$")
  private val twelve = P("^\\d{12}$")
  private val tail56 = P("(\\d{5,6})$")

  private val aeiReg = P("^((PID|PGC|RYC|RTI|CEX|TED|SEV|BES|FPU|FJC|IJC|CNS|EUR|EQC|PLEC|PDC)\\d{4}-\\d{5,6}[A-Z0-9-]{0,8})$")
  private val aeiDep = P("((PID|PGC|RYC|RTI|CEX|TED|SEV|BES|FPU|FJC|IJC|CNS|EUR|EQC|PLEC|PDC)\\d{4}-\\d{5,6})")

  private val plusSep = P("[+ /-]")

  private val vrReg = P("^((19|20)\\d{2}-\\d{5})$")
  private val vrPre = P("^(VR|DNR|GRANT)[ .:#-]*")
  private val vrForm = P("^(19|20)\\d{2}[- ]\\d{4,5}$")
  private val vrYear = P("^((19|20)\\d{2})")
  private val vrSer = P("[- ](\\d{4,5})$")

  private val isc1 = P("^[A-Z]{2,4}\\d{2}(CIII)?/\\d{5}$")
  private val isc1h = P("^([A-Z]{2,4}\\d{2}(CIII)?)/")
  private val isc1t = P("/(\\d{5})$")
  private val isc2 = P("^[A-Z]{2,4}\\d{2}(CIII)?[/-]\\d{1,5}$")
  private val isc2h = P("^([A-Z]{2,4}\\d{2}(CIII)?)[/-]")
  private val isc2t = P("[/-](\\d{1,5})$")

  private val usReg = P("^(\\d{4,6})_\\d+$")
  private val usHash = P("^[#]+ ?")
  private val usPre = P("^(950[- ]|[A-Z]{2,4}[0-9]?[- ]?)")
  private val usDep = P("^(\\d{4,6})([-_]\\d+)?$")

  private val nihReg = P("^(U?\\d{7,8})$")
  private val nihU7 = P("(?<![A-Z0-9])(U\\d{7})(?!\\d)")
  private val nih8 = P("(?<!\\d)(\\d{8})(?!\\d)")

  private val ll6Reg = P("([A-Z]{2}\\d{6})")
  private val ll6Dep = P("([A-Z]{2}) ?-?(\\d{5,6})(?!\\d)")

  private val b7Reg = P("^(\\d{7})$")
  private val b7Dep = P("(?<!\\d)(\\d{7})(?!\\d)")
  private val b7Sal = P("^[A-Z]{2,5}[ -]?\\d{2}[ -]\\d{5}$")
  private val b7g1 = P("(\\d{2})[ -]\\d{5}$")
  private val b7g2 = P("(\\d{5})$")

  private val b9Reg = P("^(\\d{9})$")
  private val b9Dep = P("(?<!\\d)(\\d{9})(?!\\d)")

  private val b69Reg = P("^(\\d{6}|\\d{9})$")
  private val b101 = P("(?<!\\d)(101\\d{6})(?!\\d)")
  private val b6 = P("(?<!\\d)(\\d{6})(?!\\d)")

  private val dePre = P("^DE(?=[A-Z]{2}[0-9])")
  private val doeReg = P("^((SC|EE|FE|AR|NE|NA|EM|OE|IA|PI|BI|CF|ET|SF|HS|DP|EW)\\d{7}|(FG|FC|AC|AI|GO|PS|EV|ER|AA)\\d{4}[A-Z]{1,2}\\d{4,6})$")
  private val doeDep = P("((SC|EE|FE|AR|NE|NA|EM|OE|IA|PI|BI|CF|ET|SF|HS|DP|EW)\\d{7}|(FG|FC|AC|AI|GO|PS|EV|ER|AA)\\d{4}[A-Z]{1,2}\\d{4,6})")
  private def doePrep(s: String): String =
    dePre.matcher(sepDash.matcher(s).replaceAll("")).replaceAll("")

  private val zrReg = P("^(ZR(19|20)\\d{2}[A-Z]{1,3}\\d{2,4}|\\d{4}ZR[A-Z][0-9A-Z]{5})$")
  private val zrDep = P("(ZR(19|20)\\d{2}[A-Z]{1,3}\\d{2,4}|\\d{4}ZR[A-Z][0-9A-Z]{5})")

  private val fwfReg = P("^([A-Z]{1,3}\\d{3,7})$")
  private val fwfDep = P("^(?:10\\.55776/|HTTPS?://(?:DX\\.)?DOI\\.ORG/10\\.55776/)?([A-Z]{1,3}\\d{3,7})(?:-[A-Z]\\d{1,3})?$")

  private val nhReg = P("^(\\d{6,7})$")
  private val nhApp = P("(?<![A-Z0-9])(?:APP|GNT) ?-?(\\d{6,7})(?!\\d)")
  private val nhId = P("^(?:ID|NHMRC)?[.:#-]*(\\d{6,7})$")

  private val huReg = P("^((19|20)\\d{2}JJ\\d{4,5})$")
  private val noGrantPre = P("^(NO|GRANT)[ .:#-]*")
  private val huAnch = P("^((?:19|20)\\d{2}JJ\\d{4,5})$")
  private val huShort = P("^\\d{2}JJ\\d{4,5}$")

  private val ukriUReg = P("^([A-Z][A-Z0-9]{5}[0-9]{2}[A-Z0-9]{3,11})$")
  private val ukriUSep = P("[-_ ]")
  private val ukriULbl = P("^(GRANT|AWARD|CONTRACT|PROJECT|DODWID|H2020|HORIZON)")
  private val ukriUEu = P("^[A-Z]{2}[0-9]{9}$")
  private val ukriUOr = P("^[0-9]?[A-Z][0-9]{2}[A-Z]{2}[0-9]{5,6}$")
  private val ukriUDash = P("[- ]")
  private val ukriUDod = P("(?<![A-Z0-9])((?:W81XWH|W911NF|N00014|FA[0-9]{4}|HR0011|HDTRA[0-9]|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9})(?![A-Z0-9])")

  private val hhsReg = P("^([A-Z][A-Z0-9]{4}\\d{6}|\\d{2}[A-Z][A-Z0-9]\\d{4,5})$")
  private val hhsDep = P("([A-Z][A-Z0-9]{4}\\d{6}|(?<!\\d)\\d{2}[A-Z][A-Z0-9]\\d{4,5}(?!\\d))")

  private val jlReg = P("^(\\d{2}[A-Z]{2}\\d{7})H\\d{4}$")
  private val jlDep = P("^(?:JP)?(\\d{2}[A-Z]{2}\\d{7})(?:H\\d{4})?$")

  private val nihrLbl = P("NIHR[- ]")
  private val nihrProg = P("^(?:[A-Z]{2,6})?(\\d{2}/\\d{2,4}/\\d{2,4})$")
  private val nihrCode = P("(?<![A-Z0-9-])([A-Z]{1,5}(?:-[A-Z0-9]{1,4}){0,3}-(?:19|20)\\d{2}-[0-9]{2,6}(?:-[A-Z0-9]{1,6}){0,2})(?![A-Z0-9-])")

  private val fapReg = P("^(\\d{2})/(\\d{5})-(\\d)$")
  private val fapDep = P("(?<!\\d)(\\d{2,4})/(\\d{4,5})-(\\d)(?!\\d)")

  private val gacrReg1 = P("^G[A-Z](\\d{2}-\\d{5}[A-Z])$")
  private val gacrReg2 = P("^G[A-Z](P?\\d{3}/\\d{2}/[A-Z]?\\d{3,4})$")
  private val gacrLbl = P("^((EXPRO|GA ?[CČ]R|GACR|CSF|GRANT|NO)[ .:#-]+)+")
  private val gacrDep1 = P("^(?:G[A-Z])?(\\d{2}-\\d{5}[A-Z])$")
  private val gacrDep2 = P("^(?:G[A-Z])?(P?\\d{3}/\\d{2}/[A-Z]?\\d{3,4})$")
  private val gacrDash = P("^(?:G[A-Z])?(P?\\d{3})-(\\d{2})-([A-Z]?\\d{3,4})$")
  private val gacrSalv = P("(?<![0-9A-Z-])(\\d{2}-\\d{5}[A-Z])(?![0-9A-Z])")

  private val capReg = P("^((8888\\d|99999)\\.\\d{6}/\\d{4}-\\d{2})$")
  private val capDep = P("((8888\\d|99999)\\.\\d{6}/\\d{4}-\\d{2})")

  private val ncnReg = P("^(20\\d{2}/\\d{2}/[A-Z]{1,2}/[A-Z]{2,3}\\d{1,2}/\\d{5})$")
  private val ncnDep = P("(20\\d{2}/\\d{2}/[A-Z]{1,2}/[A-Z]{2,3}\\d{1,2}/\\d{5})")

  private val iukReg = P("^(\\d{5,8}|KTP\\d{6})$")
  private val iukDep = P("^(?:PROJECT|GRANT|APP|NO)?[.:#-]*(\\d{5,8}|KTP\\d{6})$")

  private val cdmSep1 = P("[-_ ]")
  private val cdmReg = P("^((?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4}|W911[A-Z0-9]{2}|CDMRPL)[0-9A-Z]{5,14})$")
  private val cdmDep1 = P("(?<![A-Z0-9])((?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4}|CDMRPL)[0-9]{2}[A-Z0-9]{3,11})(?![A-Z0-9])")
  private val cdmDep2 = P("^((?:W911[A-Z0-9]{2})[0-9]{2}[A-Z0-9]{3,11})$")

  private val zjReg = P("^(L[A-Z]{0,4}\\d{2}[A-Z]\\d{6})$")
  private val zjForm = P("^[A-Z]{1,4}\\d{2}[A-Z]\\d{6}$")
  private val zjL = P("^L")

  private val ukriSep = P("[ _/.-]")
  private val ukriSlash = P("[ /]")
  private def ukriRule(prefixRe: String, label: String): Rule = {
    val grantRef = P(s"(?<![A-Z0-9])($prefixRe/ ?[A-Z0-9/]{4,14}?(/[0-9]{1,2})?)(?![A-Z0-9])")
    val lblPre = P(s"^($label|UKRI|GRANT|NO)[ .:#-]*")
    Rule(
      registry = s => nullifEmpty(ukriSep.matcher(s).replaceAll("")),
      deposited = s => {
        val hit = ex(grantRef, s)
        if (hit != null) ukriSlash.matcher(hit).replaceAll("")
        else nullifEmpty(ukriSep.matcher(
          lblPre.matcher(s).replaceAll("")).replaceAll(""))
      })
  }

  private def dodRule(re: String): Rule = {
    val p = P(s"^($re)$$")
    val f = (s: String) => ex(p, cdmSep1.matcher(s).replaceAll(""))
    Rule(f, f)
  }

  /** (funderId, Rule) in SharpRules.rules order; first entry wins on a
    * duplicated funder id, exactly like the `when` chain. */
  private val ruleSeq: Seq[(Long, Rule)] = Seq(
    4320320883L -> Rule(
      s => anr3(anrReg, s),
      s => anr3(anrDep, nospace(s))),
    4320311904L -> Rule(
      s => {
        val hit = ex(wel360, s)
        lpad0(if (hit != null) hit else ex(welCore, s), 6)
      },
      s => lpad0(ex(welCore, s), 6)),
    4320322795L -> Rule(mostStrip, mostStrip),
    4320334764L -> Rule(
      s => ex(kakAnch, s),
      s => {
        val a = ex(kakDep1, s)
        if (a != null) a else ex(kakDep2, nospace(s))
      }),
    4320320924L -> Rule(
      s => trimZeros(ex(bare16, s)),
      s => trimZeros(
        if (rlike(twelve, s)) substr(s, 7, 6) else ex(tail56, s))),
    4320335598L -> Rule(
      s => ex(aeiReg, nospace(s)),
      s => ex(aeiDep, nospace(s))),
    4320321114L -> Rule(
      s => nullifEmpty(plusSep.matcher(s).replaceAll("")),
      s => nullifEmpty(plusSep.matcher(s).replaceAll(""))),
    4320322581L -> Rule(
      s => ex(vrReg, s),
      s => {
        val t = vrPre.matcher(s).replaceAll("")
        if (rlike(vrForm, t)) {
          val y = { val m = vrYear.matcher(t); if (m.find()) m.group(1) else "" }
          val ser = { val m = vrSer.matcher(t); if (m.find()) m.group(1) else "" }
          y + "-" + lpad0(ser, 5)
        } else null
      }),
    4320334923L -> Rule(
      s => {
        val t = nospace(s)
        if (rlike(isc1, t)) {
          val h = { val m = isc1h.matcher(t); if (m.find()) m.group(1) else "" }
          val tl = { val m = isc1t.matcher(t); if (m.find()) m.group(1) else "" }
          h + "/" + tl
        } else null
      },
      s => {
        val t = nospace(s)
        if (rlike(isc2, t)) {
          val h = { val m = isc2h.matcher(t); if (m.find()) m.group(1) else "" }
          val tl = { val m = isc2t.matcher(t); if (m.find()) m.group(1) else "" }
          h + "/" + lpad0(tl, 5)
        } else null
      }),
    4320334506L -> Rule(
      s => trimZeros(ex(usReg, s)),
      s => trimZeros(ex(usDep,
        usPre.matcher(usHash.matcher(s).replaceAll("")).replaceAll("")))),
    // batch2
    4320321001L -> Rule(
      s => ex(nihReg, s),
      s => {
        val a = ex(nihU7, s)
        if (a != null) a
        else {
          val b = ex(nih8, s)
          if (b != null) b else ex(nih8, nospace(s))
        }
      }),
    4320332161L -> Rule(
      s => ex(ll6Reg, s),
      s => {
        val m = ll6Dep.matcher(s)
        if (m.find() && m.group(1) != null && !m.group(1).isEmpty)
          m.group(1) + lpad0(m.group(2), 6)
        else null
      }),
    4320306076L -> Rule(
      s => ex(b7Reg, s),
      s => {
        val a = ex(b7Dep, s)
        if (a != null) a
        else if (rlike(b7Sal, s)) {
          val g1 = { val m = b7g1.matcher(s); if (m.find()) m.group(1) else "" }
          val g2 = { val m = b7g2.matcher(s); if (m.find()) m.group(1) else "" }
          g1 + g2
        } else null
      }),
    4320320879L -> Rule(s => ex(b9Reg, s), s => ex(b9Dep, s)),
    4320320300L -> Rule(
      s => ex(b69Reg, s),
      s => {
        val a = ex(b101, s)
        if (a != null) a else ex(b6, s)
      }),
    4320306084L -> Rule(
      s => ex(doeReg, doePrep(s)),
      s => ex(doeDep, doePrep(s))),
    4320324174L -> Rule(
      s => ex(zrReg, sepDash.matcher(s).replaceAll("")),
      s => ex(zrDep, sepDash.matcher(s).replaceAll(""))),
    4320321181L -> Rule(
      s => ex(fwfReg, nospace(s)),
      s => ex(fwfDep, nospace(s))),
    4320334705L -> Rule(
      s => ex(nhReg, s),
      s => {
        val a = ex(nhApp, s)
        if (a != null) a else ex(nhId, nospace(s))
      }),
    4320322843L -> Rule(
      s => ex(huReg, s),
      s => {
        val t = nospace(noGrantPre.matcher(s).replaceAll(""))
        val a = ex(huAnch, t)
        if (a != null) a
        else if (rlike(huShort, t)) "20" + t
        else null
      }),
    // batch3 (inserted after batch2 like the Column chain: rules =
    // base ++ batch2 ++ ukriRules ++ dodRules ++ batch3 — order only
    // matters for duplicate ids, and ids are unique)
    2461203286L -> Rule(mostStrip, mostStrip),
    4320306078L -> Rule(
      s => ex(ukriUReg, s),
      s => {
        val t = ukriUSep.matcher(s).replaceAll("")
        val first =
          if (!rlike(ukriULbl, t) && !rlike(ukriUEu, t) && !rlike(ukriUOr, t))
            ex(ukriUReg, t)
          else null
        if (first != null) first
        else ex(ukriUDod, ukriUDash.matcher(s).replaceAll(""))
      }),
    4320306085L -> Rule(
      s => ex(hhsReg, sepDash.matcher(s).replaceAll("")),
      s => ex(hhsDep, sepDash.matcher(s).replaceAll(""))),
    4320306101L -> Rule(
      s => nullifEmpty(sepDash.matcher(s).replaceAll("")),
      s => nullifEmpty(sepDash.matcher(s).replaceAll(""))),
    4320306230L -> Rule(
      s => nullifEmpty(nospace(s)),
      s => nullifEmpty(nospace(s))),
    4320311405L -> Rule(s => ex(jlReg, s), s => ex(jlDep, s)),
    4320319990L -> Rule(
      s => nullifEmpty(nospace(s)),
      s => {
        val l = nihrLbl.matcher(s).replaceAll("")
        val a = ex(nihrProg, nospace(l))
        if (a != null) a
        else {
          val b = ex(nihrCode, l)
          if (b != null) b else nullifEmpty(nospace(l))
        }
      }),
    4320320997L -> Rule(
      s => {
        val m = fapReg.matcher(s)
        if (m.find() && m.group(1) != null && !m.group(1).isEmpty)
          m.group(1) + "/" + m.group(2) + "-" + m.group(3)
        else null
      },
      s => {
        val m = fapDep.matcher(s)
        if (m.find() && m.group(1) != null && !m.group(1).isEmpty)
          substr(m.group(1), -2, 2) + "/" + lpad0(m.group(2), 5) + "-" + m.group(3)
        else null
      }),
    4320321006L -> Rule(
      s => {
        val a = ex(gacrReg1, s)
        if (a != null) a else ex(gacrReg2, s)
      },
      s => {
        val l = nospace(gacrLbl.matcher(s).replaceAll(""))
        val a = ex(gacrDep1, l)
        if (a != null) a
        else {
          val b = ex(gacrDep2, l)
          if (b != null) b
          else {
            val ns = nospace(s)
            val m = gacrDash.matcher(ns)
            if (m.find() && m.group(1) != null && !m.group(1).isEmpty)
              m.group(1) + "/" + m.group(2) + "/" + m.group(3)
            else ex(gacrSalv, ns)
          }
        }
      }),
    4320321091L -> Rule(
      s => ex(capReg, nospace(s)),
      s => ex(capDep, nospace(s))),
    4320322511L -> Rule(
      s => ex(ncnReg, nospace(s)),
      s => ex(ncnDep, nospace(s))),
    4320334627L -> Rule(
      s => nullifEmpty(nospace(s)),
      s => nullifEmpty(nospace(s))),
    4320334779L -> Rule(
      s => nullifEmpty(nospace(s)),
      s => nullifEmpty(nospace(s))),
    4320335087L -> Rule(
      s => ex(iukReg, nospace(s)),
      s => ex(iukDep, nospace(s))),
    4320338273L -> Rule(
      s => ex(cdmReg, cdmSep1.matcher(s).replaceAll("")),
      s => {
        val a = ex(cdmDep1, ukriUDash.matcher(s).replaceAll(""))
        if (a != null) a else ex(cdmDep2, cdmSep1.matcher(s).replaceAll(""))
      }),
    4320338464L -> Rule(
      s => ex(zjReg, s),
      s => {
        val l = nospace(noGrantPre.matcher(s).replaceAll(""))
        val a = ex(zjReg, l)
        if (a != null) a
        else if (rlike(zjForm, l) && !rlike(zjL, l)) "L" + l
        else null
      }),
    // ukriRules
    4320334626L -> ukriRule("MR", "MRC"),
    4320334629L -> ukriRule("BBS?", "BBSRC"),
    4320334631L -> ukriRule("NE", "NERC"),
    4320334632L -> ukriRule("(ST|PP)", "STFC"),
    4320334630L -> ukriRule("ES", "ESRC"),
    4320334609L -> ukriRule("AH", "AHRC"),
    // dodRules
    4320338281L -> dodRule("W911NF[0-9]{2}[A-Z0-9]{3,9}"),
    4320337345L -> dodRule("N[0-9]{5}[0-9]{2}[A-Z0-9]{3,9}"),
    4320338279L -> dodRule("(?:FA[0-9]{4}|F49620)[0-9]{2}[A-Z0-9]{3,9}"),
    4320332180L -> dodRule("(?:HR0011|D[0-9]{2}A[CP]|N66001|W31P4Q|FA86[0-9]{2}|FA87[0-9]{2})[0-9A-Z]{5,12}"),
    4320332186L -> dodRule("HDTRA[0-9][0-9]{2}[A-Z0-9]{3,9}"),
    4320338280L -> dodRule("(?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9}"),
    4320338415L -> dodRule("(?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9}"),
    4320338478L -> dodRule("(?:W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9}"))

  private val ruleMap: java.util.HashMap[java.lang.Long, Rule] = {
    val m = new java.util.HashMap[java.lang.Long, Rule]()
    ruleSeq.foreach { case (id, r) =>
      if (!m.containsKey(id)) m.put(id, r) // first wins, like the when chain
    }
    m
  }

  /** Funder ids with a sharp rule (AwardKeysSpec iterates them). */
  def configuredFunders: Seq[Long] = ruleSeq.map(_._1).distinct

  private val weakMap: java.util.HashMap[java.lang.Long, Pattern] = {
    val m = new java.util.HashMap[java.lang.Long, Pattern]()
    graft.plans.AwardWeakBare.entries.foreach { case (id, p) =>
      if (!m.containsKey(id)) m.put(id, P(p))
    }
    m
  }

  /** Static entry points (called from generated code — the Scala
    * object gets Java static forwarders). */
  def sharpKey(funderId: Long, n: UTF8String, registrySide: Boolean): UTF8String = {
    val rule = ruleMap.get(funderId)
    if (rule == null || n == null) return null
    val s = n.toString
    val out = if (registrySide) rule.registry(s) else rule.deposited(s)
    if (out == null) null else UTF8String.fromString(out)
  }

  def isWeak(funderId: Long, n: UTF8String): Boolean = {
    val p = weakMap.get(funderId)
    if (p == null || n == null) false else p.matcher(n.toString).find()
  }
}

/** The weak-bare registry, split out so AwardKeys (the data owner)
  * and AwardKeyRules don't circularly depend: AwardKeys.weakBare
  * delegates here (single source of truth). */
object AwardWeakBare {
  val entries: Seq[(Long, String)] = Seq(
    4320334506L -> "^[0-9]{4,6}$", 4320311904L -> "^[0-9]{5,6}$",
    4320320924L -> "^[0-9]{4,6}$", 4320320300L -> "^[0-9]{6}$",
    4320306076L -> "^[0-9]{7}$", 4320334593L -> "^[0-9]{4,6}$")
}

/** `award_sharp_key(funder_id BIGINT, normalized STRING, registry_side
  * BOOLEAN) -> STRING`: the whole per-funder cascade as one node. A
  * null funder or null normalized string yields null (the `when`
  * chain's behavior); callers coalesce a nullable registry_side to
  * false (the chain's `otherwise` took the deposited side). */
case class AwardSharpKey(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, StringType, BooleanType) => TypeCheckResult.TypeCheckSuccess
      case (f, n, r) => TypeCheckResult.TypeCheckFailure(
        s"award_sharp_key requires (BIGINT, STRING, BOOLEAN), got " +
          s"(${f.catalogString}, ${n.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "award_sharp_key"

  override def nullSafeEval(f: Any, n: Any, r: Any): Any =
    AwardKeyRules.sharpKey(f.asInstanceOf[Long],
      n.asInstanceOf[UTF8String], r.asInstanceOf[Boolean])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (f, n, r) => s"""
      ${ev.value} = graft.plans.AwardKeyRules.sharpKey($f, $n, $r);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): AwardSharpKey =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `award_is_weak(funder_id BIGINT, normalized STRING) -> BOOLEAN`,
  * never null: the Column chain ends in COALESCE(…, FALSE), so a null
  * funder or null string is simply not weak. */
case class AwardIsWeak(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (f, n) => TypeCheckResult.TypeCheckFailure(
        s"award_is_weak requires (BIGINT, STRING), got " +
          s"(${f.catalogString}, ${n.catalogString})")
    }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "award_is_weak"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val f = left.eval(input)
    if (f == null) false
    else {
      val n = right.eval(input)
      if (n == null) false
      else AwardKeyRules.isWeak(f.asInstanceOf[Long],
        n.asInstanceOf[UTF8String])
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val f = left.genCode(ctx)
    val n = right.genCode(ctx)
    ev.copy(code = code"""
      ${f.code}
      boolean ${ev.value} = false;
      if (!${f.isNull}) {
        ${n.code}
        if (!${n.isNull}) {
          ${ev.value} = graft.plans.AwardKeyRules.isWeak(${f.value}, ${n.value});
        }
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AwardIsWeak =
    copy(left = newLeft, right = newRight)
}
