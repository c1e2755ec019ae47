package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.awards.AwardKeys

/** Reference-example fixtures for the sharp-key grammars — the oracle
  * (q68) hand-states expected keys for lookaround-bearing deposited
  * rules, so each funder's salvage behavior is additionally pinned
  * here against examples shaped like AwardNormKey.sql's comments. */
class AwardKeysSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sharp(funder: Long, award: String, registry: Boolean): Option[String] = {
    val df = Seq(award).toDF("a")
      .select(AwardKeys.sharpKey(lit(funder), col("a"), lit(registry)).as("k"))
    Option(df.collect().head.getString(0))
  }

  test("batch3: deposited salvage per funder (reference-shaped examples)") {
    // Taiwan NSC legacy — prefix + separator strip
    assert(sharp(2461203286L, "NSC 97-2221-E-009-165", registry = false)
      .contains("972221E009165"))
    // UKRI umbrella: label-prefixed strings gated; DOD forms salvaged
    assert(sharp(4320306078L, "BB_S0123456_1", registry = false)
      .contains("BBS01234561"))
    assert(sharp(4320306078L, "Grant EP/T012345/1", registry = false).isEmpty)
    assert(sharp(4320306078L, "Award: W81XWH-18-1-0123", registry = false)
      .contains("W81XWH1810123"))
    // NIH activity code, unanchored deposited; serial form lookarounds
    assert(sharp(4320306085L, "R01 AB 123456", registry = false)
      .contains("R01AB123456"))
    assert(sharp(4320306085L, "75N 91019", registry = false)
      .contains("75N91019"))
    assert(sharp(4320306085L, "075N91019X", registry = false).isEmpty)
    // NASA / space-strip funders
    assert(sharp(4320306101L, "NNX 12-AB 34G", registry = false)
      .contains("NNX12AB34G"))
    assert(sharp(4320306230L, "13 GW 0123", registry = false)
      .contains("13GW0123"))
    // JSPS legacy: JP prefix + H-tail both optional on deposits
    assert(sharp(4320311405L, "19KK0123456H0001", registry = true)
      .contains("19KK0123456"))
    assert(sharp(4320311405L, "JP19KK0123456", registry = false)
      .contains("19KK0123456"))
    assert(sharp(4320311405L, "19KK0123456", registry = true).isEmpty)
    // NIHR: programme-number tier, award-id tier, bare fallback
    assert(sharp(4320319990L, "NIHR 12/345/67", registry = false)
      .contains("12/345/67"))
    assert(sharp(4320319990L, "HTA 09/800/34", registry = false)
      .contains("09/800/34"))
    assert(sharp(4320319990L, "NIHR CS-2016-16-010", registry = false)
      .contains("CS-2016-16-010"))
    // FAPESP: 4-digit year folds to 2, serial LPADs to 5
    assert(sharp(4320320997L, "2021/1234-6", registry = false)
      .contains("21/01234-6"))
    assert(sharp(4320320997L, "21/12345-6", registry = true)
      .contains("21/12345-6"))
    // GACR: stacked labels, dashed-form recompose to slashes
    assert(sharp(4320321006L, "GACR 21-12345S", registry = false)
      .contains("21-12345S"))
    // dash recompose runs on the unstripped nospace form (GA prefix
    // only, per :107 third tier) — "GA CR"-labelled dashed ids stay null
    assert(sharp(4320321006L, "GA P503-12-1234", registry = false)
      .contains("P503/12/1234"))
    assert(sharp(4320321006L, "GA CR P503-12-1234", registry = false).isEmpty)
    assert(sharp(4320321006L, "GAP503/12/G042", registry = true)
      .contains("P503/12/G042"))
    // CAPES finance code: unanchored on deposits
    assert(sharp(4320321091L, "CAPES 88881.123456/2019-01 scholarship",
      registry = false).contains("88881.123456/2019-01"))
    // NCN: UMO prefix tolerated
    assert(sharp(4320322511L, "UMO-2019/33/B/ST10/01234", registry = false)
      .contains("2019/33/B/ST10/01234"))
    // Innovate-UK shape: label-stripped serial or KTP code
    assert(sharp(4320335087L, "Grant: 1234567", registry = false)
      .contains("1234567"))
    assert(sharp(4320335087L, "KTP 012345", registry = false)
      .contains("KTP012345"))
    // CDMRP: W81XWH lookaround tier + anchored W911 tier
    assert(sharp(4320338273L, "W81XWH-16-1-0123", registry = false)
      .contains("W81XWH1610123"))
    assert(sharp(4320338273L, "W911NF1234567", registry = false)
      .contains("W911NF1234567"))
    // Zhejiang NSF: missing leading L restored
    assert(sharp(4320338464L, "Y20C123456", registry = false)
      .contains("LY20C123456"))
    assert(sharp(4320338464L, "LQ21F020001", registry = true)
      .contains("LQ21F020001"))
  }

  test("batch3: registry side stays anchored (no salvage on clean data)") {
    assert(sharp(4320306085L, "NIH R01AB123456 grant", registry = true).isEmpty)
    assert(sharp(4320320997L, "2021/12345-6", registry = true).isEmpty)
    assert(sharp(4320322511L, "UMO-2019/33/B/ST10/01234", registry = true).isEmpty)
    assert(sharp(4320338464L, "Y20C123456", registry = true).isEmpty)
  }

  test("rule table covers all 50 distinct AwardNormKey funders") {
    assert(SharpRules.rules.map(_.funderId).distinct.size == 50)
  }

  test("native expression rule table covers the same funders") {
    assert(graft.plans.AwardKeyRules.configuredFunders.sorted ===
      SharpRules.rules.map(_.funderId).distinct.sorted)
  }

  test("native sharp-key / is-weak expressions match the Column-chain " +
    "spec for every funder x adversarial battery x side") {
    // every configured funder + every weak-bare funder + an
    // unconfigured id + a null funder
    val funders: Seq[java.lang.Long] =
      (SharpRules.rules.map(_.funderId) ++ AwardKeys.weakBare.map(_._1))
        .distinct.map(java.lang.Long.valueOf) ++ Seq(
        java.lang.Long.valueOf(999L), null)
    // strings exercising every grammar shape, salvage tier, label
    // strip, lookaround, LPAD/zero-trim path, plus junk / unicode /
    // empty / null
    val battery: Seq[String] = Seq(
      "ANR-19-CE23-0001", "anr 19-CE23-0001", "19-CE23-0001",
      "ANR-19-CE23-0001-01",
      "360G-WELLCOME-098765", "98765/Z/10/A", "98765", "098765/Z/10",
      "MOST 108-2221-E-009-111", "NSC97-2221-E-009-165", "NSTC 112-2221",
      "19K12345", "12345678", "KAKENHI JP19K12345", "NO. 19K12345",
      "GRANT 12345678", "JP 19K12345",
      "1234", "12345", "123456", "1234567", "12345678", "123456789",
      "123456789012", "000123", "0001234",
      "PID2019-123456", "PID2019-123456-ABC", "RYC2020-12345",
      "TED2021-130456B-I00",
      "A+B/C-D 123", "+ / -",
      "VR 2019-12345", "DNR 2019-1234", "2019-12345", "GRANT 2019 04321",
      "PI19/00123", "CP19CIII/00012", "PI19-123", "AC19/00045",
      "12345_6", "#950- 01234", "CB21- 001234_7", "# 2345_1",
      "U1234567", "NIH U1234567 X", "A12345678B", "Grant 12345678.",
      "AB123456", "AB 12345", "AB-123456", "XAB1234567",
      "101123456", "EU 101123456 H2020",
      "DE-SC0012345", "SC0012345", "FG02AB1234", "DE-FG02-97ER25308",
      "ZR2019ABC123", "2019ZRA12345", "ZR 2019 ABC 123",
      "10.55776/P12345", "HTTPS://DOI.ORG/10.55776/P12345-B07", "P12345",
      "APP1234567", "GNT 1234567", "ID:1234567", "NHMRC#1234567",
      "2019JJ40123", "19JJ40123", "NO. 2019JJ40123",
      "BB_S0123456_1", "BBS01234561", "Grant EP/T012345/1",
      "EP/T012345/1", "MR/S01234/1", "MRC MR/S01234/1", "UKRI NE/P01234/1",
      "ST/X001234/1", "ES/T01234X/1", "AH/V001234/1",
      "Award: W81XWH-18-1-0123", "W911NF1810123", "W911NF-18-1-0123",
      "N0001419C1234", "FA9550-19-1-0123", "F49620-99-1-0123",
      "HR001120C0123", "HDTRA1-19-1-0023", "DAMD17-99-1-9123",
      "HT9425-23-1-0123", "CDMRPL-18-0-AB123", "D19AP00123", "N66001-19-C-4123",
      "R01 AB 123456", "75N 91019", "075N91019X", "R01AB123456",
      "NNX 12-AB 34G", "13 GW 0123",
      "JP12AB1234567", "12AB1234567H2019", "12AB1234567",
      "NIHR HTA 12/345/67", "PB-PG-2019-12345", "NIHR-INF-2019-123",
      "HTA 12/345/67",
      "20/12345-6", "2020/12345-3", "FAPESP 2020/1234-5",
      "GAP103/12/1234", "GA CR P103/12/G123", "GACR 19-12345X",
      "EXPRO GA ČR: 19-12345X", "P103-12-0123", "GX19-12345X",
      "88881.123456/2019-01", "99999.123456/2014-05", "CAPES 88882.123456/2019-01",
      "2019/33/B/ST6/12345", "UMO-2019/33/B/ST6/12345",
      "KTP123456", "PROJECT 1234567", "NO:12345678", "GRANT.KTP123456",
      "LZ19E020001", "Z19E020001", "NO. LZ19E020001", "Y20C123456",
      "–dash—forms−here", "\\U2013 escaped", "A B",
      "  spaced   out  ", "", " ", "N/A", "UNKNOWN", "10.1234/foo.bar",
      "ANR", "W81XWH", "GRANT", "0", "00", "999999999999999999999",
      null)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the funder x battery x side product is built in Scala as one
    // local relation: projected over a nested-loop join instead, the
    // several-hundred-arm spec chains overflow the join's generated
    // method and Spark falls back to interpreting it
    val product = new java.util.ArrayList[Row]()
    for (f <- funders; raw <- battery;
         reg <- Seq[java.lang.Boolean](true, false, null))
      product.add(Row(f, raw, reg))
    val crossed = spark.createDataFrame(product, StructType(Seq(
        StructField("funder_id", LongType), StructField("raw", StringType),
        StructField("reg", BooleanType))))
      .withColumn("n", AwardKeys.normalized(col("raw")))
    val out = crossed.select(col("funder_id"), col("raw"), col("reg"),
      AwardKeys.sharpKeyNorm(col("funder_id"), col("n"), col("reg"))
        .as("sk_native"),
      ChainSpecs.sharpKeyNorm(col("funder_id"), col("n"), col("reg"))
        .as("sk_spec"),
      AwardKeys.isWeakNorm(col("funder_id"), col("n")).as("w_native"),
      ChainSpecs.isWeakNorm(col("funder_id"), col("n")).as("w_spec"))
    val bad = out.filter(!(col("sk_native") <=> col("sk_spec")) ||
      !(col("w_native") <=> col("w_spec"))).collect()
    assert(bad.isEmpty, s"${bad.length} mismatches, first 10:\n" +
      bad.take(10).mkString("\n"))
    // sanity: the battery actually produces keys (not all-null parity)
    val keys = out.filter(col("sk_native").isNotNull).count()
    assert(keys > 300, s"battery too weak: only $keys non-null keys")
  }
}
