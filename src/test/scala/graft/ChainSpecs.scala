package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.awards.AwardKeys

/** The Column-chain formulations of the native serve and award
  * expressions (graft.plans.SanitizeName, AwardIsWeak, AwardSharpKey)
  * — executable specs only. SnapshotDocsSpec and AwardKeysSpec pin
  * each native expression against its chain. */
object ChainSpecs {

  /** Regex-chain form of [[graft.serve.SnapshotDocs.sanitizeName]]. */
  def sanitizeName(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(c, "[^\\p{L}\\p{N}\\p{P}\\p{S}\\p{Z}]", ""),
      "\\s+", " "))

  /** Column-chain form of [[AwardKeys.isWeakNorm]]. */
  def isWeakNorm(funderId: Column, n: Column): Column =
    // reduceRight: when(a).otherwise(when(b).otherwise(...)) — each
    // when gets exactly one otherwise
    coalesce(AwardKeys.weakBare.map { case (f, p) =>
      when(funderId === f, n.rlike(p))
    }.reduceRight(_.otherwise(_)), lit(false))

  /** Column-chain form of [[AwardKeys.sharpKeyNorm]]. */
  def sharpKeyNorm(funderId: Column, n: Column,
      registrySide: Column): Column =
    SharpRules.rules.map { r =>
      when(funderId === r.funderId,
        when(registrySide, r.registry(n)).otherwise(r.deposited(n)))
    }.reduceRight(_.otherwise(_))
}
