package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.ColumnExprAccess
import org.scalatest.funsuite.AnyFunSuite

import graft.awards.{FunderConfigs, FunderIngestShape,
  ResolvedFunderIngestConfig}

/** Standing config-vs-notebook column-existence audit.
  *
  * Round 12's two transcription defects (a Gruber source column that
  * does not exist in the reference feed; a GRB three-valued-logic
  * year drop) were invisible to the unit fixtures because the
  * fixtures were synthesized FROM the config — a transcription error
  * in the config reproduces itself in the fixture. This spec re-runs
  * the audit that caught them, as a permanent gate: every
  * `col("...")` a config references must appear as an identifier
  * token in the cited reference notebook's source.
  *
  * The machinery is reflective, so a new tranche def is picked up
  * automatically — landing a config without (a) a notebook citation
  * in its Scaladoc and (b) regenerated resources
  * (`python3 dev/extract_config_notebooks.py`) fails here, and so does
  * a cited def that drops out of the reflection (its signature no
  * longer zero-arg / currentYear), so no config skips the audit.
  */
class ConfigColumnsSpec extends AnyFunSuite {

  private val resDir = "notebook_columns"

  private def resource(name: String): Option[String] = {
    val in = getClass.getResourceAsStream(s"/$resDir/$name")
    if (in == null) None
    else Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
  }

  /** defName -> cited notebooks, from the generated tsv. */
  private lazy val citations: Map[String, Seq[String]] =
    resource("config_notebooks.tsv").get.linesIterator.filter(_.nonEmpty)
      .map { ln =>
        val parts = ln.split("\t", 2)
        parts(0) -> parts(1).split(",").toSeq.filter(_.nonEmpty)
      }.toMap

  private def tokensOf(nb: String): Set[String] =
    resource(nb.replace(".ipynb", ".txt"))
      .getOrElse(fail(s"missing token file for $nb — rerun " +
        "dev/extract_config_notebooks.py"))
      .linesIterator.filter(_.nonEmpty).toSet

  /** Raw-source column names a config references: the root of every
    * unresolved attribute across all of its field expressions. */
  private def referencedColumns(c: FunderIngestShape): Set[String] = {
    val fields: Seq[Column] = c.fields.productIterator.toSeq.collect {
      case col: Column => col
      case Some(col: Column) => col
    } ++ (c match {
      case r: ResolvedFunderIngestConfig => Seq(r.resolvedFunderId)
      case _ => Nil
    })
    fields.flatMap { col =>
      ColumnExprAccess.expr(col).collect {
        case u: UnresolvedAttribute => u.nameParts.head.toLowerCase
      }
    }.toSet
  }

  /** Intermediate names minted by OUR pre-transforms (side-table
    * aggregations, normalized stream landings) rather than read from
    * the notebook's raw feed — each entry justified in FIXTURES.md /
    * the config's Scaladoc. Keep this list SHORT: anything else
    * missing from the notebook is a transcription bug. */
  private val synthetic: Set[String] = Set.empty

  /** Every public zero-arg / currentYear-arg def on FunderConfigs
    * returning a config shape. */
  private lazy val configs: Seq[(String, FunderIngestShape)] = {
    val obj = FunderConfigs
    obj.getClass.getMethods.toSeq
      .filter(m =>
        classOf[FunderIngestShape].isAssignableFrom(m.getReturnType))
      .filter(m => m.getParameterCount == 0 ||
        (m.getParameterCount == 1 &&
          m.getParameterTypes()(0) == java.lang.Integer.TYPE))
      .sortBy(_.getName)
      .map { m =>
        val cfg =
          if (m.getParameterCount == 0) m.invoke(obj)
          else m.invoke(obj, Integer.valueOf(2026))
        m.getName -> cfg.asInstanceOf[FunderIngestShape]
      }
  }

  test("every public config def has a notebook citation in the " +
    "generated map") {
    val unmapped = configs.map(_._1).filterNot(citations.contains)
    assert(unmapped.isEmpty,
      s"\nconfig defs with no config_notebooks.tsv entry — cite the " +
        s"notebook in the Scaladoc and rerun " +
        s"dev/extract_config_notebooks.py: ${unmapped.mkString(", ")}")
    val uncited = configs.map(_._1).filter(n =>
      citations.get(n).exists(_.isEmpty))
    assert(uncited.isEmpty,
      s"\nconfig defs whose Scaladoc cites no Create*.ipynb notebook: " +
        uncited.mkString(", "))
  }

  test("every cited def is reflected: a def whose signature leaves " +
    "the zero-arg / currentYear shape drops out of the audit loudly") {
    val reflected = configs.map(_._1).toSet
    val unreflected = citations.keySet -- reflected
    assert(unreflected.isEmpty,
      s"\nconfig_notebooks.tsv cites defs the reflection no longer " +
        s"finds (renamed, removed, or their signature changed), so " +
        "their columns go unaudited: " +
        unreflected.toSeq.sorted.mkString(", "))
    assert(reflected.size === citations.size)
  }

  test("every config's expressions resolve to source columns (the " +
    "audit below is not vacuous)") {
    val blind = configs.collect {
      case (name, cfg) if referencedColumns(cfg).isEmpty => name
    }
    assert(blind.isEmpty,
      s"\nconfigs whose field expressions yield no source column — " +
        s"the Column-to-expression bridge is not converting: " +
        blind.mkString(", "))
  }

  test("every column a config references exists in its cited " +
    "notebook's source (the audit that caught Gruber's " +
    "prize_profile_url)") {
    val failures = configs.flatMap { case (name, cfg) =>
      citations.get(name).filter(_.nonEmpty).toSeq.flatMap { nbs =>
        val tokens = nbs.map(tokensOf).reduce(_ ++ _)
        val missing = (referencedColumns(cfg) -- synthetic)
          .filterNot(tokens.contains)
        if (missing.isEmpty) Nil
        else Seq(s"$name (${nbs.mkString(",")}): " +
          missing.toSeq.sorted.mkString(", "))
      }
    }
    assert(failures.isEmpty,
      "\ncolumns referenced by a config but absent from its cited " +
        "notebook's source:\n  " + failures.mkString("\n  "))
  }

  test("the USAspending registry slices share the audited dod column " +
    "surface") {
    val dodCols = referencedColumns(FunderConfigs.dod)
    val tokens = tokensOf("CreateDODAwards.ipynb")
    FunderConfigs.usaSpendingRegistry.foreach { case (key, cfg) =>
      assert(referencedColumns(cfg) === dodCols,
        s"registry slice '$key' diverges from the shared archetype")
    }
    assert((dodCols -- synthetic).forall(tokens.contains))
  }
}
