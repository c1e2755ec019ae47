package graft.entities

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Institution ancestry (reference: notebooks/institutions/
  * CreateInstitutionAncestors.ipynb — a WITH RECURSIVE walk up the ROR
  * parent hierarchy, ≤10 generations, path-based cycle detection).
  *
  * Spark-first form: a BOUNDED iterative self-join — generation g joins
  * the generation-(g−1) frontier back onto the edge table. Each step is
  * one shuffle-on-key equijoin; depth is capped exactly like the
  * reference's `generation < 10` guard, and the carried `__path` array
  * reproduces its `NOT ARRAY_CONTAINS(path, grandparent)` cycle check.
  * The hierarchy is shallow (ROR depth ≤ ~6), so the unrolled plan stays
  * small; an empty frontier makes the remaining joins no-op.
  */
object Institutions {

  /** Transitive ancestors from direct parent edges.
    * @param edges (child_id, parent_id) active parent relationships
    * @return (institution_id, ancestor_id, generation) — generation 1 =
    *         direct parent */
  def ancestors(edges: DataFrame, maxDepth: Int = 10): DataFrame = {
    val e2 = edges.select(col("child_id").as("__c"), col("parent_id").as("__p"))
    var frontier = edges.select(col("child_id").as("institution_id"),
      col("parent_id").as("ancestor_id"), lit(1).as("generation"),
      array(col("child_id")).as("__path"))
    var acc = frontier
    for (g <- 2 to maxDepth) {
      frontier = frontier.join(e2, frontier("ancestor_id") === e2("__c"))
        .filter(!array_contains(col("__path"), col("__p")))
        .select(col("institution_id"), col("__p").as("ancestor_id"),
          lit(g).as("generation"),
          array_union(col("__path"), array(col("__p"))).as("__path"))
      acc = acc.unionByName(frontier)
    }
    acc.drop("__path")
  }

  /** Per-institution lineage array, closest ancestors first
    * (deterministic: generation ASC, ancestor_id ASC). */
  def lineage(anc: DataFrame): DataFrame =
    anc.groupBy(col("institution_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("generation"), col("ancestor_id")))),
        x => x.getField("ancestor_id")).as("lineage_ids"),
        count(lit(1)).cast("int").as("n_ancestors"),
        max(col("generation")).cast("int").as("max_generation"))
}
