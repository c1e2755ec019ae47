package graft.authors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** API-shape authorship assembly (reference: notebooks/end2end/
  * CreateWorkAuthorships.ipynb:20-448 — matched authors + institution
  * lineage + corresponding flags folded into one ordered array per
  * work). One shuffle on work_id; the institutions dimension is
  * broadcast. The per-authorship aggregate, the last-seat window and
  * the per-work aggregate all group by keys that start with work_id,
  * so the authorships are partitioned on work_id once, before the
  * first of them, and all three reuse it.
  */
object Authorships {

  /** @param matched    (work_id, author_seq, author_id, raw_name,
    *                    is_corresponding, institution_ids ARRAY<STRING>)
    * @param institutions (institution_id, display_name, country_code,
    *                    lineage ARRAY<STRING>) — small dim, broadcast */
  def assemble(matched: DataFrame, institutions: DataFrame): DataFrame = {
    val instDim = broadcast(institutions.select(
      col("institution_id"), struct(
        col("institution_id").as("id"), col("display_name"),
        col("country_code"), col("lineage")).as("inst")))
    val withInst = matched
      .select(col("work_id"), col("author_seq"), col("author_id"),
        col("raw_name"), col("is_corresponding"), col("institution_ids"))
      .repartition(col("work_id"))
      .select(col("work_id"), col("author_seq"), col("author_id"),
        col("raw_name"), col("is_corresponding"),
        explode_outer(col("institution_ids")).as("institution_id"))
      .join(instDim, Seq("institution_id"), "left")
      .groupBy(col("work_id"), col("author_seq"), col("author_id"),
        col("raw_name"), col("is_corresponding"))
      .agg(array_sort(collect_list(col("inst"))).as("institutions"),
        sort_array(collect_set(col("inst.country_code"))).as("countries"))
    val authorship = struct(
      col("author_seq"),
      when(col("author_seq") === 0, "first")
        .when(col("author_seq") === col("__last"), "last")
        .otherwise("middle").as("author_position"),
      col("author_id"), col("raw_name"), col("is_corresponding"),
      col("institutions"), col("countries"))
    withInst
      .withColumn("__last", max(col("author_seq"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("work_id"))))
      .groupBy(col("work_id"))
      .agg(array_sort(collect_list(authorship)).as("authorships"),
        max(when(col("is_corresponding"), lit(true)).otherwise(lit(false)))
          .as("has_corresponding"))
  }
}
