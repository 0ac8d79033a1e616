package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flat view the transform specs assert on: target columns, the raw
  * document and the audit-derived columns, projected from
  * `transformCollection(...).shared` — the projection `Pipeline.run`
  * writes both planes from. No clock column, so outputs are
  * deterministic.
  */
object TransformFlat {
  def apply(raw: DataFrame, rawCol: String, cm: CollectionMapping,
      runtime: RuntimeConfig, audit: AuditSettings): DataFrame =
    Transform.transformCollection(raw, rawCol, "t", cm, runtime, audit).shared
      .select(cm.mappings.values.map(m => col(m.column)).toSeq ++ Seq(
        col("__raw").as(cm.rawJsonColumn),
        to_json(col("__missing_columns")).as("missing_columns"),
        size(col("__errors")).as("n_errors"),
        col("__status").as("status"),
        col("__object_id").as("object_id")): _*)
}
