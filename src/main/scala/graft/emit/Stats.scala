package graft.emit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.canonical.NilCluster

/** KG statistics report (S9; ≙ the ~25 aggregate statistics at
  * `/root/reference/impl/caligraph/serialize.py:345-396`) and the tiny
  * JSON sink (S8, ≙ serialize.py:306-342 — driver-side, the aggregate is
  * taxonomy-sized). */
object Stats {

  /** One row per statistic over the triple table. */
  def kgStats(triples: DataFrame): DataFrame = {
    val byPred = triples.groupBy("pred")
      .agg(count(lit(1)).as("n"))
      .select(concat(lit("triples_"), col("pred")).as("stat"),
              col("n").cast("double").as("value"))
    val totals = triples.agg(
      count(lit(1)).as("triples_total"),
      countDistinct("subj").as("entities"),
      countDistinct(when(NilCluster.isNew(col("subj")), col("subj")))
        .as("new_entities"),
      countDistinct("pred").as("predicates"),
      avg(when(col("pred") === graft.core.Schemas.Preds.Type, 1.0)
            .otherwise(0.0)).as("type_share"))
    val long = totals.columns.map { c =>
      totals.select(lit(c).as("stat"), col(c).cast("double").as("value"))
    }.reduce(_ unionByName _)
    byPred.unionByName(long)
  }

  /** S8: the stats as a single JSON object string (driver-side; the input
    * is the already-aggregated stats table, never the corpus). */
  def toJson(stats: DataFrame): String =
    stats.collect().sortBy(_.getString(0))
      .map(r => s""""${r.getString(0)}": ${r.getDouble(1)}""")
      .mkString("{", ", ", "}")
}
