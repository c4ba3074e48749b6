package graft.operators

import org.apache.spark.sql.DataFrame

/** STAGE MATERIALIZER: the one checkpoint behind every multi-consumer
  * stage of the curation chains ([[Pipeline]]). A frame that feeds two
  * or more consumers replays its WHOLE lineage per consumer when left
  * lazy (r16: q103's single executed plan carried 516 parquet scans /
  * 870 exchanges before per-stage materialization, 0 / 35 after), so
  * each stage is computed once, eagerly, and its lineage truncated.
  * See [[Pipeline]] for the execution and fault-tolerance contract.
  */
object Materializer {
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)
}
