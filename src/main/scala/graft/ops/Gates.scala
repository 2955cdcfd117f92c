package graft.ops

import org.apache.spark.sql.DataFrame

/** In-DAG validation gates (SURVEY §2.11 Q1-Q3). */
object Gates {

  /** Result of the schema precheck (`precheck_schema`,
    * `tasks/quality_parallel.py:20-51`): the report payload written to
    * `schema_report.json` — present columns sorted, missing required set. */
  final case class SchemaReport(columnsPresent: Seq[String], missing: Seq[String]) {
    def ok: Boolean = missing.isEmpty
  }

  class GateFailure(msg: String) extends RuntimeException(msg)

  /** Required-columns gate: `requiredCols ⊆ df.columns` else raise with the
    * missing set (message shape ≙ `quality_parallel.py:48`). Pure schema
    * check — no job is launched. */
  def schemaGate(df: DataFrame, requiredCols: Seq[String]): SchemaReport = {
    val present = df.columns.toSet
    val report = SchemaReport(df.columns.sorted.toSeq,
      requiredCols.filterNot(present.contains))
    if (!report.ok)
      throw new GateFailure(s"Schema check failed; missing columns: ${report.missing.mkString(", ")}")
    report
  }

  /** Non-empty gate: count rows, raise on 0 (`precheck_nonempty`,
    * `quality_parallel.py:54-73`). Returns the count — it feeds the drift
    * check downstream (`flows/sf_etl_orchestrator_flow.py:156-157`). */
  def nonEmptyGate(df: DataFrame): Long = nonEmptyGate(df.count())

  /** The same gate over a row count the caller already has. */
  def nonEmptyGate(rows: Long): Long = {
    if (rows == 0) throw new GateFailure("No data to process")
    rows
  }
}
