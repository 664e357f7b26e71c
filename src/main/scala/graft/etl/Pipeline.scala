package graft.etl

import org.apache.spark.sql.SparkSession

/** The DAG shell (SURVEY.md §3 entry-point A). The reference's Airflow
  * DAG (`dags/tourism_finance_etl_dag.py:12-27`) is orchestration, not
  * engine capability: a linear chain
  * `create schemas → operational load → mart build`. Here the chain
  * keeps that order, and inside a stage the independent tables run
  * side by side: the five table loads run concurrently, then, once
  * all have returned, the eleven mart writes run concurrently
  * ([[graft.IndependentJobs]]). (The extract stage S1-S4 is external
  * API I/O represented by fixture CSVs in the staging dir — SURVEY
  * §7.1.)
  */
object Pipeline {

  final case class Result(loaded: Map[String, Long],
                          mart: Map[String, Long])

  def run(spark: SparkSession, stagingDir: String, storeDir: String,
          martDir: String): Result = {
    // Stages 1+2 — DDL (reference create_operational_db_schema), then
    // the incremental operational load (idempotent); OperationalLoad
    // ensures its tables before loading.
    val loaded = OperationalLoad.run(spark, stagingDir, storeDir)
    // Stage 3 — full mart rebuild (truncate-load, deliberately
    // asymmetric with stage 2 — SURVEY §4 idempotency model).
    val mart = MartBuild.run(spark, storeDir, martDir)
    Result(loaded, mart)
  }
}
