package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic transcript table (conv_id, turn_idx, role, text, tool, ts)
  * derived from the driver-provided `events` + `documents` parquet tables —
  * no randomness, so the DuckDB oracle can re-derive the identical table
  * with plain SQL (see [[graft.SparkEntry.oracleSql]]).
  *
  * Shape mirrors the reference's record-stream unit (one named graph per
  * record — NgsCmdImpls.java:81): here one conversation = one record group,
  * one event = one turn. Entity mentions are embedded in `text` with three
  * alias surface variants per entity plus a hot "celebrity" entity
  * (every 4th turn mentions entity 0) to exercise skew handling.
  *
  * Scale notes (100 TB): this is a pure projection + one broadcast join
  * (documents is the small side) + one window over (user_id) — at
  * production scale the transcript table is read directly from Iceberg and
  * this derivation disappears; the window partitions by conv_id which is
  * also the downstream grouping key, so the single shuffle is reused.
  */
object Transcripts {

  /** Row count of the documents table (the broadcast side) from the
    * parquet FOOTERS on the driver — zero Spark jobs, vs. the count() job
    * this replaced — over the data files Spark's scan lists, memoized
    * while they are unchanged.
    */
  private def docCount(spark: SparkSession, sfDir: String): Long = {
    val docs = s"$sfDir/documents.parquet"
    val conf = spark.sessionState.newHadoopConf()
    graft.Memo("transcripts.docCount", Seq(docs), conf) {
      val root = new org.apache.hadoop.fs.Path(docs)
      try graft.Memo.dataFiles(root.getFileSystem(conf), root).map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
          try r.getRecordCount finally r.close()
        }.sum
      catch {
        case scala.util.control.NonFatal(e) =>
          // any layout the footer probe can't handle falls back to the
          // universal one-job count this probe replaced (same number)
          System.err.println(
            s"[transcripts] footer count fell back to count(): $e")
          spark.read.parquet(docs).count()
      }
    }
  }

  def apply(spark: SparkSession, sfDir: String): DataFrame = {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text").as("doc_text"))
    val n = docCount(spark, sfDir)

    // entity id: skewed — every 4th event mentions the hot entity 0
    val entId = when(col("event_id") % 4 === 0, lit(0L))
      .otherwise(col("event_id") % 25)
    // three alias surface variants of the same logical entity
    val surface = when(col("event_id") % 3 === 0,
        concat(lit("NATION_"), entId.cast("string")))
      .when(col("event_id") % 3 === 1,
        concat(lit("nation "), entId.cast("string")))
      .otherwise(concat(lit("Nation-"), entId.cast("string")))

    // window partitions by conv_id (bijective with user_id) so the
    // downstream per-conversation windows/groupBys REUSE this exchange —
    // one shuffle on conv_id serves the whole pipeline.
    val w = Window.partitionBy(col("conv_id")).orderBy(col("event_id"))

    e.join(broadcast(d), d("doc_id") === e("event_id") % n)
      // 12-digit pad: lpad TRUNCATES longer inputs (would merge distinct
      // users into one conversation); 12 covers any realistic id space
      .withColumn("conv_id",
        concat(lit("conv-"), lpad(col("user_id").cast("string"), 12, "0")))
      .select(
        col("conv_id"),
        (row_number().over(w) - 1).cast("int").as("turn_idx"),
        when(col("event_id") % 2 === 0, lit("user"))
          .when(col("event_type") === "error", lit("system"))
          .when(col("event_type") === "click", lit("tool"))
          .otherwise(lit("assistant")).as("role"),
        concat(col("doc_text"), lit(" [entity: "), surface, lit("]"))
          .as("text"),
        when(col("event_type").isin("click", "purchase"),
          concat(lit("tool_"), col("event_type"))).as("tool"),
        col("ts"))
  }

  /** The same derivation as ANSI SQL for the DuckDB oracle, as a CTE body
    * named `transcripts`. Kept in lockstep with [[apply]].
    */
  def oracleCte: String =
    """transcripts AS (
      |  SELECT
      |    'conv-' || lpad(CAST(e.user_id AS VARCHAR), 12, '0') AS conv_id,
      |    CAST(row_number() OVER (PARTITION BY e.user_id ORDER BY e.event_id) - 1 AS INT) AS turn_idx,
      |    CASE WHEN e.event_id % 2 = 0 THEN 'user'
      |         WHEN e.event_type = 'error' THEN 'system'
      |         WHEN e.event_type = 'click' THEN 'tool'
      |         ELSE 'assistant' END AS role,
      |    d.text || ' [entity: ' ||
      |      CASE WHEN e.event_id % 3 = 0 THEN 'NATION_' || CAST(ent.id AS VARCHAR)
      |           WHEN e.event_id % 3 = 1 THEN 'nation ' || CAST(ent.id AS VARCHAR)
      |           ELSE 'Nation-' || CAST(ent.id AS VARCHAR) END || ']' AS text,
      |    CASE WHEN e.event_type IN ('click','purchase') THEN 'tool_' || e.event_type END AS tool,
      |    e.ts AS ts
      |  FROM events e
      |  JOIN documents d ON d.doc_id = e.event_id % (SELECT count(*) FROM documents)
      |  CROSS JOIN LATERAL (SELECT CASE WHEN e.event_id % 4 = 0 THEN 0 ELSE e.event_id % 25 END AS id) ent
      |)""".stripMargin
}
