package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV source/sink (SURVEY.md §2.1 S2/S3 — the reference persists its
  * report and bootstrap matrices as CSV, `Method_code.Rmd:473,752-753`).
  *
  * Spark's native CSV writer emits one file per partition, so the sink
  * scales with the data: a dimension-sized report coalesces to a single
  * human-readable file, a 100 TB extract stays fully parallel. Reads
  * take an explicit schema (inference = an extra full pass over the
  * data — never at scale).
  */
object Csv {

  /** Write `df` as headered CSV. `singleFile = true` coalesces to one
    * part file — only for dimension-sized results (a report table);
    * leave false for data-sized extracts.
    */
  def write(df: DataFrame, path: String, header: Boolean = true,
            singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite")
      .option("header", header.toString)
      .csv(path)
  }

  /** Read CSV with an explicit schema (no inference pass). */
  def read(spark: SparkSession, path: String, schema: StructType,
           header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .csv(path)
}
