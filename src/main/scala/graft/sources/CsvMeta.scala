package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** CSV metadata-sidecar ingest — the other interchange format real
  * pipelines receive (catalog exports, label sheets, crawl manifests).
  * Same ingest rules as [[JsonlCorpus]]: explicit declared schema (no
  * inference pass), and RFC 4180 quoting pinned explicitly — Spark's
  * csv default escape is backslash, NOT the RFC's doubled quote, so
  * `escape = "` is set to make `"He said ""fast"""` parse identically
  * to DuckDB's read_csv. The committed fixture plants embedded
  * commas, doubled quotes, and empty→NULL fields.
  */
object CsvMeta {

  val FixtureFile: String = s"${Fixtures.root}/corpus/meta.csv"

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("title", StringType),
    StructField("tags", StringType),
    StructField("score", LongType),
    StructField("note", StringType)))

  def load(spark: SparkSession, path: String = FixtureFile): DataFrame =
    spark.read.schema(schema)
      .option("header", value = true)
      .option("escape", "\"")
      .csv(path)
}
