package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** JSONL (newline-delimited JSON) corpus ingest — the interchange
  * format LLM corpora actually ship in (one JSON document per line;
  * The Pile / RedPajama / Dolma all distribute this way). Spark's
  * native json source line-splits in parallel, so a 100 TB JSONL
  * drop reads with the same partitioning behavior as parquet — but
  * TWO ingest rules matter at that scale and are pinned here:
  *
  *  - **Explicit schema, never inference.** `inferSchema` is a full
  *    extra pass over the data before the real read; at corpus scale
  *    that doubles the scan. The schema is declared once.
  *  - **PERMISSIVE malformed handling.** Real crawls contain broken
  *    lines; failing the job (FAILFAST) loses the batch, silently
  *    dropping (DROPMALFORMED) loses observability. PERMISSIVE keeps
  *    one null-field row per broken line, so corrupt volume is
  *    measurable downstream (the q_jsonl_audit face) and the good
  *    rows are `id IS NOT NULL` (every valid record carries an id by
  *    schema contract).
  *
  * The committed fixture plants three malformed lines (truncated
  * JSON, non-JSON text, wrong-shape object) among 200 good records.
  */
object JsonlCorpus {

  val FixtureFile: String = s"${Fixtures.root}/corpus/docs.jsonl"

  /** Declared once — the no-inference rule. */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("lang", StringType),
    StructField("text", StringType),
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("stars", LongType))))))

  /** Raw PERMISSIVE read: one row per line, malformed lines as
    * null-field rows. */
  def load(spark: SparkSession, path: String = FixtureFile): DataFrame =
    spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
}
