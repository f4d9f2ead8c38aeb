package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small store inputs from the committed fixtures, for the store read
  * and schema specs: the 200 good documents of the JSONL corpus
  * fixture, and one deterministic 8-d embedding per document id. */
object StoreFixtures {
  /** (doc_id, text, lang, source, url). */
  def docs(spark: SparkSession): DataFrame =
    graft.sources.JsonlCorpus.load(spark).filter(col("id").isNotNull)
      .select(col("id").as("doc_id"), col("text"), col("lang"),
        col("meta.source").as("source"),
        concat(lit("https://s"), col("id").cast("string"),
          lit(".example/p/"), col("id").cast("string")).as("url"))

  /** (vec_id, embedding): 8 doubles in [0, 10) hashed from the id. */
  def embeddings(spark: SparkSession): DataFrame =
    spark.range(200).select(col("id").as("vec_id"),
      array((0 until 8).map(j =>
        (pmod(hash(col("id"), lit(j)), lit(1000)) / 100.0).cast("double")): _*)
        .as("embedding"))
}
