package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.f1.F1Schemas

/** Loaders for the committed F1 fixture tables (S1-S8 scans), with the
  * explicit F1Schemas contract applied at read so downstream plans are
  * schema-stable regardless of what the files infer to.
  */
object F1Tables {
  val FixtureDir: String = s"${Fixtures.root}/f1"

  private def load(spark: SparkSession, name: String,
                   schema: org.apache.spark.sql.types.StructType,
                   dir: String): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")

  def laps(spark: SparkSession, dir: String = FixtureDir): DataFrame =
    load(spark, "laps", F1Schemas.laps, dir)
  def stints(spark: SparkSession, dir: String = FixtureDir): DataFrame =
    load(spark, "stints", F1Schemas.stints, dir)
  def drivers(spark: SparkSession, dir: String = FixtureDir): DataFrame =
    load(spark, "drivers", F1Schemas.drivers, dir)
  def sessions(spark: SparkSession, dir: String = FixtureDir): DataFrame =
    load(spark, "sessions", F1Schemas.sessions, dir)
  def meetings(spark: SparkSession, dir: String = FixtureDir): DataFrame =
    load(spark, "meetings", F1Schemas.meetings, dir)
  def pit(spark: SparkSession, dir: String = FixtureDir): DataFrame =
    load(spark, "pit", F1Schemas.pit, dir)
  def carData(spark: SparkSession, dir: String = FixtureDir): DataFrame =
    load(spark, "car_data", F1Schemas.carData, dir)
  def location(spark: SparkSession, dir: String = FixtureDir): DataFrame =
    load(spark, "location", F1Schemas.location, dir)
}
