package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every store read passes a DECLARED schema instead of inferring one
  * (no footer-inference job per read), so the declaration must be
  * exactly what inference gives on what the writers write: checked for
  * every accreting artifact and every frozen seed of all four stores
  * after build, after an append and after compaction — a writer change
  * that drifts a type fails here instead of silently retyping reads. */
class StoreSchemasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def relDocs: DataFrame = StoreFixtures.docs(spark)
  private def emb: DataFrame = StoreFixtures.embeddings(spark)

  private def seeds(kind: String, path: String): Seq[(String, StructType)] =
    kind match {
      case "sig" => Seq(s"$path/params.parquet" -> SignatureStore.ParamsSchema)
      case "retrieval" =>
        Seq(s"$path/params.parquet" -> RetrievalIndexStore.ParamsSchema)
      case "vector" => Seq(
        s"$path/params.parquet" -> VectorIndexStore.ParamsSchema,
        s"$path/centroids.parquet" -> VectorIndexStore.VectorsSchema,
        s"$path/codebook.parquet" -> VectorIndexStore.VectorsSchema)
      case "release" => Seq(
        s"$path/sig/params.parquet" -> SignatureStore.ParamsSchema,
        s"$path/lm.parquet" -> ReleaseStore.LmSchema,
        s"$path/lm_tot.parquet" -> ReleaseStore.LmTotSchema,
        s"$path/profiles.parquet" -> ReleaseStore.ProfilesSchema)
    }

  private def check(kind: String, path: String, stage: String): Unit = {
    val declared = StoreMaintenance.artifactsOf(kind, path)
      .map(s => s.dir -> s.schema) ++ seeds(kind, path)
    assert(declared.map(_._1).toSet ==
      (StoreMaintenance.artifactsOf(kind, path).map(_.dir) ++
        StoreSnapshots.frozenOf(kind, path)).toSet,
      s"$kind: every artifact and seed is declared")
    declared.foreach { case (d, schema) =>
      val inferred = spark.read.parquet(d).schema
      assert(schema == inferred,
        s"$kind $stage: $d declares ${schema.treeString} infers ${inferred.treeString}")
    }
  }

  test("declared artifact and seed schemas equal inference after build, " +
    "append and compaction, for all four stores") {
    val root = "/tmp/graft_storeschemas"
    val (base, batch) = (col("doc_id") % 4 =!= 0, col("doc_id") % 4 === 0)
    val d = relDocs.select("doc_id", "text")
    val cents = emb.filter(col("vec_id") % 37 === 0)
    val stores = Seq[(String, () => Unit, () => Unit)](
      ("sig",
        () => SignatureStore.build(d.filter(base), "doc_id", "text", s"$root/sig"),
        () => SignatureStore.append(d.filter(batch), "doc_id", "text", s"$root/sig")),
      ("retrieval",
        () => RetrievalIndexStore.build(d.filter(base), "doc_id", "text",
          s"$root/retrieval", tokBuckets = 8, positional = true),
        () => RetrievalIndexStore.append(d.filter(batch), "doc_id", "text",
          s"$root/retrieval")),
      ("vector",
        () => VectorIndexStore.build(emb.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", s"$root/vector", cents, cents,
          numSub = 4, subDim = 2, cellBuckets = 4),
        () => VectorIndexStore.append(emb.filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", s"$root/vector")),
      ("release",
        () => ReleaseStore.build(relDocs.filter(base),
          relDocs.filter(base).select(col("doc_id"),
            lit("kept").as("disposition")), s"$root/release"),
        () => ReleaseStore.incrementalRelease(spark, s"$root/release",
          relDocs.filter(batch), d.filter(col("doc_id") % 7 === 0))))
    stores.foreach { case (kind, build, append) =>
      val path = s"$root/$kind"
      build()
      check(kind, path, "after build")
      append()
      check(kind, path, "after append")
      kind match {
        case "sig" => StoreMaintenance.compactSignatureStore(spark, path)
        case "retrieval" =>
          StoreMaintenance.compactRetrievalIndexStore(spark, path)
        case "vector" => StoreMaintenance.compactVectorIndexStore(spark, path)
        case "release" => StoreMaintenance.compactReleaseStore(spark, path)
      }
      check(kind, path, "after compaction")
    }
  }
}
