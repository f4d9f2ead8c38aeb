package graft

import graft.ext.StoreMaintenance

/** Operational CLI for the store-maintenance path — the entry point a
  * deployment's scheduler invokes on its compaction cadence (the
  * batch sibling of the merge sink's `maintainEvery` knob):
  *
  *   run_main.sh graft.StoreMaintain audit     <artifactDir>...
  *   run_main.sh graft.StoreMaintain sig       <storePath>
  *   run_main.sh graft.StoreMaintain vector    <storePath>
  *   run_main.sh graft.StoreMaintain retrieval <storePath>
  *   run_main.sh graft.StoreMaintain release   <storePath>
  *   run_main.sh graft.StoreMaintain enable    <kind> <storePath>
  *   run_main.sh graft.StoreMaintain vacuum    <kind> <storePath> <keepGens>
  *
  * `audit` prints the footer-only health inventory (zero data read —
  * the WHEN); the store kinds run the corresponding compaction and
  * print one JSON line per artifact with the before/after arithmetic
  * plus the wall seconds — the line an operator's log retention
  * actually wants. `enable` adopts a store directory written without
  * a store log (idempotent: a no-op on any store a `build` wrote; a
  * directory of the older per-artifact-chain layout fails loudly and
  * must be rebuilt).
  *
  * Concurrency contract: every store keeps one log from its build.
  * Appends and compactions are ordinary writers — each publishes one
  * conditional create of the log, and a compaction racing an append
  * re-bases onto it — so readers keep resolving their pinned entry
  * throughout. Only `vacuum` deletes bytes, and it runs exclusively. */
object StoreMaintain {

  /** Minimal JSON string escaping — paths can carry quotes or
    * backslashes, and an operator's log pipeline chokes on raw
    * interpolation. */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private val Usage =
    "usage: StoreMaintain audit <artifactDir>... | " +
      "<sig|vector|retrieval|release> <storePath> | " +
      "enable <kind> <storePath> | " +
      "vacuum <kind> <storePath> <keepGens>"

  def main(args: Array[String]): Unit = {
    // per-subcommand arity up front: a short invocation dies with the
    // usage line, never an ArrayIndexOutOfBoundsException
    val arity = Map("audit" -> 2, "enable" -> 3, "vacuum" -> 4,
      "sig" -> 2, "vector" -> 2, "retrieval" -> 2, "release" -> 2)
    require(args.nonEmpty && arity.contains(args(0)) &&
      args.length >= arity(args(0)), Usage)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args(0) match {
      case "audit" =>
        StoreMaintenance.auditArtifacts(spark, args.drop(1).toSeq)
          .collect().foreach { r =>
            println(s"""{"artifact":${jstr(r.getString(0))},"n_files":${r.getLong(1)},""" +
              s""""bytes":${r.getLong(2)},"rows":${r.getLong(3)},""" +
              s""""bytes_per_file":${r.getLong(4)}}""")
          }
      case "enable" =>
        val gen = graft.ext.StoreSnapshots.enable(args(1), args(2))
        println(s"""{"enabled":${jstr(args(2))},"kind":${jstr(args(1))},"gen":$gen}""")
      case "vacuum" =>
        val (nf, nm) = StoreMaintenance.vacuumStore(args(1), args(2),
          args(3).toInt)
        println(s"""{"vacuumed":${jstr(args(2))},"files_deleted":$nf,""" +
          s""""manifests_deleted":$nm}""")
      case kind =>
        val path = args(1)
        val t0 = System.nanoTime()
        val reports = kind match {
          case "sig"       => StoreMaintenance.compactSignatureStore(spark, path)
          case "vector"    => StoreMaintenance.compactVectorIndexStore(spark, path)
          case "retrieval" => StoreMaintenance.compactRetrievalIndexStore(spark, path)
          case "release"   => StoreMaintenance.compactReleaseStore(spark, path)
          case other => sys.error(s"unknown store kind: $other")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        reports.foreach { r =>
          println(s"""{"artifact":${jstr(r.artifact)},"files_before":${r.filesBefore},""" +
            s""""files_after":${r.filesAfter},"rows_before":${r.rowsBefore},""" +
            s""""rows_after":${r.rowsAfter}}""")
        }
        println(f"""{"kind":${jstr(kind)},"path":${jstr(path)},"sec":$sec%.2f}""")
    }
    spark.stop()
  }
}
