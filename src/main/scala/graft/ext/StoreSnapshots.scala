package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** THE STORE LOG — one manifest chain per store, the only record of
  * which files make up each artifact (the table log of Delta Lake,
  * Armbrust et al., VLDB 2020, cut down to what the stores need).
  * Every writer publishes the next FULL file list of every artifact in
  * ONE conditional create, so a reader never observes a half-committed
  * append: postings never without their df, bands never without their
  * sets — BM25's exactness argument ("df over the pruned scan is exact
  * for every query token") holds at every generation.
  *
  * Layout: `<storePath>/_store_manifests/gen=<S>`, published no-clobber
  * via [[graft.sources.ManifestIO]] (`link(2)` on POSIX, a conditional
  * PUT on an object store — nothing POSIX-specific). Lines:
  *
  *   p <tab> <relArtifactDir> <tab> <fileInArtifact>   live data file
  *   f <tab> <relFilePath>    <tab> <bytes>            frozen seed file
  *   t <tab> <runTag>         <tab> <batchId>          last batch a
  *                                   streaming run committed
  *
  * Any other line kind — an `a`/`d` snapshot of the older two-layer
  * layout — fails loudly: such a store must be rebuilt. The `f` lines
  * inventory the seeds an append never touches (params, trained
  * centroids/codebook, the release store's quality models); [[pinAt]]
  * verifies their existence and size before any Spark job runs. The
  * release store's `sig/` member is part of the release log.
  *
  * Contracts: any number of WRITERS — appends ([[commitLanded]]) and
  * compactions ([[StoreMaintenance]]) land files under writer-unique
  * names and publish through [[commit]], which re-bases on a lost race.
  * A streaming REPLAY is recognised by its run's `t` line (Delta's
  * SetTransaction), not by file names, so it publishes nothing even
  * after a compaction and a vacuum. READERS hold a [[Pin]] — one
  * entry, whose files survive every vacuum that keeps it. The VACUUM
  * is the one exclusive step: it deletes every file no kept entry
  * names, a landed but uncommitted batch included. Every `build` ends
  * by publishing entry 0 ([[start]]); [[enable]] adopts a directory
  * written without a log.
  *
  * Reference behavior context: the reference re-reads its corpus per
  * run (no persisted derived state); cross-artifact snapshot isolation
  * is what a 100 TB deployment's serving stores add. */
object StoreSnapshots {

  import StoreGenerations.{canon, exists, visibleParquet}

  /** One log entry: artifact (relative dir) → its live files (relative
    * to the artifact), the seeds' `f` lines, and run tag → the last
    * batch id that run committed. */
  private[ext] final case class Entry(parts: Map[String, Set[String]],
                                      seeds: Seq[String],
                                      runs: Map[String, Long]) {
    /** The artifact's files (absolute) in this entry of the log of the
      * store at `path`. */
    def files(path: String, artifactDir: String): Seq[String] =
      parts.getOrElse(rel(path, artifactDir), throw new IllegalStateException(
        s"$artifactDir is not an artifact of the store log of $path"))
        .toSeq.sorted.map(f => s"$artifactDir/$f")

    def render: String =
      (parts.toSeq.sortBy(_._1).flatMap { case (a, fs) =>
        fs.toSeq.sorted.map(f => s"p\t$a\t$f")
      } ++ seeds ++ runs.toSeq.sorted.map { case (t, b) => s"t\t$t\t$b" })
        .mkString("\n")
  }

  private def mdir(path: String) = s"$path/_store_manifests"

  private def io(path: String): graft.sources.ManifestIO =
    graft.sources.ManifestIO.forPath(path)

  private[ext] def rel(base: String, p: String): String =
    java.nio.file.Paths.get(canon(base))
      .relativize(java.nio.file.Paths.get(canon(p))).toString

  private val GenFile = "gen=(\\d+)".r

  private def gens(path: String): Seq[Long] =
    io(path).list(mdir(path)).collect { case GenFile(g) => g.toLong }.sorted

  /** The newest published generation, if any. */
  def currentGen(path: String): Option[Long] = gens(path).lastOption

  private def oldLayout(what: String) = new IllegalStateException(
    s"$what was written by the older per-artifact-chain store layout " +
      "(`a`/`d` snapshot lines, `_manifests` chains) — rebuild the store")

  /** Entry `gen` of the store at `path`, or None when that generation
    * does not exist (vacuumed or never published). */
  private def entryAt(path: String, gen: Long): Option[Entry] =
    io(path).read(s"${mdir(path)}/gen=$gen").map { content =>
      val ls = content.split("\n").toSeq.filter(_.nonEmpty)
        .map(_.split("\t", -1))
      ls.foreach { l =>
        if (l.length != 3 || !Set("p", "f", "t").contains(l(0)))
          throw oldLayout(s"store log $path gen=$gen (line '${l.mkString("\t")}')")
      }
      def kind(k: String) = ls.filter(_(0) == k)
      Entry(kind("p").groupBy(_(1)).map { case (a, xs) => a -> xs.map(_(2)).toSet },
        kind("f").map(_.mkString("\t")),
        kind("t").map(l => l(1) -> l(2).toLong).toMap)
    }

  /** The current generation of the store at `path` and its entry. */
  private[ext] def latest(path: String): (Long, Entry) = {
    val g = currentGen(path).getOrElse(throw noChain(path))
    (g, entryAt(path, g).getOrElse(throw new IllegalStateException(
      s"store log gen=$g under $path vanished mid-read")))
  }

  private[ext] def noChain(path: String) = new IllegalStateException(
    s"$path has no store log — every store build starts one; adopt a " +
      "store written without one with `StoreMaintain enable`")

  /** Publish entry `gen` — no-clobber: a second writer racing onto the
    * same generation gets [[graft.sources.LostPublishRace]], never a
    * silent last-writer-wins. */
  private[ext] def publish(path: String, gen: Long, e: Entry): Unit = {
    require(e.parts.nonEmpty && e.parts.values.forall(_.nonEmpty),
      s"refusing to publish an entry with an empty artifact under $path")
    val content = e.render
    val target = s"${mdir(path)}/gen=$gen"
    io(path).putIfAbsent(target, content)
    if (!io(path).read(target).contains(content))
      throw new graft.sources.LostPublishRace(
        s"lost publish race on store log $path gen=$gen — another " +
          "writer committed the same generation")
  }

  /** THE commit: read the current entry, apply `change`, and publish
    * the result as the next generation in one conditional create. A
    * lost race re-reads the winner's entry and re-applies `change`
    * (bounded), so every surviving entry differs from its parent by
    * exactly one writer's change. A change that returns its input
    * publishes nothing. Returns the generation that carries it. */
  @annotation.tailrec
  private[ext] def commit(path: String, attempt: Int = 1)
                         (change: Entry => Entry): Long = {
    val (cur, e) = latest(path)
    val next = change(e)
    val won = next == e || (try { publish(path, cur + 1, next); true } catch {
      case _: graft.sources.LostPublishRace if attempt < 16 => false
    })
    if (!won) commit(path, attempt + 1)(change)
    else if (next == e) cur
    else cur + 1
  }

  /** The store's FROZEN artifacts per kind — build-time seeds an
    * append never touches, inventoried read-only in every entry. */
  private[ext] def frozenOf(kind: String, path: String): Seq[String] =
    kind match {
      case "sig"       => Seq(s"$path/params.parquet")
      case "vector"    => Seq(s"$path/centroids.parquet",
        s"$path/codebook.parquet", s"$path/params.parquet")
      case "retrieval" => Seq(s"$path/params.parquet")
      case "release"   => Seq(s"$path/sig/params.parquet",
        s"$path/lm.parquet", s"$path/lm_tot.parquet",
        s"$path/profiles.parquet")
      case other => sys.error(s"unknown store kind: $other")
    }

  /** Entry 0 of a freshly written store: every existing artifact's
    * visible parquet files, every seed file with its size. */
  private[ext] def inventory(path: String, artifacts: Seq[String],
                             seeds: Seq[String]): Entry = {
    val parts = artifacts.filter(exists).map { d =>
      val fs = visibleParquet(d)
      require(fs.nonEmpty, s"nothing to version under $d")
      rel(path, d) -> fs.map(rel(d, _)).toSet
    }
    require(parts.nonEmpty, s"no artifacts under $path")
    Entry(parts.toMap, seeds.filter(exists).flatMap(visibleParquet).map { p =>
      s"f\t${rel(path, p)}\t${java.nio.file.Files.size(java.nio.file.Paths.get(p))}"
    }, Map.empty)
  }

  /** Start the store's log at entry 0 — the last step of every store's
    * `build`. The rebuild replaced every file the old entries name, so
    * they are dropped. */
  private[ext] def start(kind: String, path: String): Unit = {
    gens(path).foreach(g => io(path).delete(s"${mdir(path)}/gen=$g"))
    enable(kind, path)
  }

  /** Adopt a store directory written without a log: publish entry 0
    * over its visible files (a no-op on any store a `build` wrote).
    * The older layout fails loudly instead: its artifact directories
    * hold un-vacuumed compaction inputs beside their outputs, and
    * adopting every visible file would double their rows. */
  def enable(kind: String, path: String): Long = currentGen(path) match {
    case Some(g) =>
      entryAt(path, g) // parses: an old-layout log fails here
      g
    case None =>
      val dirs = StoreMaintenance.artifactsOf(kind, path).map(_.dir)
      dirs.find(d => io(d).list(s"$d/_manifests").nonEmpty)
        .foreach(d => throw oldLayout(d))
      publish(path, 0L, inventory(path, dirs, frozenOf(kind, path)))
      0L
  }

  /** THE append commit: publish a writer's landed files (`landed`:
    * artifact directory → the files [[StoreGenerations.land]] put
    * there) as current + those files, in one conditional create.
    * `batch = Some((batchId, runTag))` also records the run's `t`
    * line, and a batch whose run already committed that id or a later
    * one is a replay: it publishes nothing (its freshly landed files
    * stay unreferenced until the vacuum sweeps them). Committing files
    * the current entry already names is a no-op; a batch of which only
    * SOME files are named fails loudly. An empty landing publishes
    * nothing. Returns the generation that carries the batch. */
  private[ext] def commitLanded(path: String, landed: Map[String, Seq[String]],
                                batch: Option[(Long, String)]): Long = {
    val mine = landed.filter(_._2.nonEmpty).map { case (d, fs) =>
      require(fs.forall(f => exists(f) && canon(f).startsWith(canon(d) + "/")),
        s"a landed file of $d does not exist under it: $fs")
      rel(path, d) -> fs.map(rel(d, _)).toSet
    }
    batch.foreach(b => require(b._2.matches("[A-Za-z0-9]*"),
      s"run tag must be alphanumeric: '${b._2}'"))
    val total = mine.values.map(_.size).sum
    commit(path) { e =>
      val present = mine.toSeq.map { case (a, fs) =>
        require(e.parts.contains(a), s"$a is not an artifact of the store $path")
        fs.count(e.parts(a))
      }.sum
      if (batch.exists { case (id, tag) => e.runs.get(tag).exists(_ >= id) } ||
          present == total) e
      else {
        require(present == 0, s"append under $path is PARTIALLY committed " +
          s"($present/$total files already named) — one landed batch " +
          "must be committed by exactly one commit")
        Entry(e.parts ++ mine.map { case (a, fs) => a -> (e.parts(a) ++ fs) },
          e.seeds, e.runs ++ batch.map(_.swap))
      }
    }
  }

  /** One resolved entry, seeds verified. Readers hold a Pin for one
    * logical query: every artifact read through it is mutually
    * consistent however many commits land meanwhile. */
  final class Pin private[StoreSnapshots] (
      spark: SparkSession, storePath: String, val gen: Long, entry: Entry) {

    /** The artifact's files as this entry names them (absolute). */
    def files(artifactDir: String): Seq[String] = entry.files(storePath, artifactDir)

    /** The artifact as this entry names it — one declared-schema scan
      * of exactly its files ([[scan]]). */
    def read(artifactDir: String): DataFrame =
      scan(spark, artifactDir, files(artifactDir))

    /** The `f` lines of the frozen seed at `seedDir` (verified when
      * this pin resolved). */
    private def seedOf(seedDir: String): Seq[String] = {
      val prefix = rel(storePath, seedDir) + "/"
      val lines = entry.seeds.filter(_.split("\t", 3)(1).startsWith(prefix))
      if (lines.isEmpty) throw new IllegalStateException(
        s"$seedDir is not a frozen seed of store log gen=$gen of $storePath")
      lines
    }

    /** The frozen seed at `seedDir` under its declared `schema`: a scan
      * of exactly the files this entry inventories for it. */
    private[ext] def frozen(seedDir: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(seedOf(seedDir).map { l =>
        s"$storePath/${l.split("\t", 3)(1)}"
      }: _*)

    /** The frozen seed at `seedDir` decoded to a driver value, through
      * the JVM-wide [[SeedMemo]] keyed by the store and the seed's `f`
      * lines: a miss decodes [[frozen]] (one small job), a hit fires
      * none. `decode` must be the one decoder of that seed. */
    private[ext] def seed[T](seedDir: String, schema: StructType)
                            (decode: DataFrame => T): T =
      SeedMemo.shared((canon(storePath), seedOf(seedDir)))(
        decode(frozen(seedDir, schema)))
  }

  /** One scan of an explicit file list of the artifact at `dir`, under
    * its declared schema ([[StoreMaintenance.schemaOf]] — no footer-
    * inference job) and with `basePath`, so bucket-partition
    * directories keep yielding their partition column and partition
    * pruning. */
  private[ext] def scan(spark: SparkSession, dir: String,
                        files: Seq[String]): DataFrame = {
    require(files.nonEmpty, s"no files to read under $dir")
    StoreMaintenance.schemaOf(dir).fold(spark.read)(spark.read.schema)
      .option("basePath", dir).parquet(files: _*)
  }

  /** Resolve the CURRENT entry: one listing + one manifest read + seed
    * stats — driver-side, kilobytes, no Spark job. The read hook every
    * store face uses: ONE pin per face call. */
  def pin(spark: SparkSession, path: String): Pin =
    pinAt(spark, path, currentGen(path).getOrElse(throw noChain(path)))

  /** [[pin]] at an explicit generation — store-level TIME TRAVEL
    * within the vacuum keep window (for BM25 the historical postings
    * score against the HISTORICAL df and (N, T), not today's). Every
    * `f` line is verified (existence + size) before any scan; a
    * vacuumed generation fails loudly. */
  def pinAt(spark: SparkSession, path: String, gen: Long): Pin = {
    val e = entryAt(path, gen).getOrElse(throw new IllegalStateException(
      s"no store log gen=$gen under $path: the pin is outside the vacuum " +
        "keep window — re-pin to a kept generation"))
    e.seeds.foreach { l =>
      val Array(_, r, sz) = l.split("\t", 3)
      val p = s"$path/$r"
      val now = if (exists(p)) java.nio.file.Files.size(java.nio.file.Paths.get(p)) else -1L
      if (now != sz.toLong) throw new IllegalStateException(
        if (now < 0) s"seed file missing at resolve time: $p (inventoried " +
          s"by store log gen=$gen) — the store's frozen artifact was " +
          "deleted or moved; rebuild the store"
        else s"seed file modified at resolve time: $p is $now bytes, log " +
          s"gen=$gen inventoried $sz — frozen artifacts must not change " +
          "outside a rebuild")
    }
    new Pin(spark, path, gen, e)
  }

  /** Retire entries beyond the newest `keepGens`, then delete every
    * parquet file under the store's artifact directories that no kept
    * entry names (compaction inputs, crashed or replayed landings) and
    * every `<artifact>.__*` scratch directory a crashed landing left
    * beside them. EXCLUSIVE: a batch landed but not yet committed is
    * unreferenced too. Returns (files deleted, entries deleted). */
  def vacuum(kind: String, path: String, keepGens: Int): (Int, Int) = {
    require(keepGens >= 1, "must keep at least one generation")
    val all = gens(path)
    if (all.isEmpty) throw noChain(path)
    val (drop, keep) = all.splitAt(math.max(0, all.length - keepGens))
    val kept = keep.flatMap(g => entryAt(path, g)).flatMap(_.parts.toSeq)
      .flatMap { case (a, fs) => fs.map(f => canon(s"$path/$a/$f")) }.toSet
    val dirs = StoreMaintenance.artifactsOf(kind, path).map(_.dir).filter(exists)
    val dead = dirs.flatMap(graft.sources.Layout.listParquet)
      .filterNot(p => kept.contains(canon(p)))
    dead.foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    dirs.map(d => new java.io.File(canon(d))).foreach { d =>
      d.getParentFile.listFiles().filter(_.getName.startsWith(d.getName + ".__"))
        .foreach(f => StoreGenerations.deleteTree(f.getPath))
    }
    drop.foreach(g => io(path).delete(s"${mdir(path)}/gen=$g"))
    (dead.length, drop.length)
  }
}
