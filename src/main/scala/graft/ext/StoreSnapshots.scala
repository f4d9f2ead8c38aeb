package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** STORE-LEVEL atomic commit — one manifest spanning ALL of a store's
  * artifacts, so a reader never observes a half-committed append.
  *
  * [[StoreGenerations]] gives each artifact directory its own chain,
  * which makes every artifact independently consistent — but a
  * multi-artifact append ([[RetrievalIndexStore.append]]: postings,
  * df, stats, positions) moves three or four chains, and a reader
  * resolving the chains one by one could score the new batch's
  * postings against the PREVIOUS generation's document frequencies.
  * BM25's exactness argument ("df over the pruned scan is exact for
  * every query token") silently assumes the artifacts are mutually
  * consistent; nothing below this layer enforces it. This is the
  * merge-sink pattern applied one level up: the sink publishes ONE
  * manifest per batch naming every file of the table — the store
  * publishes ONE snapshot per append naming every artifact's
  * generation plus the append's exact files, and the query faces
  * resolve all artifacts through one pinned snapshot: all-old or
  * all-new, never mixed.
  *
  * Layout: `<storePath>/_store_manifests/gen=<S>` — same no-clobber
  * conditional-create publish as every other chain (via
  * [[graft.sources.ManifestIO]]; nothing POSIX-specific). Lines:
  *
  *   a <tab> <relArtifactDir> <tab> <artifactGen>   (chained artifact)
  *   f <tab> <relFilePath>    <tab> <bytes>         (frozen/seed file)
  *   d <tab> <relArtifactDir> <tab> <relFilePath>   (file-level commit:
  *       an append's landed file, read IN ADDITION to the artifact's
  *       pinned generation — see [[commitOwnStore]])
  *
  * The release store keeps ONE chain at its root: its `sig/` member's
  * bands and sets are artifacts of the release snapshot (there is no
  * chain at `sig/`), so a release probe resolves urls, hashes and the
  * signature index through one pin.
  *
  * The `f` entries inventory the store's FROZEN artifacts — the seed
  * files an append never touches (params, trained centroids/codebook,
  * the release store's quality models). They were previously outside
  * any manifest discipline: a deleted or overwritten seed surfaced
  * only as a scan error (or worse, silently different scores).
  * [[pin]] verifies every `f` entry's existence AND size at RESOLVE
  * time and fails loudly naming the seed, before any Spark job runs.
  *
  * Contracts:
  *  - WRITERS: every append takes ONE route, [[commitLanded]]: land
  *    the batch's files ([[StoreGenerations.land]] — writer-unique or
  *    batch-canonical names), publish exactly those files across all
  *    the store's artifacts in ONE conditional create
  *    ([[commitOwnStore]]; a lost race re-bases, a replay is a no-op),
  *    then adopt them into each artifact chain
  *    ([[StoreGenerations.commitOwn]]). Any number of appenders may
  *    race; a single writer is the case with no race. MAINTENANCE
  *    (compaction, [[fold]], vacuum) stays exclusive; its next
  *    [[commit]] retires the `d` lines the chains already cover.
  *  - READERS ARE FREE: a [[Pin]] resolves every artifact at the
  *    generation (plus file-level entries) one snapshot names; those
  *    survive any vacuum that keeps the snapshot ([[vacuum]] pins
  *    them).
  *  - ALWAYS ON: every store's `build` ends by publishing snapshot
  *    0 ([[start]]; a rebuild restarts the chain at 0), and every
  *    append, fold and compaction ends with a snapshot commit. There
  *    is no un-snapshotted store mode: every read resolves through a
  *    [[Pin]]. A store directory written without a chain is adopted
  *    once with [[enable]] (`StoreMaintain enable`).
  *
  * Reference behavior context: the reference re-reads its corpus per
  * run (no persisted derived state); cross-artifact snapshot isolation
  * is what a 100 TB deployment's serving stores add. */
object StoreSnapshots {

  private def mdir(path: String) = s"$path/_store_manifests"

  private def io(path: String): graft.sources.ManifestIO =
    graft.sources.ManifestIO.forPath(path)

  import StoreGenerations.{canon, exists, visibleParquet}

  private def rel(path: String, p: String): String =
    java.nio.file.Paths.get(canon(path))
      .relativize(java.nio.file.Paths.get(canon(p))).toString

  private def gens(path: String): Seq[Long] =
    io(path).list(mdir(path))
      .flatMap(n => "^gen=(\\d+)$".r.findFirstMatchIn(n)
        .map(_.group(1).toLong))
      .sorted

  /** The newest published snapshot generation, if any. */
  def currentGen(path: String): Option[Long] = gens(path).lastOption

  /** The store's FROZEN artifacts per kind — build-time seeds an
    * append never touches, inventoried read-only in every snapshot. */
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

  /** The snapshot's content lines for the store's CURRENT state:
    * every existing chained artifact at its current generation, every
    * frozen file with its size, PLUS the previous snapshot's pending
    * file-level commits (`d` lines) whose files the artifact's pinned
    * generation has not adopted yet — a commit must never drop an
    * append whose chain adoption has not happened (a writer that died
    * between its snapshot and its chain commit; [[fold]] adopts it).
    * Once the chain has adopted a `d` file by the pinned generation
    * (a compaction since then keeps its rows under another name), its
    * line retires here. Coverage is judged up to the very generation
    * the `a` line pins, so an adoption racing this read cannot drop a
    * file. */
  private def entries(kind: String, path: String): Seq[String] = {
    val chained = StoreMaintenance.artifactsOf(kind, path)
      .map(_.dir).filter(exists)
    require(chained.nonEmpty, s"no artifacts under $path for kind $kind")
    val pinned = chained.map { dir =>
      dir -> StoreGenerations.currentGen(dir)
        .getOrElse(throw StoreGenerations.noChain(dir))
    }
    val aLines = pinned.map { case (dir, gen) =>
      s"a\t${rel(path, dir)}\t$gen"
    }
    val fLines = frozenOf(kind, path).filter(exists).flatMap { fdir =>
      visibleParquet(fdir).map { p =>
        s"f\t${rel(path, p)}\t${java.nio.file.Files.size(java.nio.file.Paths.get(p))}"
      }
    }
    val dLines = currentGen(path).toSeq.flatMap { cur =>
      val chainCovered: Map[String, Set[String]] = pinned.map {
        case (dir, gen) => canon(dir) -> StoreGenerations.referenced(dir, gen)
      }.toMap
      io(path).read(s"${mdir(path)}/gen=$cur").getOrElse("")
        .split("\n", -1).toSeq.filter(_.startsWith("d\t"))
        .filter { l =>
          val Array(_, rDir, rFile) = l.split("\t", 3)
          !chainCovered.getOrElse(canon(s"$path/$rDir"), Set.empty)
            .contains(canon(s"$path/$rFile"))
        }
    }
    aLines ++ fLines ++ dLines
  }

  private def publish(path: String, gen: Long, lines: Seq[String]): Unit = {
    require(lines.nonEmpty,
      s"refusing to publish empty store snapshot $gen under $path")
    val content = lines.mkString("\n")
    val target = s"${mdir(path)}/gen=$gen"
    io(path).putIfAbsent(target, content)
    val stored = io(path).read(target).getOrElse("")
    if (stored != content)
      throw new graft.sources.LostPublishRace(
        s"lost publish race on store snapshot $path gen=$gen — another " +
          "writer committed the same snapshot number (both commit " +
          "routes re-base and retry up to their attempt bound)")
  }

  private def noChain(path: String) = new IllegalStateException(
    s"$path has no store snapshot chain — every store build starts " +
      "one; adopt a store written without one with `StoreMaintain enable`")

  /** Start the store's chain at snapshot 0 — the last step of every
    * store's `build`. The rebuild replaced every file the old chains
    * name, so the old snapshots and artifact generations are dropped,
    * every accreting artifact restarts its chain at its fresh
    * inventory, and snapshot 0 pins those plus the frozen seeds. */
  private[ext] def start(kind: String, path: String): Unit = {
    gens(path).foreach(g => io(path).delete(s"${mdir(path)}/gen=$g"))
    StoreMaintenance.artifactsOf(kind, path)
      .foreach(s => StoreGenerations.restart(s.dir))
    publish(path, 0L, entries(kind, path))
  }

  /** Adopt a store directory written without a snapshot chain: chain
    * every accreting artifact (keeping any chain it already has) and
    * publish snapshot 0. Idempotent — a no-op on any store a `build`
    * wrote. Returns the current snapshot generation. */
  def enable(kind: String, path: String): Long =
    currentGen(path).getOrElse {
      StoreMaintenance.artifactsOf(kind, path)
        .foreach(s => StoreGenerations.enable(s.dir))
      publish(path, 0L, entries(kind, path))
      0L
    }

  /** Publish the next snapshot pinning the store's CURRENT artifact
    * generations — the commit point of maintenance (compaction,
    * [[fold]]): until this publishes, every reader keeps resolving
    * the previous snapshot's mutually-consistent generations. It also
    * retires the `d` lines of appends the chains have adopted. Skips
    * publishing (returns the current generation) when nothing moved,
    * so an idempotent re-commit causes no snapshot churn.
    *
    * A lost publish race here is RETRIED (bounded): a snapshot commit
    * carries no writer-private content — it pins whatever the store's
    * current artifact generations are — so when another committer wins
    * the generation number, re-reading and re-pinning the (possibly
    * newer) current state is always sound. Appends never call this:
    * their commit is [[commitLanded]]. */
  def commit(kind: String, path: String): Long = {
    var attempt = 0
    while (true) {
      val cur = currentGen(path).getOrElse(throw noChain(path))
      val lines = entries(kind, path)
      val unchanged = io(path).read(s"${mdir(path)}/gen=$cur")
        .contains(lines.mkString("\n"))
      if (unchanged) return cur
      try {
        publish(path, cur + 1, lines)
        return cur + 1
      } catch {
        case e: graft.sources.LostPublishRace =>
          attempt += 1
          if (attempt >= 16) throw e
      }
    }
    sys.error("unreachable")
  }

  /** FILE-LEVEL store commit — the publish step of every append
    * ([[commitLanded]]): the snapshot manifest itself is the lone
    * commit point, because per-chain commits of a multi-artifact batch
    * could interleave across writers and pin a torn cross-artifact
    * state. The writer lands its batch in every artifact
    * ([[StoreGenerations.land]] — untouched chains, invisible files),
    * then CAS-publishes the next snapshot = the current snapshot's
    * lines + one `d` entry per landed file.
    * One conditional create spans ALL artifacts, so a reader pins
    * either the whole batch or none of it — bands always with their
    * sets, postings always with their df; and a lost race re-bases on
    * the winner's snapshot (which carries the winner's `d` lines) and
    * retries, so every surviving snapshot differs from its parent by
    * exactly one writer's whole cross-artifact batch.
    *
    * The chains do not move here: [[commitLanded]] adopts the files
    * right after this publish, and the `d` lines retire at the next
    * [[commit]]. Replaying a commit whose files are all covered (as
    * `d` lines or in the pinned chains) returns the current snapshot
    * unchanged; partial foreign coverage fails loudly. */
  def commitOwnStore(kind: String, path: String,
                     filesByArtifact: Map[String, Seq[String]],
                     maxAttempts: Int = 16): Long = {
    require(filesByArtifact.nonEmpty, "commitOwnStore with no artifacts")
    val base = canon(path)
    val mine: Seq[(String, String)] = filesByArtifact.toSeq.flatMap {
      case (dir, files) =>
        require(files.nonEmpty, s"commitOwnStore with no files for $dir")
        val cDir = canon(dir)
        require(cDir.startsWith(base + "/"),
          s"artifact outside the store: $dir is not under $path")
        files.map { f =>
          val cf = canon(f)
          require(cf.startsWith(cDir + "/"),
            s"commitOwnStore file outside its artifact: $f not under $dir")
          require(exists(cf),
            s"commitOwnStore file does not exist (land first): $f")
          (cDir, cf)
        }
    }
    val myLines = mine.map { case (d, f) =>
      s"d\t${rel(path, d)}\t${rel(path, f)}"
    }
    var attempt = 0
    while (true) {
      val cur = currentGen(path).getOrElse(throw noChain(path))
      val content = io(path).read(s"${mdir(path)}/gen=$cur").getOrElse(
        throw new IllegalStateException(
          s"store snapshot gen=$cur under $path vanished mid-commit"))
      val lines = content.split("\n", -1).toSeq.filter(_.nonEmpty)
      val coveredD = lines.filter(_.startsWith("d\t")).toSet
      val pinnedChainFiles: Map[String, Set[String]] = lines.collect {
        case l if l.startsWith("a\t") =>
          val Array(_, r, g) = l.split("\t", 3)
          val dir = canon(s"$path/$r")
          dir -> StoreGenerations.referenced(dir, g.toLong)
      }.toMap
      val covered = mine.zip(myLines).count { case ((d, f), l) =>
        coveredD.contains(l) ||
          pinnedChainFiles.getOrElse(d, Set.empty).contains(f)
      }
      if (covered == mine.length) return cur // replay: whole batch committed
      require(covered == 0,
        s"commitOwnStore batch under $path is PARTIALLY covered " +
          s"($covered/${mine.length} files already committed) — a foreign " +
          "commit adopted part of this batch; one batch must be committed " +
          "by exactly one commitOwnStore call")
      mine.foreach { case (d, _) =>
        require(pinnedChainFiles.contains(d),
          s"$d is not pinned by the current store snapshot of $path — " +
            "the artifact did not exist when it committed (re-commit the " +
            "store to adopt it before concurrent appends)")
      }
      try {
        publish(path, cur + 1, lines ++ myLines)
        return cur + 1
      } catch {
        case e: graft.sources.LostPublishRace =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
      }
    }
    sys.error("unreachable")
  }

  /** THE append commit: publish a writer's landed files
    * (`landed`: artifact directory → the files [[StoreGenerations
    * .land]] put there) in ONE store snapshot ([[commitOwnStore]]),
    * then adopt them into each artifact's chain
    * ([[StoreGenerations.commitOwn]]) so per-artifact readers
    * ([[StoreGenerations.read]]) see the batch at once. The adoption
    * publishes no second snapshot: the pinned generation plus the `d`
    * lines already resolve the same files, and the next [[commit]]
    * retires the lines. Artifacts that landed no file are left out; an
    * empty batch publishes nothing. A crash between the snapshot and
    * the adoption loses nothing (readers resolve the `d` lines;
    * [[fold]] or a replay adopts them). Returns the store snapshot
    * generation that carries the batch. */
  private[ext] def commitLanded(kind: String, path: String,
                                landed: Map[String, Seq[String]]): Long = {
    val files = landed.filter(_._2.nonEmpty)
    if (files.isEmpty) currentGen(path).getOrElse(throw noChain(path))
    else {
      val gen = commitOwnStore(kind, path, files)
      files.foreach { case (dir, fs) => StoreGenerations.commitOwn(dir, fs) }
      gen
    }
  }

  /** Adopt every pending file-level commit the chains do not cover yet
    * (a writer that died between its snapshot and its chain adoption)
    * and publish the snapshot that retires the `d` lines — run from
    * the EXCLUSIVE maintenance path before compaction/vacuum, so
    * those only ever see ordinary chained files. Returns the current
    * generation (unchanged when nothing is pending). */
  def fold(kind: String, path: String): Long = {
    val cur = currentGen(path).getOrElse(throw noChain(path))
    val content = io(path).read(s"${mdir(path)}/gen=$cur").getOrElse("")
    val pending = content.split("\n", -1).toSeq
      .filter(_.startsWith("d\t"))
      .map { l =>
        val Array(_, rDir, rFile) = l.split("\t", 3)
        (s"$path/$rDir", s"$path/$rFile")
      }
      .groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2) }
    if (pending.isEmpty) cur
    else {
      pending.foreach { case (dir, files) =>
        val adopted = StoreGenerations.referenced(dir)
        val unfolded = files.filterNot(f => adopted.contains(canon(f)))
        if (unfolded.nonEmpty) StoreGenerations.commitOwn(dir, unfolded)
      }
      commit(kind, path) // entries() drops the now-chain-covered d lines
    }
  }

  /** One resolved snapshot: every chained artifact's pinned
    * generation, seeds verified. Readers hold a Pin for the duration
    * of one logical query — every artifact read through it is
    * mutually consistent however many commits land meanwhile. */
  final class Pin private[StoreSnapshots] (
      spark: SparkSession, storePath: String, val gen: Long,
      pins: Map[String, Long], dFiles: Map[String, Seq[String]],
      seedLines: Seq[String]) {

    /** The artifact at ITS PINNED GENERATION — never the current one —
      * PLUS any file-level commit entries this snapshot carries for it
      * (a concurrent writer's batch the chain has not folded yet):
      * one combined file list, one declared-schema scan, `basePath`
      * preserved so bucket-partition directories keep their partition
      * column ([[StoreGenerations.scan]]). */
    def read(artifactDir: String): DataFrame =
      pins.get(canon(artifactDir)) match {
        case Some(g) =>
          val chainFiles = StoreGenerations.filesAt(artifactDir, g)
            .getOrElse(throw new IllegalStateException(
              s"no generation <= $g survives under $artifactDir: store " +
                s"snapshot gen=$gen pins outside the artifact's vacuum " +
                "keep window — re-pin to a kept snapshot"))
          val extra = dFiles.getOrElse(canon(artifactDir), Seq.empty)
          StoreGenerations.scan(spark, artifactDir, chainFiles ++ extra)
        case None => throw new IllegalStateException(
          s"$artifactDir is not pinned by store snapshot gen=$gen of " +
            s"$storePath — the artifact did not exist when the snapshot " +
            "committed (re-commit the store to adopt it)")
      }

    /** The `f` lines of the frozen seed at `seedDir` (verified when
      * this pin resolved). */
    private def seedOf(seedDir: String): Seq[String] = {
      val prefix = rel(storePath, seedDir) + "/"
      val lines = seedLines.filter(_.split("\t", 3)(1).startsWith(prefix))
      if (lines.isEmpty) throw new IllegalStateException(
        s"$seedDir is not a frozen seed of store snapshot gen=$gen of " +
          s"$storePath")
      lines
    }

    /** The frozen seed at `seedDir` under its declared `schema`: a scan
      * of exactly the files this snapshot inventories for it. */
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

    private[ext] def pinnedGens: Map[String, Long] = pins
    private[ext] def pinnedDFiles: Map[String, Seq[String]] = dFiles
  }

  /** Resolve the CURRENT snapshot: parse its artifact pins and verify
    * every frozen-seed entry (existence + size) LOUDLY, before any
    * scan. One listing + one manifest read + seed stats — driver-side,
    * kilobytes, no Spark job. The read hook every store face uses: ONE
    * pin per face call, so every artifact it reads is mutually
    * consistent. */
  def pin(spark: SparkSession, path: String): Pin =
    pinAt(spark, path, currentGen(path).getOrElse(throw noChain(path)))

  /** [[pin]] at an explicit snapshot generation — store-level TIME
    * TRAVEL within the vacuum keep window: every artifact resolves at
    * the generation snapshot `gen` pinned (for BM25 the historical
    * postings score against the HISTORICAL df and (N, T), not
    * today's), seeds verified; a vacuumed pin fails loudly (the chain
    * layer's `readAt` contract). */
  def pinAt(spark: SparkSession, path: String, gen: Long): Pin = {
    val content = io(path).read(s"${mdir(path)}/gen=$gen")
      .getOrElse(throw new IllegalStateException(
        s"no store snapshot gen=$gen under $path: the pin is outside " +
          "the vacuum keep window — re-pin to a kept snapshot"))
    val lines = content.split("\n", -1).toSeq.filter(_.nonEmpty)
    val pins = lines.collect {
      case l if l.startsWith("a\t") =>
        val Array(_, r, g) = l.split("\t", 3)
        canon(s"$path/$r") -> g.toLong
    }.toMap
    val dFiles = lines.collect {
      case l if l.startsWith("d\t") =>
        val Array(_, rDir, rFile) = l.split("\t", 3)
        canon(s"$path/$rDir") -> s"$path/$rFile"
    }.groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2) }
    lines.foreach {
      case l if l.startsWith("f\t") =>
        val Array(_, r, sz) = l.split("\t", 3)
        val p = s"$path/$r"
        if (!exists(p))
          throw new IllegalStateException(
            s"seed file missing at resolve time: $p (inventoried by " +
              s"store snapshot gen=$gen) — the store's frozen artifact " +
              "was deleted or moved; rebuild the store")
        val now = java.nio.file.Files.size(java.nio.file.Paths.get(p))
        if (now != sz.toLong)
          throw new IllegalStateException(
            s"seed file modified at resolve time: $p is $now bytes, " +
              s"snapshot gen=$gen inventoried ${sz.toLong} — frozen " +
              "artifacts must not change outside a rebuild")
      case _ => ()
    }
    new Pin(spark, path, gen, pins, dFiles, lines.filter(_.startsWith("f\t")))
  }

  /** Snapshot-aware store vacuum: retire store snapshots beyond the
    * newest `keepGens`, then vacuum each chained artifact keeping its
    * newest generation PLUS every generation a SURVIVING snapshot
    * pins — a reader pinned to any kept snapshot still resolves every
    * artifact it names. Returns (files deleted, manifests deleted —
    * artifact manifests + store snapshots). */
  def vacuum(kind: String, path: String, keepGens: Int): (Int, Int) = {
    require(keepGens >= 1, "must keep at least one snapshot")
    val all = gens(path)
    if (all.isEmpty) throw noChain(path)
    val (drop, keep) = all.splitAt(math.max(0, all.length - keepGens))
    val keptLines = keep.flatMap { g =>
      io(path).read(s"${mdir(path)}/gen=$g").getOrElse("")
        .split("\n", -1).toSeq.filter(_.nonEmpty)
    }
    val pinned: Map[String, Set[Long]] = keptLines
      .filter(_.startsWith("a\t"))
      .map { l =>
        val Array(_, r, ag) = l.split("\t", 3)
        canon(s"$path/$r") -> ag.toLong
      }
      .groupBy(_._1).map { case (d, gs) => d -> gs.map(_._2).toSet }
    // file-level commit entries of surviving snapshots: not chained
    // yet (fold retires them), so the artifact vacuum must be told
    // explicitly to spare them
    val dPinned: Map[String, Set[String]] = keptLines
      .filter(_.startsWith("d\t"))
      .map { l =>
        val Array(_, rDir, rFile) = l.split("\t", 3)
        canon(s"$path/$rDir") -> s"$path/$rFile"
      }
      .groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2).toSet }
    val (nf, nm) = StoreMaintenance.artifactsOf(kind, path)
      .map(_.dir).map(d => StoreGenerations.vacuumKeeping(d, 1,
        pinned.getOrElse(canon(d), Set.empty),
        dPinned.getOrElse(canon(d), Set.empty)))
      .foldLeft((0, 0)) { case ((a, b), (c, e)) => (a + c, b + e) }
    drop.foreach(g => io(path).delete(s"${mdir(path)}/gen=$g"))
    (nf, nm + drop.length)
  }
}
