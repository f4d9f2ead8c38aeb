package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Input/state/output rows of the custom-state sessionizer. `lastUs`
  * is the max event time seen (µs); the session's reported end is
  * `lastUs + gap`, matching session_window. */
case class SessEvent(ts: Timestamp, user_id: Long)
case class OpenSess(startUs: Long, lastUs: Long, n: Long)
case class ClosedSess(user_id: Long, session_start: Timestamp,
                      session_end: Timestamp, n: Long)

/** Structured Streaming surface over the `events` schema (SURVEY.md
  * §2.11). Every transform works identically on a batch or streaming
  * DataFrame — Catalyst drops the watermark node in batch plans, which
  * is exactly what makes the batch-equivalence tests in StreamingSpec
  * meaningful: the STREAMING result must equal the same operator run
  * as a batch query.
  *
  * State posture at scale: all aggregations key on (window,
  * event_type) or (user, session) — state is partitioned by group key
  * across executors, and the watermark bounds state retention, so
  * state size tracks active windows, not history.
  */
object StreamingOps {

  private val dec = DecimalType(18, 2)

  /** Tumbling event-time window counts + decimal-domain sums — the
    * streaming form of StarQueries.tumblingWindow. */
  def tumblingCounts(df: DataFrame, watermark: String = "10 minutes",
                     win: String = "1 hour"): DataFrame =
    df.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding window (1 h span, 30 min slide by default): each event
    * lands in span/slide windows. */
  def slidingCounts(df: DataFrame, watermark: String = "10 minutes",
                    win: String = "1 hour", slide: String = "30 minutes"): DataFrame =
    df.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** Per-user session windows closed by a gap of inactivity. */
  def sessionCounts(df: DataFrame, watermark: String = "10 minutes",
                    gap: String = "10 minutes"): DataFrame =
    df.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** Streaming dedup bounded by the watermark: duplicate event_ids
    * arriving within the watermark horizon collapse to one row; state
    * for an id is dropped once the watermark passes it. */
  def dedupWithinWatermark(df: DataFrame, watermark: String = "10 minutes"): DataFrame =
    df.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream INNER join (§2.11): each view matched to the same
    * user's purchases within [view_ts, view_ts + 1 hour]. Watermarks
    * on BOTH inputs plus the event-time range in the join condition
    * are what bound the join state: Spark derives from them that a
    * buffered view is droppable once the watermark passes
    * view_ts + 1h and a purchase once it passes purchase_ts — without
    * either, an unbounded stream-stream join buffers its inputs
    * forever. State is partitioned by user_id like every other keyed
    * operator here. Inner-join emission needs no watermark to fire
    * (matches emit as they arrive), so the completed stream equals
    * the batch join — the equivalence the oracle checks.
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame,
                       watermark: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("ts", watermark).alias("v")
    val p = purchases.withWatermark("ts", watermark).alias("p")
    v.join(p,
        col("v.user_id") === col("p.user_id") &&
          col("p.ts") >= col("v.ts") &&
          col("p.ts") <= col("v.ts") + expr("INTERVAL 1 HOUR"))
      .select(col("v.event_id").as("view_id"),
        col("p.event_id").as("purchase_id"),
        col("v.user_id").as("user_id"),
        col("v.ts").as("view_ts"), col("p.ts").as("purchase_ts"))
  }

  /** Stream-stream LEFT OUTER join: inner matches emit as they
    * arrive; an unmatched view emits null-padded only once the joint
    * watermark passes its state-eviction bound (view_ts + 1 h), so
    * views still inside that horizon when the stream drains never
    * emit their null row. That horizon is part of the operator's
    * contract — the DuckDB oracle encodes it explicitly (final
    * watermark = least(max view ts, max purchase ts) - delay), which
    * checks both the join semantics and the eviction boundary. Relies
    * on no-data micro-batches (on by default) to fire the final
    * eviction pass after the last data batch. */
  def viewPurchaseLeftJoin(views: DataFrame, purchases: DataFrame,
                           watermark: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("ts", watermark).alias("v")
    val p = purchases.withWatermark("ts", watermark).alias("p")
    v.join(p,
        col("v.user_id") === col("p.user_id") &&
          col("p.ts") >= col("v.ts") &&
          col("p.ts") <= col("v.ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("v.event_id").as("view_id"),
        col("p.event_id").as("purchase_id"),
        col("v.user_id").as("user_id"),
        col("v.ts").as("view_ts"), col("p.ts").as("purchase_ts"))
  }

  /** Stream-stream FULL OUTER join: inner matches emit on arrival;
    * each side's unmatched rows emit null-padded when the joint
    * watermark passes that side's own state-eviction bound — for a
    * view, view_ts + 1 h (no later purchase can land in its window);
    * for a purchase, purchase_ts itself (any view able to claim it has
    * v.ts <= p.ts, so none can still arrive once the watermark passes
    * p.ts). Both horizons are part of the contract and both appear in
    * the oracle. */
  def viewPurchaseFullJoin(views: DataFrame, purchases: DataFrame,
                           watermark: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("ts", watermark).alias("v")
    val p = purchases.withWatermark("ts", watermark).alias("p")
    v.join(p,
        col("v.user_id") === col("p.user_id") &&
          col("p.ts") >= col("v.ts") &&
          col("p.ts") <= col("v.ts") + expr("INTERVAL 1 HOUR"),
        "full_outer")
      .select(col("v.event_id").as("view_id"),
        col("p.event_id").as("purchase_id"),
        coalesce(col("v.user_id"), col("p.user_id")).as("user_id"),
        col("v.ts").as("view_ts"), col("p.ts").as("purchase_ts"))
  }

  /** §2.12/§2.11 — CUSTOM state machine via flatMapGroupsWithState:
    * per-user sessionization with an explicit open-session list and an
    * event-time timeout, the shape session_window cannot express once
    * the per-group logic stops being a plain aggregate (here it is
    * deliberately session_window-equivalent so the semantics are
    * checkable). Emits a session once the watermark passes its
    * end+gap; sessions still open when the stream drains are NOT
    * emitted — that boundary is part of the contract and of the
    * DuckDB oracle (StarOracles.q_custom_sessions).
    *
    * Scale posture: state is a per-user list of OPEN sessions only —
    * partitioned by the group key across executors, bounded by the
    * watermark (closed state is removed the batch it closes), so
    * state size tracks concurrent open sessions, not history. Event
    * order within a batch does not matter: interval merging with gap
    * closure is confluent (any merge order yields the same session
    * set), pinned by StreamingSpec's shuffled-batch test. */
  def customSessions(df: DataFrame, gapMinutes: Int = 10,
                     watermark: String = "10 minutes"): Dataset[ClosedSess] = {
    val spark = df.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    def us(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def tsOf(u: Long): Timestamp = {
      val t = new Timestamp(u / 1000)
      t.setNanos((u % 1000000L).toInt * 1000)
      t
    }

    def update(user: Long, events: Iterator[SessEvent],
               state: GroupState[List[OpenSess]]): Iterator[ClosedSess] = {
      var sessions = state.getOption.getOrElse(Nil)
      if (!state.hasTimedOut) {
        events.foreach { e =>
          val t = us(e.ts)
          // merge the event with every session it touches (gap-close);
          // two sessions bridged by this event merge into one. STRICT
          // bounds: session_window's per-event window is [t, t+gap),
          // so an event exactly `gap` away starts a NEW session —
          // touching windows do not overlap (same rule as the oracle's
          // `diff >= gap` island break)
          val (touched, rest) = sessions.partition(s =>
            t > s.startUs - gapUs && t < s.lastUs + gapUs)
          val merged = touched.foldLeft(OpenSess(t, t, 1L)) { (acc, s) =>
            OpenSess(math.min(acc.startUs, s.startUs),
              math.max(acc.lastUs, s.lastUs), acc.n + s.n)
          }
          sessions = merged :: rest
        }
      }
      // close every session the watermark has passed (µs-exact rule;
      // the watermark itself is ms-truncated by Spark)
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (closed, open) = sessions.partition(_.lastUs + gapUs <= wmUs)
      if (open.isEmpty) state.remove()
      else {
        state.update(open)
        // strictly after the earliest close boundary AND the watermark
        val nextMs = (open.map(_.lastUs).min + gapUs) / 1000L + 1
        state.setTimeoutTimestamp(math.max(nextMs, state.getCurrentWatermarkMs() + 1))
      }
      closed.sortBy(_.startUs).iterator.map(s =>
        ClosedSess(user, tsOf(s.startUs), tsOf(s.lastUs + gapUs), s.n))
    }

    df.select(col("ts"), col("user_id"))
      .withWatermark("ts", watermark)
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(update _)
  }

  /** Internal lineage column persisted in the upsert target: the
    * micro-batch id that wrote each row. Readers that want the bare
    * payload drop it; [[runUpsert]] uses it as the version tiebreak. */
  val UpsertBatchCol = "__graft_batch"

  /** foreachBatch incremental UPSERT into a keyed parquet target —
    * the materialized-view maintenance pattern: each micro-batch
    * merges by key (greatest `versionCol` wins), so the target always
    * holds the latest state per key across batches and restarts
    * re-merge idempotently. Version ties are broken DETERMINISTICALLY:
    * each row carries the micro-batch id that wrote it
    * ([[UpsertBatchCol]], persisted in the target — batch ids are
    * stable under checkpoint replay), later batch wins; equal-version
    * rows inside one batch fall through to a stable payload hash, so
    * the winner is arbitrary but identical across runs and restarts.
    * Plain parquet stands in for a transactional MERGE
    * INTO target (Delta/Iceberg): the existing table is materialized
    * via localCheckpoint before the overwrite, the swap itself is the
    * non-transactional stand-in piece, everything else — batch merge
    * semantics, dedup direction, idempotence — is the real pattern.
    * Scale shape: the merge is one keepFirst hash-shuffle over
    * existing ∪ batch; with a bucketed target it co-locates.
    */
  def runUpsert(stream: DataFrame, path: String, keyCol: String,
                versionCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val payloadCols = batch.columns.toSeq
        val tagged = batch.toDF().withColumn(UpsertBatchCol, lit(batchId))
        val existing =
          try Some(spark.read.parquet(path).localCheckpoint(true))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        // a target written before the batch-id column existed must
        // migrate, not hard-fail the first merged batch: legacy rows
        // merge as batch -1 (older than any real batch id)
        val all = existing.map { ex =>
          (if (ex.columns.contains(UpsertBatchCol)) ex
           else ex.withColumn(UpsertBatchCol, lit(-1L)))
            .unionByName(tagged)
        }.getOrElse(tagged)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol)
          .orderBy(col(versionCol).desc, col(UpsertBatchCol).desc,
            xxhash64(struct(payloadCols.map(col): _*)))
        all.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
          .write.mode("overwrite").parquet(path)
        ()
      }
      .start()

  /** The replay-safe APPEND writer behind [[runIdempotentAppend]],
    * exposed as its own seam so a spec can invoke it twice with the
    * SAME batch id and observe the no-op — the exact situation a
    * mid-commit kill produces: foreachBatch is at-least-once (a batch
    * that reached the sink but not the checkpoint re-runs on
    * restart), so the writer keys the filesystem by batch id and
    * overwrites, making the replay idempotent byte-for-byte instead
    * of appending duplicates. */
  def idempotentAppendBatch(batch: DataFrame, batchId: Long,
                            path: String): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** foreachBatch APPEND into a parquet target with EXACTLY-ONCE
    * on-disk effect under restarts — the production file-sink
    * posture: Spark's own parquet sink gets exactly-once from its
    * _spark_metadata commit log, which only its own readers honor;
    * this shape gets it from idempotence instead (one directory per
    * batch id, overwritten on replay), so ANY parquet reader sees
    * each record exactly once after any kill/restart sequence. The
    * batch_id directory key doubles as partition pruning for
    * incremental consumers (read only batch ids you haven't seen). */
  def runIdempotentAppend(stream: DataFrame, path: String,
                          checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        idempotentAppendBatch(batch.toDF(), batchId, path)
      }
      .start()

  /** Streaming keyed UPSERT into a MANIFEST TABLE — the streaming
    * face of the copy-on-write merge and the mutable-table sibling of
    * [[runIdempotentAppend]]. The table is not a directory but a
    * chain of GENERATIONS: `root/_manifests/gen=<batchId>` is a text
    * file listing the parquet paths that constitute the table after
    * that batch (the delta-table idea reduced to its deterministic
    * core). Each micro-batch (full table schema + the boolean
    * `_deleted` flag, ONE row per key — dedup upstream when the
    * source can repeat keys intra-batch):
    *
    *   1. resolves its BASE = the largest generation STRICTLY BELOW
    *      its own batch id (seeded by `seedFiles` when none) — so a
    *      REPLAYED batch re-merges against the same base it saw the
    *      first time, never against its own output;
    *   2. runs [[graft.sources.Merge.mergeFiles]] against those
    *      paths into `root/data/batch_id=<id>` (overwrite — replay
    *      rewrites the same scratch);
    *   3. publishes generation <id> = carry paths + written units,
    *      via temp-file + atomic move.
    *
    * Exactly-once table states from idempotence, not a commit log: a
    * mid-commit kill replays the batch, steps 2-3 overwrite what the
    * dead attempt left, and ANY reader of [[currentFiles]] sees each
    * key's final value exactly once (MergeSinkSpec kills, restarts,
    * and pins the fixed point). No file is ever moved or deleted —
    * retirement is a later vacuum of paths no live manifest
    * references, the same two-phase posture as the batch executor.
    *
    * Scale/state posture: the sink holds NO streaming state; each
    * batch pays the merge's measured shape (footer plan over the
    * current file list + touched-file rewrite — q_merge_narrow's
    * flat-rewrite curve), so sink cost tracks the batch's key
    * locality, not table size. */
  /** `maintainEvery = Some((k, targetBytes, keepGens))` makes the
    * table SELF-MAINTAINING — legal without quiescing because the
    * foreachBatch sink IS the table's single writer and runs its
    * batches serially. On a maintenance batch (id a positive multiple
    * of k) the sink compacts its BASE file list into
    * `data/compact_batch=<id>` (deterministically named files) BEFORE
    * merging, so the published generation carries the compacted table
    * + this batch's units, then vacuums manifests/data beyond the
    * newest max(keepGens, 2). Replay-safe by the same byte-identity
    * argument as the publish guard: a replayed maintenance batch
    * resolves the SAME base (the vacuum floor of 2 keeps the previous
    * generation and, transitively, every file it references),
    * re-compacts it into the same canonical paths (overwriting its
    * own dead scratch), re-merges, and republishes identical bytes.
    * Readers pinned beyond keepGens lose their pin at the next
    * maintenance tick, by the vacuum contract — size keepGens to the
    * reader horizon. */
  def runMergeSink(updates: DataFrame, root: String,
                   seedFiles: Seq[String], keyCol: String,
                   checkpoint: String,
                   maintainEvery: Option[(Int, Long, Int)] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail at sink construction, not on micro-batch 1: k = 0 would
    // throw on every batch's modulo, a negative k would silently
    // never maintain, and non-positive sizes are config typos
    maintainEvery.foreach { case (k, targetBytes, keepGens) =>
      require(k > 0, s"maintainEvery cadence must be positive, got $k")
      require(targetBytes > 0,
        s"maintainEvery targetBytes must be positive, got $targetBytes")
      require(keepGens >= 0,
        s"maintainEvery keepGens must be non-negative, got $keepGens")
    }
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val base0 = manifestFiles(root, below = batchId)
          .getOrElse(seedFiles)
        val maint = maintainEvery.filter { case (k, _, _) =>
          batchId > 0 && batchId % k == 0 && base0.nonEmpty }
        val base = maint match {
          case Some((_, targetBytes, _)) =>
            val cdir = s"$root/data/compact_batch=$batchId"
            val verify = graft.sources.Layout
              .compactGroupsFiles(spark, base0, cdir, targetBytes)
            val bad = verify
              .filter(!col("rows_match") || col("out_files") =!= 1L).count()
            require(bad == 0, s"$bad group(s) failed footer verification" +
              s" compacting base of batch $batchId; sources stay live")
            canonicalizeCompact(cdir, batchId)
            graft.sources.Layout.listParquet(cdir)
          case None => base0
        }
        val out = s"$root/data/batch_id=$batchId"
        // materialize the manifest BEFORE canonicalizeUnits renames
        // the unit files: m's lazy plan references the pre-rename
        // paths (the footer re-inventory side of the join), and only
        // optimizer pruning keeps that reference from being read —
        // pin the rows now so no lazy plan outlives the renames
        val m = graft.sources.Merge.mergeFiles(spark, base, out,
          batch.toDF(), keyCol).localCheckpoint()
        // canonical unit names: a replayed batch re-merges the same
        // base and batch, so after renaming away Spark's per-job file
        // UUIDs its generation content is BYTE-IDENTICAL — which is
        // what lets the no-replace publish below tell a benign replay
        // (same bytes → fine) from a lost publish race (different
        // bytes → raise). Names embed the batch id so base names stay
        // unique across the generation chain (mergeFiles keys its
        // file maps on base names).
        canonicalizeUnits(out, batchId)
        publishManifest(root, batchId,
          graft.sources.Merge.mergedFiles(base, out, m),
          replace = false)
        maint.foreach { case (_, _, keepGens) =>
          vacuumManifests(root, math.max(keepGens, 2))
        }
      }
      .start()
  }

  /** [[canonicalizeUnits]] for a maintenance batch's base-compaction
    * output: `group_id=<g>/` dirs each hold one file, renamed to the
    * chain-unique deterministic `g<batchId>-c<g>.parquet`. */
  private def canonicalizeCompact(cdir: String, batchId: Long): Unit =
    graft.sources.Layout.listParquet(cdir).foreach { p =>
      "group_id=(\\d+)/".r.findFirstMatchIn(p).foreach { m =>
        val dir = p.substring(0, p.lastIndexOf('/'))
        val tgt = s"$dir/g$batchId-c${m.group(1)}.parquet"
        if (p != tgt)
          java.nio.file.Files.move(java.nio.file.Paths.get(p),
            java.nio.file.Paths.get(tgt),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

  /** Rename each merge unit's single output file to a deterministic,
    * chain-unique name (`g<batchId>-u<unit>.parquet`). Driver-side
    * renames, one per touched unit — control-plane bounded. Refuses
    * a unit directory holding more than one file: the hash-inverse
    * routing guarantees one, and renaming two onto one canonical
    * name would silently drop rows if that invariant ever broke. */
  private def canonicalizeUnits(outPath: String, batchId: Long): Unit =
    graft.sources.Layout.listParquet(outPath)
      .flatMap(p => "unit=(\\d+)/".r.findFirstMatchIn(p)
        .map(m => (p.substring(0, p.lastIndexOf('/')), m.group(1), p)))
      .groupBy(_._1)
      .foreach { case (dir, files) =>
        require(files.length == 1,
          s"unit dir $dir holds ${files.length} files; expected exactly " +
            "one (hash-inverse routing) — not renaming")
        val (_, unit, p) = files.head
        val tgt = s"$dir/g$batchId-u$unit.parquet"
        if (p != tgt)
          java.nio.file.Files.move(java.nio.file.Paths.get(p),
            java.nio.file.Paths.get(tgt),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }

  /** The manifest table's CURRENT file list (largest generation), or
    * None before the first publish. */
  def currentFiles(root: String): Option[Seq[String]] =
    manifestFiles(root, below = Long.MaxValue)

  /** The table AS OF a generation — the file list of the largest
    * published generation <= `gen`, or None if none that old
    * survives. This is the manifest chain's time travel: a reader
    * pinned to a generation keeps resolving the exact table state it
    * started from, for as long as [[vacuumManifests]]' keepGens
    * window retains it (vacuum deletes both the older manifests and
    * the data files only they reference — a pin outside the window
    * is gone, by contract). */
  def filesAt(root: String, gen: Long): Option[Seq[String]] =
    manifestFiles(root,
      below = if (gen == Long.MaxValue) gen else gen + 1)

  /** The pinned-read face of [[filesAt]] with the vacuum contract
    * enforced LOUDLY: a pin inside [[vacuumManifests]]' keep window
    * resolves the exact table state it names; a pin the vacuum has
    * passed fails here with a clear error — never a partial read of
    * whatever files happen to survive. (An empty kept generation —
    * an all-deletes batch — reads as an empty frame, same as
    * [[graft.sources.Merge.mergedView]].) */
  def tableAt(spark: SparkSession, root: String, gen: Long): DataFrame =
    filesAt(root, gen) match {
      case Some(files) if files.nonEmpty => spark.read.parquet(files: _*)
      case Some(_) => spark.emptyDataFrame
      case None => throw new IllegalStateException(
        s"no generation <= $gen survives under $root: the pin is " +
          "outside the vacuum keep window (or the table has no " +
          "generations yet) — re-pin to a kept generation")
    }

  /** Manifest generation numbers under `root`, via the storage seam. */
  private def manifestGens(root: String): Seq[Long] =
    graft.sources.ManifestIO.forPath(root).list(s"$root/_manifests")
      .flatMap(n => "^gen=(\\d+)$".r.findFirstMatchIn(n)
        .map(_.group(1).toLong)).sorted

  private def manifestFiles(root: String, below: Long)
      : Option[Seq[String]] = {
    val gens = manifestGens(root).filter(_ < below)
    if (gens.isEmpty) None
    else Some(graft.sources.ManifestIO.forPath(root)
      .read(s"$root/_manifests/gen=${gens.max}")
      .getOrElse(throw new IllegalStateException(
        s"manifest gen=${gens.max} under $root vanished mid-read"))
      .split("\n", -1).toSeq.filter(_.nonEmpty))
  }

  /** The manifest table's COMPACTION — small unit files accumulated
    * across micro-batches merge into target-sized files
    * ([[graft.sources.Layout.compactGroupsFiles]] over the current
    * generation's paths), and the NEWEST manifest is re-published in
    * place with the compacted list (atomic replace; the generation
    * number does not move, so the next stream batch — which resolves
    * its base strictly below its own id — sees the compacted table,
    * and a vacuum retires the pre-compaction files). Run it quiesced
    * (stream stopped, checkpoint committed), the same single-writer
    * cadence as [[vacuumManifests]]: a replay of the newest batch
    * would republish that generation from its pre-compaction base —
    * content-correct (the old files persist until vacuum) but the
    * compaction is redone work. Refuses to publish unless every
    * group's footer re-inventory matches the plan (the executor's
    * own retirement gate); returns the verification frame. */
  def compactManifest(spark: SparkSession, root: String,
                      targetBytes: Long): DataFrame = {
    val gens = manifestGens(root)
    require(gens.nonEmpty, s"no manifest generations under $root")
    val gen = gens.max
    val files = currentFiles(root).get
    require(files.nonEmpty, s"generation $gen is empty; nothing to compact")
    // a FRESH output directory per attempt: a re-compaction of the
    // same generation (idle-table cadence, or a retry) must never
    // overwrite the directory its own input files live in — that
    // deletes the live table before the job reads it
    val out = Iterator.from(0)
      .map(i => if (i == 0) s"$root/data/compact_gen=$gen"
                else s"$root/data/compact_gen=${gen}_$i")
      .find(dir => !java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir)) && !files.exists(_.startsWith(dir + "/")))
      .get
    val verify = graft.sources.Layout.compactGroupsFiles(spark, files,
      out, targetBytes).localCheckpoint()
    val bad = verify.filter(!col("rows_match") || col("out_files") =!= 1L)
      .count()
    require(bad == 0, s"$bad group(s) failed footer verification; " +
      "manifest NOT republished — sources remain the live table")
    publishManifest(root, gen, graft.sources.Layout.listParquet(out))
    verify
  }

  /** The manifest table's VACUUM — the retirement step the merge
    * family defers: delete data files under `root/data` that no
    * surviving manifest references, and manifests older than the
    * newest `keepGens`. Never touches files outside `root/data`
    * (seed files are caller-owned and ride manifests by absolute
    * path), never runs with zero manifests, and keeps at least one —
    * so the CURRENT table is always intact and readers pinned to any
    * kept generation still resolve. Returns (files deleted,
    * manifests deleted). Single-writer posture, same as the sink:
    * run it from the maintenance cadence, not concurrently with a
    * reader older than the kept window. */
  def vacuumManifests(root: String, keepGens: Int): (Int, Int) = {
    require(keepGens >= 1, s"must keep at least one generation")
    val io = graft.sources.ManifestIO.forPath(root)
    val gens = manifestGens(root)
    if (gens.isEmpty) return (0, 0)
    val (drop, keep) = gens.splitAt(math.max(0, gens.length - keepGens))
    // normalize BOTH sides of the liveness comparison: manifests carry
    // paths in whatever form the writer saw (absolute via listParquet,
    // but seed files are caller-provided), while Files.walk yields
    // paths in the caller's form of `root` — a relative or symlinked
    // root would otherwise miss every referenced file and delete the
    // live table
    def canon(s: String): String =
      java.nio.file.Paths.get(s).toAbsolutePath.normalize.toString
    val referenced = keep.flatMap { g =>
      io.read(s"$root/_manifests/gen=$g").getOrElse("")
        .split("\n", -1).toSeq.filter(_.nonEmpty)
    }.map(canon).toSet
    val dataRoot = java.nio.file.Paths.get(s"$root/data")
    var removed = 0
    if (java.nio.file.Files.exists(dataRoot)) {
      val it = java.nio.file.Files.walk(dataRoot)
      try it.iterator().forEachRemaining { p =>
        if (java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet") &&
            !referenced.contains(canon(p.toString))) {
          java.nio.file.Files.delete(p)
          removed += 1
        }
      } finally it.close()
    }
    drop.foreach(g => io.delete(s"$root/_manifests/gen=$g"))
    (removed, drop.length)
  }

  /** Publish a generation file via the storage seam.
    *
    * `replace = true` is the QUIESCED re-publish ([[compactManifest]]
    * replacing gen N in place — single-writer by that method's
    * contract). `replace = false` is the streaming sink's guarded
    * publish: the rename never clobbers an existing generation, and
    * the publish VERIFIES AFTER THE RENAME that the generation on
    * disk is byte-equal to what this writer produced — equal means
    * ours, or a benign replay republishing identical content
    * (guaranteed by [[canonicalizeUnits]]' deterministic names);
    * different means another writer owns this generation and this
    * publish LOST — it raises instead of silently last-writer-wins,
    * so a misconfigured second sink on the same root surfaces as a
    * loud failure, never as interleaved table corruption
    * (MergeSinkSpec pins both the race loser and the replay).
    *
    * The publish speaks only [[graft.sources.ManifestIO]]: `put` for
    * the quiesced replace, `putIfAbsent` (an atomic conditional
    * create — `link(2)` on POSIX, a conditional PUT on an object
    * store) for the guarded path, then a read-back AFTER the attempt:
    * the winner is whoever's bytes are stored now — equal means ours
    * or a benign byte-identical replay, different means this publish
    * LOST and it raises. Nothing in the protocol assumes rename,
    * hard links, or directories. */
  private[graft] def publishManifest(root: String, gen: Long,
                                     files: Seq[String],
                                     replace: Boolean = true): Unit = {
    val io = graft.sources.ManifestIO.forPath(root)
    val content = files.mkString("\n")
    val target = s"$root/_manifests/gen=$gen"
    if (replace) io.put(target, content)
    else {
      io.putIfAbsent(target, content)
      val stored = io.read(target).getOrElse("")
      if (stored != content)
        throw new graft.sources.LostPublishRace(
          s"lost publish race on $root gen=$gen: the generation " +
            "stored is not this writer's — a second writer is publishing " +
            "to the same manifest root (single-writer contract; " +
            "concurrent store writers commit through the store log)")
    }
  }


  /** Deterministic run tag of a streaming ingest — the key of its `t`
    * line in the store log ([[graft.ext.StoreSnapshots.commitLanded]]):
    * a hash of the normalized checkpoint path. Same checkpoint → same
    * tag, so a replayed batch id is recognised and commits nothing; a
    * DIFFERENT checkpoint (a second stream whose batch ids restart at
    * 0) has a line of its own and accumulates. */
  private[graft] def checkpointRunTag(checkpoint: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(
      java.nio.file.Paths.get(checkpoint)
        .toAbsolutePath.normalize.toString)}%08x"

  /** Streaming INGEST into the persisted vector index — the write
    * sibling of the stream-probe face: each micro-batch encodes under
    * the store's frozen geometry and lands through the store's one
    * [[graft.ext.VectorIndexStore.append]] with `batch = Some((batchId,
    * runTag))` (one file per populated bucket, published by one
    * commit of the store log that names exactly those files and the
    * run's `t` line). Exactly-once store state: a replayed batch finds
    * its id in the run's `t` line and commits nothing, so the store
    * never moves twice for one batch — MID-BATCH CRASHES INCLUDED, and
    * after any compaction or vacuum (a crashed attempt's files are
    * never named by a commit; the vacuum sweeps them). Readers keep
    * resolving their pinned entry throughout. */
  def runVectorIngestSink(updates: DataFrame, path: String,
                          idCol: String, vecCol: String,
                          checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val tag = checkpointRunTag(checkpoint)
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        graft.ext.VectorIndexStore.append(batch.toDF(),
          idCol, vecCol, path, batch = Some((batchId, tag)))
        ()
      }
      .start()
  }

  /** Streaming INGEST into the persisted signature store — the FOLD
    * side of the incremental near-dup loop as a stream: each
    * micro-batch's bands/sets derive under the store's config and
    * land through [[graft.ext.SignatureStore.append]] with
    * `batch = Some((batchId, runTag))`,
    * so tomorrow's probes see today's stream exactly once, across
    * crashes and replays. A production loop that also wants per-batch
    * CANDIDATES runs `SignatureStore.ingest` first inside its own
    * foreachBatch (probe-then-fold, the incremental-release order);
    * this sink is the fold alone. */
  def runSigIngestSink(updates: DataFrame, path: String,
                       idCol: String, textCol: String,
                       checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val tag = checkpointRunTag(checkpoint)
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        graft.ext.SignatureStore.append(batch.toDF(),
          idCol, textCol, path, batch = Some((batchId, tag)))
        ()
      }
      .start()
  }

  /** Streaming INGEST into the persisted BM25 index — the lexical
    * member of the streaming-ingest family ([[runVectorIngestSink]],
    * [[runSigIngestSink]]): each micro-batch's postings/df/stats (and
    * positions on a positional store) land under the store's bucket
    * fn through [[graft.ext.RetrievalIndexStore.append]] with
    * `batch = Some((batchId, runTag))`, one commit of the store log
    * naming exactly those files — exactly-once serving state across
    * crashes and replays, readers pinned throughout. */
  def runRetrievalIngestSink(updates: DataFrame, path: String,
                             idCol: String, textCol: String,
                             checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val tag = checkpointRunTag(checkpoint)
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        graft.ext.RetrievalIndexStore.append(batch.toDF(),
          idCol, textCol, path, batch = Some((batchId, tag)))
        ()
      }
      .start()
  }

  /** The COMPOSED streaming daily-release loop — the whole
    * [[graft.ext.ReleaseStore.incrementalRelease]] chain per
    * micro-batch (seen-url probe → within-batch url keeper →
    * seen-hash probe → exact keeper → near-dup vs the store with
    * index-match propagation → benchmark decon → frozen-model quality
    * routing → pack/shard/card), with the fold published by one
    * commit of the store log carrying the run's `t` line, so batch N+1
    * probes batch N's fold and a replayed batch commits nothing — the
    * daily release loop, exactly-once, as a stream.
    * [[runSigIngestSink]] is the fold alone; this is the loop.
    *
    * `benchmark` is the
    * static decon reference. `onBatch` receives each micro-batch's
    * bundle (ledger/packs/shards/card/manifest) — the delta artifacts
    * a deployment lands wherever its training pipeline reads; the
    * default discards them (the store fold IS the durable effect). */
  def runReleaseSink(updates: DataFrame, path: String,
                     benchmark: DataFrame, checkpoint: String,
                     packTokens: Int = 512, shardTokens: Long = 2000L,
                     maxBucketSize: Int = Int.MaxValue,
                     onBatch: (graft.ext.CorpusRelease.Bundle, Long)
                       => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val tag = checkpointRunTag(checkpoint)
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val bundle = graft.ext.ReleaseStore.incrementalRelease(
          batch.sparkSession, path, batch.toDF(), benchmark,
          packTokens = packTokens, shardTokens = shardTokens,
          maxBucketSize = maxBucketSize,
          streamBatch = Some((batchId, tag)))
        onBatch(bundle, batchId)
      }
      .start()
  }

  /** Streaming incremental near-dup CANDIDATES: the stream side's
    * MinHash band keys ([[graft.ext.Dedup.nativeBands]] — a pure
    * projection + explode, streaming-legal) joined against a STATIC
    * index's persisted band keys, counting agreeing bands per
    * (new, index) pair. The streaming face of
    * [[graft.ext.Dedup.incrementalNearDups]]: ingest dedup that
    * never waits for a batch window.
    *
    * Scale/state posture: the stream-static join is STATELESS (the
    * static side is just a relation — broadcast or shuffled by
    * Catalyst based on size), so the only state is the count
    * aggregation keyed by (new_id, index_id) — bounded by the number
    * of COLLIDING pairs, not the corpus. Exact-Jaccard verification
    * stays a batch concern: run [[graft.ext.Dedup]] verification in
    * the foreachBatch sink over each micro-batch's candidates (same
    * split as the batch operator, where banding is cheap and
    * verification is the bounded expensive step).
    *
    * `indexBands` must carry (index_id, band, bkey) — persist
    * [[graft.ext.Dedup.nativeBands]]' output at ingest time and scan
    * it here; recomputing it per micro-batch would rescan the corpus.
    * Output: (new_id, index_id, n_bands), n_bands in 1..numHashes/2,
    * complete/update output mode. */
  def streamNearDupCandidates(stream: DataFrame, indexBands: DataFrame,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame =
    graft.ext.Dedup.nativeBands(stream, idCol, textCol)
      .withColumnRenamed(idCol, "new_id")
      .join(indexBands, Seq("band", "bkey"))
      .groupBy("new_id", "index_id")
      .agg(count(lit(1)).as("n_bands"))

  /** Streaming perceptual media dedup — the media face of
    * [[streamNearDupCandidates]]: incoming payloads hash through the
    * one-pass [[graft.catalyst.Phash64]] projection (streaming-legal
    * by construction), band into 8 bytes, and join the STATIC
    * corpus's persisted band index; pairs within `maxHamming` are
    * counted per (new, index) in complete/update mode. Same posture:
    * the stream-static join is stateless, the only state is the
    * bounded pair count, and the Hamming filter runs BEFORE the
    * aggregation so non-matching collisions never enter state.
    *
    * `indexBands` must carry (index_id, band, nib, h_index) —
    * persist the banded [[graft.ext.Multimodal.phash]] output at
    * ingest time, exactly like the MinHash band index. */
  /** Streaming exact-substring contamination check — the suffix face
    * of [[streamNearDupCandidates]] and the ingest-time form of
    * benchmark decontamination: each incoming document explodes into
    * its suffix gram keys (the chr(1)-joined first `minTokens` tokens
    * per position — a streaming-legal projection, the
    * [[graft.ext.TextOps.suffixMaxMatch]] bucket key) and equi-joins
    * the STATIC corpus's persisted gram index
    * ([[graft.ext.TextOps.substrGramIndex]]); every hit is a position
    * whose next minTokens tokens appear VERBATIM in that index
    * document. Stateless stream-static join; the only state is the
    * (new_id, index_id) position count — bounded by matching pairs,
    * not the corpus. Output: (new_id, index_id, n_positions) in
    * complete/update mode. */
  def streamSubstrMatches(stream: DataFrame, indexGrams: DataFrame,
                          minTokens: Int = 10,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    stream
      .select(col(idCol).as("new_id"), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= minTokens)
      .select(col("new_id"), explode(
        transform(sequence(lit(1), size(col("__t")) - (minTokens - 1)),
          p => concat_ws("", slice(col("__t"), p, lit(minTokens)))))
        .as("bkt"))
      .join(indexGrams, Seq("bkt"))
      .groupBy("new_id", "index_id")
      .agg(count(lit(1)).as("n_positions"))

  def streamPhashCandidates(stream: DataFrame, indexBands: DataFrame,
                            hdrLen: Column,
                            idCol: String = "doc_id",
                            payloadCol: String = "payload",
                            maxHamming: Int = 7): DataFrame = {
    val h = graft.ext.Multimodal.phash(stream, idCol, payloadCol, hdrLen)
      .withColumnRenamed(idCol, "new_id")
    h.select(col("new_id"), col("phash"),
        posexplode(array((0 until 8).map { k =>
          shiftright(col("phash"), 8 * k).bitwiseAND(lit(255L))
        }: _*)).as(Seq("band", "nib")))
      .join(indexBands, Seq("band", "nib"))
      .withColumn("hamming",
        bit_count(col("phash").bitwiseXOR(col("h_index"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("new_id", "index_id", "hamming")
      .agg(count(lit(1)).as("n_bands"))
  }
}
