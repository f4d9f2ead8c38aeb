package graft.sources

/** Storage seam for the MANIFEST layer — the small-control-file IO
  * under every generation chain ([[graft.streaming.StreamingOps]]'s
  * merge-sink table, [[graft.ext.StoreSnapshots]]'s one log per
  * store).
  *
  * Why a seam: a manifest publish needs exactly three primitives —
  * list a directory of generation files, read one, and CREATE ONE
  * ATOMICALLY, conditionally (the no-clobber publish that turns a
  * lost writer race into a loud error instead of silent
  * last-writer-wins). POSIX supplies those via `listFiles`,
  * `readAllBytes`, and `link(2)`; an object store supplies them via
  * LIST, GET, and a conditional PUT (S3 `If-None-Match: *`, GCS
  * `ifGenerationMatch=0`) — same contract, different transport. The
  * chains therefore speak only this trait, the POSIX implementation
  * is the default, and a deployment targeting an object store swaps
  * the transport without touching the commit protocol. (Data files
  * stay Spark's concern — this seam carries only the kilobyte-sized
  * manifest objects.)
  *
  * Routing is by path prefix ([[ManifestIO.register]]): production
  * leaves the registry empty and everything resolves to POSIX;
  * the object-store spec suite registers its store roots against
  * [[ObjectStoreManifestIO]] and the whole chain/commit/vacuum
  * machinery runs through conditional-PUT semantics unchanged. */
/** A conditional-create publish found the target generation already
  * written by ANOTHER writer — the typed signal of a lost commit
  * race. Under the merge sink's single-writer contract this is a
  * loud failure; the store log's optimistic-concurrency commit
  * ([[graft.ext.StoreSnapshots.commit]], under every append and
  * compaction) catches exactly this type and re-bases on the winner's
  * generation instead. */
final class LostPublishRace(msg: String)
  extends IllegalStateException(msg)

trait ManifestIO {

  /** Entry NAMES directly under `dir` (no recursion) — the manifest
    * directory listing. Empty when the directory/prefix holds
    * nothing or does not exist. */
  def list(dir: String): Seq[String]

  /** The object's full content, or None when absent. */
  def read(path: String): Option[String]

  /** Unconditional atomic create-or-replace (the quiesced re-publish
    * path — single-writer by the caller's contract). */
  def put(path: String, content: String): Unit

  /** CONDITIONAL create — atomic, never partial: true when this call
    * created the object, false when it already existed (existing
    * content untouched). The primitive the no-clobber generation
    * publish is built on. */
  def putIfAbsent(path: String, content: String): Boolean

  /** Delete the object; no-op when absent. */
  def delete(path: String): Unit
}

/** POSIX implementation — the local-filesystem default. `put` is
  * temp-write + atomic rename; `putIfAbsent` is temp-write +
  * `link(2)` (atomic creation that FAILS if the target exists, with
  * no exists-check window — POSIX rename() would silently replace). */
final class PosixManifestIO extends ManifestIO {

  private def p(s: String) = java.nio.file.Paths.get(s)

  override def list(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSeq.sorted

  override def read(path: String): Option[String] =
    if (!java.nio.file.Files.exists(p(path))) None
    else Some(new String(java.nio.file.Files.readAllBytes(p(path)), "UTF-8"))

  private def writeTmp(path: String, content: String): java.nio.file.Path = {
    val target = p(path)
    java.nio.file.Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(
      s".${target.getFileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
    tmp
  }

  override def put(path: String, content: String): Unit = {
    val tmp = writeTmp(path, content)
    java.nio.file.Files.move(tmp, p(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  override def putIfAbsent(path: String, content: String): Boolean = {
    val tmp = writeTmp(path, content)
    try {
      java.nio.file.Files.createLink(p(path), tmp)
      java.nio.file.Files.delete(tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        java.nio.file.Files.delete(tmp)
        false
    }
  }

  override def delete(path: String): Unit =
    java.nio.file.Files.deleteIfExists(p(path))
}

/** Object-store-semantics implementation — a faithful in-process
  * model of the primitives S3/GCS actually offer: a flat key→bytes
  * namespace (no directories, no rename, no hard links), LIST by
  * prefix, and a server-side-serialized conditional PUT. The spec
  * suite runs the full chain machinery (publish race, replay, vacuum,
  * online compaction, store snapshots) through this to prove the
  * commit protocol needs nothing POSIX — the conditional-create
  * semantics are the whole contract. */
final class ObjectStoreManifestIO extends ManifestIO {

  private val objects =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def key(s: String): String =
    java.nio.file.Paths.get(s).toAbsolutePath.normalize.toString

  override def list(dir: String): Seq[String] = {
    val prefix = key(dir) + "/"
    import scala.jdk.CollectionConverters._
    objects.keySet().asScala.toSeq.collect {
      case k if k.startsWith(prefix) && !k.stripPrefix(prefix).contains('/') =>
        k.stripPrefix(prefix)
    }.sorted
  }

  override def read(path: String): Option[String] =
    Option(objects.get(key(path)))

  override def put(path: String, content: String): Unit =
    objects.put(key(path), content)

  override def putIfAbsent(path: String, content: String): Boolean =
    objects.putIfAbsent(key(path), content) == null

  override def delete(path: String): Unit =
    objects.remove(key(path))
}

object ManifestIO {

  /** The production default: POSIX. */
  val posix: ManifestIO = new PosixManifestIO

  private val overrides =
    new java.util.concurrent.ConcurrentHashMap[String, ManifestIO]()

  private def canon(s: String): String =
    java.nio.file.Paths.get(s).toAbsolutePath.normalize.toString

  /** Route every manifest path under `prefix` through `io` — the
    * transport swap (the same injectable pattern the openf1 source's
    * `Openf1Transport` uses). Longest registered prefix wins;
    * unregistered paths resolve to [[posix]]. */
  def register(prefix: String, io: ManifestIO): Unit =
    overrides.put(canon(prefix), io)

  def unregister(prefix: String): Unit =
    overrides.remove(canon(prefix))

  /** The transport owning `path`. */
  def forPath(path: String): ManifestIO = {
    val c = canon(path)
    import scala.jdk.CollectionConverters._
    overrides.asScala
      .filter { case (pre, _) => c == pre || c.startsWith(pre + "/") }
      .toSeq.sortBy(-_._1.length).headOption.map(_._2).getOrElse(posix)
  }
}
