package graft.mergetree

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}
import scala.jdk.CollectionConverters._

/** The one way graft writes and reads a small metadata file: both manifest
  * formats, tabledef, the MV registry, the snapshot log, the GC, detached
  * and intent sets, index stats, stream intents and guards, PQ codebooks,
  * BPE merges, skip-index sidecars on live parts, the stream checkpoint
  * and the catalog's pointer files.
  *
  * A publish is whole or absent: the bytes go to a unique dot-prefixed temp
  * sibling, which one atomic rename then moves over the target, so a reader
  * sees the previous file or the new one, never a partial one. A crash
  * between the write and the rename leaves only that temp sibling, which no
  * reader opens (every loader asks for its exact file name, and Spark skips
  * dot files) and the engines' GC sweeps once it is old ([[sweepTemps]]).
  * Durability (fsync before the rename) is not done yet; this is the one
  * place it goes.
  *
  * Not routed here: the manifest LOG layout publishes by put-if-absent
  * through [[CommitBackend]], and `freeze` renames a whole staged directory.
  */
private[graft] object MetaFiles {
  private implicit val formats: Formats = DefaultFormats

  /** Atomically replace `target` with `bytes`, creating its directory. The
    * temp sibling is opened CREATE_NEW under a random name (concurrent
    * publishers to one target never share it), which also keeps the
    * process umask's file mode, unlike `Files.createTempFile`'s 0600.
    */
  def publish(target: Path, bytes: Array[Byte]): Unit = {
    val dir = target.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: java.io.IOException =>
        Files.deleteIfExists(tmp)
        throw e
    }
  }

  /** [[publish]] of UTF-8 text. */
  def publish(target: Path, text: String): Unit =
    publish(target, text.getBytes(StandardCharsets.UTF_8))

  /** [[publish]] of `value` as pretty-printed JSON, the record format. */
  def publishJson(target: Path, value: AnyRef): Unit =
    publish(target, Serialization.writePretty(value))

  /** Delete the temp siblings that torn publishes left in `dir` (the
    * `.<name>.<uuid>.tmp` files of [[publish]]) last modified before
    * `cutoffMs`. A live publish renames its temp within moments, so a
    * floor of minutes never races one. Entries that vanish or cannot be
    * read mid-sweep are skipped.
    */
  def sweepTemps(dir: Path, cutoffMs: Long): Unit =
    try {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        n.startsWith(".") && n.endsWith(".tmp") &&
          (try Files.isRegularFile(f) && Files.getLastModifiedTime(f).toMillis < cutoffMs
           catch { case _: java.io.IOException => false })
      }.foreach(Files.deleteIfExists(_))
      finally s.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }

  /** The file's text, or None when it is absent. Any other failure
    * (unreadable, a directory) throws: callers fail closed.
    */
  def read(file: Path): Option[String] =
    try Some(Files.readString(file))
    catch { case _: NoSuchFileException => None }

  /** The file parsed as a `T`, or None when it is absent. A file that
    * exists but does not parse throws.
    */
  def readJson[T: scala.reflect.Manifest](file: Path): Option[T] =
    read(file).map(s => JsonMethods.parse(s).extract[T])

  /** Read-modify-publish of the JSON record `name` under `tablePath`, inside
    * the table's [[ManifestLocks]] critical section, so no writer holding a
    * stale copy can lose another writer's update. An absent file reads as
    * `empty`. Returns the published value.
    */
  def update[T <: AnyRef : scala.reflect.Manifest](tablePath: String, name: String,
      empty: => T)(f: T => T): T =
    ManifestLocks.locked(tablePath) {
      val file = Paths.get(tablePath, name)
      val next = f(readJson[T](file).getOrElse(empty))
      publishJson(file, next)
      next
    }
}

/** Per-table-path mutual exclusion for every read-modify-publish of a
  * table's metadata, taken by both engines: the KV [[MergeTreeTable]]
  * (`manifest.json`, part-id claims) and [[ColumnarMergeTree]]
  * (`gmanifest.json` and its snapshot log, the GC, detached and intent sets,
  * the MV registry, part-id claims). The DSv2 connectors' commits and the
  * inverted and IVF indexes reach it through those engines. TWO layers:
  *
  *  - a JVM-global monitor (threads of one process; also required because
  *    OS file locks are held per-process and overlapping acquisition from
  *    the same JVM throws), and
  *  - an OS advisory file lock on `<table>/.manifest.lock`, so a SECOND
  *    process (e.g. the DSv2 connector in another Spark driver) doing
  *    read-modify-write on gmanifest.json/gclist.json serializes against
  *    this one instead of losing updates.
  *
  * Not reentrant: a body already holding the lock must use the unlocked
  * store (e.g. `IntentSet.storeUnlocked`). The file lock makes commits
  * multi-process-safe on any filesystem with working advisory locks (local
  * disk, NFSv4); object stores without lock semantics use the manifest log
  * layout instead (SURVEY §8).
  */
private[graft] object ManifestLocks {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def locked[A](tablePath: String)(body: => A): A = {
    val key = Paths.get(tablePath).toAbsolutePath.normalize.toString
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      Files.createDirectories(Paths.get(key))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(key, ".manifest.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        try body
        finally fl.release()
      } finally ch.close()
    }
  }
}
