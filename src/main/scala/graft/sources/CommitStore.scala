package graft.sources

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.io.Source

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** The commit primitive the whole lakehouse's atomicity rests on —
  * pluggable, because no single filesystem operation is atomic
  * everywhere (the exact reason Delta routes commits through LogStore
  * and Iceberg swaps them through a catalog):
  *
  *   - HDFS / local fs: atomic no-overwrite RENAME exists →
  *     [[RenameCommitStore]] (the default).
  *   - S3 / GCS / ABFS: rename is copy+delete and NOT atomic, but all
  *     three now provide an atomic CONDITIONAL PUT (S3
  *     `If-None-Match: *` since 2024, GCS `ifGenerationMatch=0`, Azure
  *     ETag preconditions) → [[ObjectStoreCommitStore]] over a thin
  *     [[ConditionalObjectApi]] adapter.
  *
  * Scope: ONLY the table-protocol files — manifests (`_manifests/m-*`),
  * the `_latest` pointer hint, and their temp siblings. Data files are
  * written by Spark's own parquet committer and referenced by fresh
  * UUID directory names, so they never race; a data file is invisible
  * garbage until the manifest that references it commits through this
  * interface. This is the same scope split LogStore draws.
  *
  * Contract every implementation must honor (the manifest CAS *is* the
  * optimistic-concurrency lock — see [[ManifestTable]]):
  *
  *   - [[CommitStore.putIfAbsent]]: atomic create-if-absent of the FULL
  *     content; of N concurrent publishers of one path, exactly one
  *     returns true, and a reader never observes a partial file. A torn
  *     outcome may be reported as false-when-actually-landed (the
  *     rename store's read-back can be interrupted); callers recover by
  *     re-checking the exact version they attempted (the torn-CAS
  *     adoption in `ManifestTable.publish`, the one commit loop), so the
  *     conservative direction is "report loss".
  *   - [[CommitStore.putOverwrite]]: atomic overwrite — after return
  *     the path holds this content or a concurrent racer's COMPLETE
  *     content; never torn, never absent. Used only for the `_latest`
  *     hint, whose protocol self-heals (returns false on a lost race).
  *   - [[CommitStore.read]] throws [[FileNotFoundException]] for a
  *     missing path; reads are strong (read-after-write visible) — true
  *     on HDFS, local, and 2020+ S3/GCS/ABFS.
  *
  * Selection is per-session via `spark.graft.commit.store`: `"rename"`
  * (default), or the fully-qualified class name of either a
  * [[CommitStore]] or a [[ConditionalObjectApi]] with a no-arg
  * constructor (the latter is wrapped in [[ObjectStoreCommitStore]]).
  * All tables in a session share one store — mixing stores over one
  * table from different writers would forfeit the CAS guarantee.
  */
trait CommitStore {
  /** Atomic create-if-absent; exactly one concurrent publisher wins. */
  def putIfAbsent(path: Path, content: String): Boolean

  /** Atomic overwrite publish; false when a concurrent racer won. */
  def putOverwrite(path: Path, content: String): Boolean

  /** Full content, or throw [[FileNotFoundException]]/IOException. */
  def read(path: Path): String

  def exists(path: Path): Boolean

  /** Direct child FILES of `dir` as (name, mtimeMs); Nil if absent. */
  def listFiles(dir: Path): Seq[(String, Long)]

  /** Delete one file; absent is a no-op. */
  def delete(path: Path): Unit
}

object CommitStore {
  val ConfKey = "spark.graft.commit.store"

  // custom stores are stateless no-arg classes: memoize per class name so
  // every protocol op doesn't pay Class.forName + reflection
  private val custom = new ConcurrentHashMap[String, CommitStore]()

  def forSession(spark: SparkSession): CommitStore =
    spark.conf.get(ConfKey, "rename") match {
      case "rename" =>
        new RenameCommitStore(spark.sparkContext.hadoopConfiguration)
      case cls => custom.computeIfAbsent(cls, c => {
        val k = Class.forName(c)
        val inst = k.getDeclaredConstructor().newInstance()
        inst match {
          case s: CommitStore => s
          case a: ConditionalObjectApi => new ObjectStoreCommitStore(a)
          case _ => throw new IllegalArgumentException(
            s"$ConfKey=$c: class implements neither CommitStore nor " +
              "ConditionalObjectApi")
        }
      })
    }
}

object RenameCommitStore {
  /** Torn-read retry bound: with the exponential backoff in
    * [[RenameCommitStore.read]] (min(40, 4<<n) ms after attempt n) the
    * total sleep spans ~136ms — orders of magnitude past a rename
    * pair's in-flight window (two metadata ops), short enough that
    * real corruption still fails promptly.
    */
  private[graft] val MaxReadAttempts = 6
}

/** Rename-based commit store — correct wherever the filesystem gives an
  * atomic no-overwrite rename (HDFS, local fs, most HDFS-compatible
  * stores). This is the code that lived inside [[ManifestTable]] through
  * round 9, verbatim; see the method docs for the local-fs caveats each
  * step closes.
  */
class RenameCommitStore(conf: Configuration) extends CommitStore {

  private def fs(p: Path) = p.getFileSystem(conf)

  /** CAS publish: temp sibling, then an ATOMIC create-if-absent of the
    * destination. On the LOCAL fs that is a POSIX hard link — link(2)
    * fails with EEXIST atomically in the kernel, and the destination
    * appears fully written because it IS the fully-written temp's
    * inode. A no-overwrite rename is NOT that: Hadoop's local rename is
    * check-then-rename, so two racers can both report success with the
    * second silently REPLACING the first — a read-back narrows but
    * cannot close that window (the loser's rename can land after the
    * winner's read-back). On HDFS and HCFS stores the namespace rename
    * is atomic server-side, so the rename + read-back path stands; the
    * read-back still converts a torn verification into the contract's
    * conservative false-when-actually-landed report.
    */
  override def putIfAbsent(p: Path, content: String): Boolean = {
    val f = fs(p)
    if (f.exists(p)) return false
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${UUID.randomUUID()}")
    f.mkdirs(p.getParent)
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    if (scheme.equalsIgnoreCase("file")) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(f.makeQualified(p).toUri.getPath),
          java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath))
        f.delete(tmp, false) // p holds the linked inode; tmp (+crc) goes
        true // the link succeeded atomically: these ARE our bytes
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false); false
      }
    } else {
      val fc = FileContext.getFileContext(p.toUri, conf)
      try {
        fc.rename(tmp, p)
        try read(p).trim == content.trim
        catch { case _: java.io.IOException => false } // torn read: treat as lost
      } catch {
        case _: FileAlreadyExistsException | _: org.apache.hadoop.fs.PathExistsException =>
          f.delete(tmp, false); false
      }
    }
  }

  /** Atomic publish: temp sibling, then ONE overwriting rename
    * (FileContext.rename(OVERWRITE) — atomic on HDFS and local). A
    * delete-then-rename pair would open a window where the target does
    * not exist at all: readers would see "no committed version" and a
    * writer crash inside the window would fork the version timeline.
    */
  override def putOverwrite(p: Path, content: String): Boolean = {
    val f = fs(p)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(p.toUri, conf)
    try { fc.rename(tmp, p, Options.Rename.OVERWRITE); true }
    catch {
      case _: FileAlreadyExistsException | _: org.apache.hadoop.fs.PathExistsException =>
        f.delete(tmp, false); false
    }
  }

  /** One raw read attempt; overridable so the retry loop is testable. */
  protected def readOnce(p: Path): String = {
    val in = fs(p).open(p)
    try Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  /** Read with a bounded retry on torn-read signatures. On the local
    * (checksummed) filesystem, renaming a file renames the data file and
    * its `.crc` sidecar as TWO separate ops — a reader racing the
    * rename-CAS publish can observe a pair that disagrees
    * (ChecksumException) or a file that looks truncated (EOFException).
    * Protocol files are immutable once committed, so a re-read converges
    * as soon as both halves of the pair land; persistent corruption
    * still surfaces after the attempts are exhausted. On HDFS and the
    * conditional-PUT object-store mode this window does not exist and
    * the first attempt always wins.
    */
  override def read(p: Path): String = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < RenameCommitStore.MaxReadAttempts) {
      try return readOnce(p)
      catch {
        case e @ (_: org.apache.hadoop.fs.ChecksumException | _: java.io.EOFException) =>
          last = e
          attempt += 1
          if (attempt < RenameCommitStore.MaxReadAttempts)
            Thread.sleep(math.min(40L, 4L << attempt))
      }
    }
    throw last
  }

  override def exists(p: Path): Boolean = fs(p).exists(p)

  override def listFiles(dir: Path): Seq[(String, Long)] = {
    val f = fs(dir)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filter(_.isFile)
      .map(st => (st.getPath.getName, st.getModificationTime))
  }

  override def delete(p: Path): Unit = fs(p).delete(p, false)
}

/** The minimal object-store surface a conditional-put commit store
  * needs — deliberately tiny so an adapter over any real SDK (S3
  * `PutObject If-None-Match`, GCS `ifGenerationMatch=0`, Azure
  * `If-None-Match: *`) is a page of glue. Strong read-after-write
  * consistency is assumed (all three stores provide it today).
  *
  * Note what is absent: RENAME. Object stores implement rename as
  * copy+delete — observable half-done, and not a fence against a racer.
  * Any commit protocol built on check-then-rename over this API loses
  * races silently (the spec demonstrates it); the conditional put is
  * the only atomic publish primitive, which is exactly why this
  * interface exposes it and nothing else.
  */
trait ConditionalObjectApi {
  /** Atomic create-if-absent (`If-None-Match: *`): true iff this call
    * created the object. */
  def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean

  /** Unconditional put: atomic last-writer-wins overwrite (object PUTs
    * are all-or-nothing — readers see old or new, never a mix). */
  def put(key: String, bytes: Array[Byte]): Unit

  def get(key: String): Option[Array[Byte]]

  /** Keys under `prefix` as (key, lastModifiedMs). */
  def list(prefix: String): Seq[(String, Long)]

  def delete(key: String): Unit
}

/** Commit store over [[ConditionalObjectApi]] — the object-store-safe
  * mode. The CAS maps 1:1 onto the conditional put (atomic server-side:
  * no temp files, no read-back, no rename anywhere), and the pointer
  * hint onto a plain PUT (atomic overwrite by the object model). Keys
  * are the path's full URI-less string form, so one bucket holds many
  * tables exactly as one filesystem does.
  */
final class ObjectStoreCommitStore(api: ConditionalObjectApi) extends CommitStore {

  private def key(p: Path): String = p.toString

  override def putIfAbsent(p: Path, content: String): Boolean =
    api.putIfNoneMatch(key(p), content.getBytes(StandardCharsets.UTF_8))

  override def putOverwrite(p: Path, content: String): Boolean = {
    api.put(key(p), content.getBytes(StandardCharsets.UTF_8)); true
  }

  override def read(p: Path): String =
    api.get(key(p)) match {
      case Some(b) => new String(b, StandardCharsets.UTF_8).trim
      case None => throw new FileNotFoundException(key(p))
    }

  override def exists(p: Path): Boolean = {
    // key-only probe, never a full GET: exists sits on the hot path
    // (currentVersion probes the pointer on every scan build and stream
    // trigger), and downloading whole objects to answer a boolean
    // doubles object-store request cost for nothing
    val k = key(p)
    api.list(k).exists(_._1 == k)
  }

  override def listFiles(dir: Path): Seq[(String, Long)] = {
    val prefix = key(dir) + "/"
    api.list(prefix).collect {
      case (k, m) if !k.stripPrefix(prefix).contains('/') =>
        (k.stripPrefix(prefix), m)
    }
  }

  override def delete(p: Path): Unit = api.delete(key(p))
}
