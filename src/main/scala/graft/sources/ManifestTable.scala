package graft.sources

import java.nio.charset.StandardCharsets
import java.util.{Base64, UUID}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, struct, sum, to_json, when}
import org.apache.spark.sql.graft.SchemaBridge
import org.apache.spark.sql.types._

/** Minimal manifest-pinned table: atomic commits and snapshot-isolated
  * reads over plain parquet — the table-format pattern (Iceberg/Delta's
  * core idea) at the scale of this engine. The physical contract:
  *
  *   table/
  *     data/<uuid>/part-*.parquet     one directory per commit
  *     _manifests/m-<version>.txt     per version: data dirs + column stats
  *     _latest                        pointer file: current version hint
  *
  * Data lands FIRST, then the manifest is published by an atomic
  * no-overwrite rename — creating `m-(v+1)` IS the commit, and doubles as
  * the optimistic-concurrency lock: two writers racing to the same version
  * can only have one rename land; the loser re-reads the new head and
  * retries on top of it (append commits carry the winner's data forward,
  * so no commit is ever lost). Every write form runs that loop through
  * ONE primitive, [[publish]]. `_latest` is a monotonically-advanced
  * hint for readers, not the source of truth: [[currentVersion]] falls
  * back to the manifest head only when the hint is missing or
  * unreadable. A hint that LAGS the head (a writer crashed between
  * manifest and pointer) is served as-is — readers see the previous
  * complete snapshot — until the next commit heals it: [[publish]]
  * advances the hint on every return path, a replay's no-op included.
  * Writers always base on the manifest head, never on the hint. A crash
  * at any earlier point leaves only invisible garbage (data without a
  * manifest), never a broken table.
  *
  * Manifests also record per-commit min/max stats for caller-chosen
  * columns, and [[readRange]] prunes a snapshot read to the data dirs
  * whose range intersects the predicate — partition pruning without
  * physical partitioning, the manifest-level file-skipping that makes a
  * time- or key-scoped query at 100 TB read only the commits that can
  * match.
  *
  * Readers that pin a version keep a consistent snapshot while writers
  * commit ahead; [[vacuum]] reclaims superseded commits once no reader
  * needs them. This also closes [[ParquetSink.compact]]'s documented
  * reader-retry window: [[compactCommit]] rewrites the current snapshot
  * and swaps the pointer with zero reader-visible downtime.
  *
  * Concurrency: manifest publication routes through a pluggable
  * [[CommitStore]] — rename-CAS by default (atomic on HDFS; the local-fs
  * check-then-rename window is closed by a read-back), conditional-put
  * ([[ObjectStoreCommitStore]]) for object stores where rename is
  * copy+delete and nothing about it is atomic. Select per session with
  * `spark.graft.commit.store`; the protocol above is store-agnostic.
  */
object ManifestTable {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fresh table-relative data-dir name. The UUID is what makes
    * concurrent writers collision-free AND what [[publish]]'s torn-CAS
    * adoption leans on as an authorship proof — every commit path must
    * mint dirs here.
    */
  private def newDataDirName(): String =
    s"data/${UUID.randomUUID().toString.replace("-", "").take(16)}"

  /** Column reference by EXACT top-level name: backtick-quoted so a
    * name containing dots is never parsed as a nested-field path
    * (embedded backticks escape by doubling). Every NAME-driven select,
    * aggregate, or filter in the table protocol and the DSv2 surface
    * must use this — a plain col("a.b") silently resolves field b of
    * struct a, or throws, for a perfectly legal parquet column "a.b".
    */
  private[graft] def colExact(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private def store(spark: SparkSession): CommitStore =
    CommitStore.forSession(spark)

  /** Atomic overwrite publish of a protocol file (the `_latest` hint).
    * False when a concurrent publisher won: the only caller is the
    * pointer protocol, which is self-healing — its loop re-reads the
    * pointer and re-decides; throwing would fail a commit whose manifest
    * already durably landed.
    */
  private def writeFile(spark: SparkSession, p: Path, content: String): Boolean =
    store(spark).putOverwrite(p, content)

  private def readFile(spark: SparkSession, p: Path): String =
    store(spark).read(p)

  /** Current committed version, or 0 if the table is empty/uninitialized.
    *
    * The pointer is a HINT, and on the local filesystem a concurrent
    * overwrite renames the data file and its .crc sidecar as two
    * separate ops — a reader can catch a torn pair mid-rename
    * (ChecksumException) or a transient not-exists window. Neither may
    * fail a read or surface as "no committed version": retry briefly,
    * then fall back to the manifest head — the actual source of truth,
    * just a listing instead of one file read.
    */
  def currentVersion(spark: SparkSession, table: String): Long = {
    val h = hintVersion(spark, table)
    if (h > 0) h
    else highestManifest(spark, table) // no/ torn hint: head decides (0 if empty)
  }

  /** The raw pointer-file value, 0 when missing or unreadable (a torn
    * local-fs rename pair mid-overwrite). The WRITER protocol
    * ([[advancePointer]]) must loop on this, not on [[currentVersion]]:
    * the reader fallback would report the head and convince the writer
    * the hint file it never wrote is already current. One store read: a
    * missing pointer is the read's FileNotFoundException (the
    * [[CommitStore.read]] contract), so no separate `exists` round trip.
    */
  private def hintVersion(spark: SparkSession, table: String): Long =
    try readFile(spark, new Path(table, "_latest")).toLong
    catch { case _: java.io.IOException | _: NumberFormatException => 0L }

  private def manifestPath(table: String, v: Long) =
    new Path(table, f"_manifests/m-$v%06d.txt")

  /** Highest version any manifest file claims — the commit head, which
    * can run ahead of the `_latest` hint (writer crashed mid-publish, or
    * a concurrent writer between manifest and pointer).
    */
  private def highestManifest(spark: SparkSession, table: String): Long =
    store(spark).listFiles(new Path(table, "_manifests"))
      .foldLeft(0L) { case (acc, (n, _)) =>
        if (n.startsWith("m-") && n.endsWith(".txt"))
          n.stripPrefix("m-").stripSuffix(".txt").toLongOption.fold(acc)(math.max(acc, _))
        else acc
      }

  /** Whether `path` is a manifest table (has ≥1 published manifest) —
    * the [[GraftCatalog]] discovery probe, routed through the commit
    * store so table discovery agrees with whatever store published the
    * manifests.
    */
  private[graft] def isTable(spark: SparkSession, path: String): Boolean =
    store(spark).listFiles(new Path(path, "_manifests"))
      .exists { case (n, _) => n.startsWith("m-") && n.endsWith(".txt") }

  // ---- manifest entry format ---------------------------------------------
  // one line per data dir:  <dir>[\t<col>:<tag>:<minB64>:<maxB64>[:<nulls>];...]
  // stats values are base64 so arbitrary string minima can't collide with
  // the separators; the tag (`num`, `str`, `ts`, `tsn`) and the canonical
  // form of min/max are [[ColStats]]'s. `nulls` (the column's
  // null-row count in the dir) is an optional FIFTH field: min/max prove
  // what a dir CANNOT contain, but an ALL-rows-match proof (metadata-only
  // DELETE) additionally needs "no rows where the predicate evaluates
  // NULL" — entries written before the field carry None and simply never
  // prove all-match, which is conservative in the right direction.

  private[graft] case class ColStat(tag: String, min: String, max: String,
      nulls: Option[Long] = None)
  private[graft] case class Entry(dir: String, stats: Map[String, ColStat])

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String) =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  private def renderEntry(e: Entry): String =
    if (e.stats.isEmpty) e.dir
    else e.dir + "\t" + e.stats.toSeq.sortBy(_._1).map { case (c, s) =>
      s"$c:${s.tag}:${b64(s.min)}:${b64(s.max)}" +
        s.nulls.map(n => s":$n").getOrElse("")
    }.mkString(";")

  private def parseEntry(line: String): Entry = line.split("\t", -1) match {
    case Array(dir) => Entry(dir, Map.empty)
    // split with limit -1: Java's default drops TRAILING empty strings,
    // so an empty-string min/max (b64("") == "") would destructure into
    // 2-3 fields and MatchError every subsequent read of the table
    case Array(dir, stats) => Entry(dir, stats.split(';').map { part =>
      part.split(":", -1) match {
        case Array(c, tag, mn, mx) =>
          c -> ColStat(tag, unb64(mn), unb64(mx))
        case Array(c, tag, mn, mx, n) =>
          c -> ColStat(tag, unb64(mn), unb64(mx), n.toLongOption)
        case other => throw new IllegalStateException(
          s"manifest-table: unreadable stats field '$part' " +
            s"(${other.length} segments)")
      }
    }.toMap)
    case other => Entry(other.head, Map.empty)
  }

  /** One manifest read → both things a manifest holds: the `#ts` commit
    * stamp (None for legacy headerless manifests) and the entry list.
    * [[manifestEntries]] and [[commitTimeMs]] each surface one half;
    * callers needing both (e.g. [[historyRows]]) parse once here instead
    * of issuing two store reads per version.
    */
  private def parseManifest(content: String): (Option[Long], Seq[Entry]) = {
    val ts = content.linesIterator.find(_.nonEmpty)
      .filter(_.startsWith("#ts:"))
      .flatMap(_.stripPrefix("#ts:").trim.toLongOption)
    val entries = content.linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(parseEntry).toSeq
    (ts, entries)
  }

  private[graft] def manifestEntries(spark: SparkSession, table: String,
      v: Long): Seq[Entry] =
    if (v == 0) Nil
    else parseManifest(readFile(spark, manifestPath(table, v)))._2

  /** The wall-clock commit time stamped INSIDE a manifest at CAS time
    * (`#ts:<epochMillis>` header, r10+) — the honest axis `TIMESTAMP AS
    * OF` resolves on, unlike file mtimes which report whatever the
    * filesystem last touched. None for pre-stamp legacy manifests.
    */
  private[graft] def commitTimeMs(spark: SparkSession, table: String,
      v: Long): Option[Long] =
    parseManifest(readFile(spark, manifestPath(table, v)))._1

  /** Render a manifest for publication on top of a predecessor stamped
    * `baseStamp`: entries sorted by dir under a commit-time header. The
    * stamp is MONOTONE per table — max(now, predecessor's stamp + 1) —
    * so `TIMESTAMP AS OF` resolves unambiguously even across committer
    * clock skew (the Delta in-commit-timestamp rule). An empty table or
    * a legacy headerless predecessor contributes no floor.
    */
  private def renderManifest(baseStamp: Option[Long], entries: Seq[Entry]): String = {
    val ts = math.max(System.currentTimeMillis(), baseStamp.getOrElse(0L) + 1)
    s"#ts:$ts\n" + entries.sortBy(_.dir).map(renderEntry).mkString("\n")
  }

  /** The latest version whose stamped commit time is <= `targetMs` —
    * Spark's `TIMESTAMP AS OF` contract (Delta semantics: the snapshot
    * that was current at that instant). Walks retained versions from the
    * head down, so vacuumed history simply isn't addressable and a
    * legacy unstamped manifest refuses ONLY when resolution actually
    * needs it (every stamped version is still after the target).
    */
  private[graft] def versionAtTime(spark: SparkSession, table: String,
      targetMs: Long): Long = {
    val versions = store(spark).listFiles(new Path(table, "_manifests"))
      .map(_._1).filter(n => n.startsWith("m-") && n.endsWith(".txt"))
      .flatMap(_.stripPrefix("m-").stripSuffix(".txt").toLongOption)
      .sorted(Ordering[Long].reverse)
    require(versions.nonEmpty, s"manifest-table: $table has no committed version")
    var earliest = Long.MaxValue
    versions.foreach { v =>
      commitTimeMs(spark, table, v) match {
        case None => throw new UnsupportedOperationException(
          s"manifest-table: version $v of $table predates commit-time " +
            "stamps - TIMESTAMP AS OF cannot resolve at or below it; " +
            "use VERSION AS OF")
        case Some(ts) if ts <= targetMs => return v
        case Some(ts) => earliest = ts
      }
    }
    throw new IllegalArgumentException(
      s"manifest-table: TIMESTAMP AS OF $targetMs ms is before the " +
        s"earliest retained commit of $table " +
        s"(${java.time.Instant.ofEpochMilli(earliest)})")
  }

  private def dataDirs(spark: SparkSession, table: String, v: Long): Seq[String] =
    manifestEntries(spark, table, v).map(_.dir)

  /** The columns the current head's commits record stats on — what a SQL
    * write inherits as its own `statsCols`, so pruning survives INSERTs
    * that have no way to name them. Self-sustaining: once any commit in
    * the snapshot carries stats on a column, every inheriting append
    * keeps recording it (columns absent from the written schema are
    * skipped by [[ColStats.tags]], never wrong).
    */
  private[graft] def headStatsCols(spark: SparkSession, table: String): Seq[String] =
    statsColsOf(manifestEntries(spark, table, highestManifest(spark, table)))

  private def statsColsOf(entries: Seq[Entry]): Seq[String] =
    entries.flatMap(_.stats.keys).distinct.sorted

  /** Write `df` as data dir `dirName` and return its manifest entry.
    * Everything the entry records is taken from the write itself, in its
    * one job: the min/max/null stats on `statsCols` ride the write as an
    * `Observation` (the same [[ColStats.aggs]] a read-back of the dir would
    * compute, over the same rows), and the schema the files carry
    * (`df.schema.asNullable`, what the parquet writer puts in every
    * footer) goes into the per-dir schema cache, so no later snapshot
    * schema opens this dir's footers. An observation that delivers no
    * metrics (a write that ran no task) records no stats — unrecorded
    * stats never prune, so that is never wrong.
    */
  private def writeEntry(df: DataFrame, table: String, statsCols: Seq[String],
      dirName: String = newDataDirName(), mode: String = "errorifexists"): Entry = {
    val spark = df.sparkSession
    val dir = new Path(table, dirName)
    val stats = ColStats.written(df, ColStats.tags(df.schema, statsCols))(
      _.write.mode(mode).parquet(dir.toString))
    dirSchemas.put(dirKey(spark, dir), SchemaBridge.asNullable(df.schema))
    Entry(dirName, stats)
  }

  /** Zero rows of `schema` in one partition: written, one footer. */
  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .repartition(1)

  /** The empty-snapshot anchor: ONE fresh empty data dir carrying
    * `schema`. The snapshot schema lives in parquet footers, so a
    * zero-dir manifest would erase it and strand every follow-up INSERT.
    */
  private def emptyAnchor(spark: SparkSession, table: String,
      schema: StructType): Entry =
    writeEntry(emptyFrame(spark, schema), table, Nil)

  /** One commit attempt's answer to the head it was handed (see
    * [[publish]]). [[Settled]]: nothing to publish — a replay, a no-op,
    * or a create routed through [[commit]]; `v` is the result.
    * [[Publish]]: CAS `entries` as head+1. `minted` are the fresh data
    * dirs the attempt wrote (its authorship proof); `derived` marks them
    * as computed FROM the head, so a lost race deletes them and the next
    * attempt recomputes. Non-derived dirs are written once and ride
    * every retry.
    */
  private sealed trait Attempt
  private final case class Settled(v: Long) extends Attempt
  private final case class Publish(entries: Seq[Entry],
      minted: Seq[String] = Nil, derived: Boolean = false) extends Attempt

  /** THE optimistic commit loop under every write form. Each round reads
    * the manifest head `base` once (version, entries and `#ts` stamp),
    * asks `attempt` what to do on top of it, and CASes a [[Publish]] as
    * `m-(base+1)` through [[CommitStore.putIfAbsent]].
    *
    * A CAS reported lost may have LANDED (the torn read-back the store
    * contract allows). Version `base+1` is adopted as ours when it lists
    * a dir we minted — fresh UUIDs (or a token no one else commits) are
    * proof of authorship — or, for an attempt that minted none (restore,
    * metadata-only drop, clone), when its dir set equals ours: equal
    * content is the same commit. The check MUST precede deleting a
    * derived dir: deleting on a false-when-landed report would leave the
    * head referencing a deleted dir, and manifests are immutable. A
    * missing or unreadable attempted manifest reads as not landed.
    * After a genuine loss, derived dirs are deleted and the loop
    * re-reads the head.
    *
    * `_latest` advances on EVERY return path — a replay or no-op
    * included: a replay exists precisely because a writer may have died
    * between the manifest CAS and the pointer write.
    */
  private def publish(spark: SparkSession, table: String)(
      attempt: (Long, Seq[Entry]) => Attempt): Long = {
    var committed = 0L
    while (committed == 0L) {
      val base = highestManifest(spark, table)
      val (stamp, entries) =
        if (base > 0) parseManifest(readFile(spark, manifestPath(table, base)))
        else (None, Nil)
      attempt(base, entries) match {
        case Settled(v) => committed = v
        case Publish(next, minted, derived) =>
          def landed = scala.util.Try(manifestEntries(spark, table, base + 1))
            .toOption.exists { m =>
              if (minted.nonEmpty) m.exists(e => minted.contains(e.dir))
              else m.map(_.dir).toSet == next.map(_.dir).toSet
            }
          if (store(spark).putIfAbsent(manifestPath(table, base + 1),
              renderManifest(stamp, next)) || landed)
            committed = base + 1
          else if (derived) minted.foreach { d =>
            val p = new Path(table, d); fs(spark, p).delete(p, true)
          }
      }
    }
    advancePointer(spark, table, committed)
    committed
  }

  /** Commit `df` as the next version. `append = true` carries the commit
    * head's data dirs (and their stats) forward into the new manifest;
    * `false` makes the new data the entire snapshot (atomic overwrite).
    * Appends must match the head snapshot's schema (names + types) — a
    * drifted append fails HERE, at the write that caused it, instead of
    * poisoning arbitrary later reads with footer-sampling surprises.
    *
    * `statsCols` columns get min/max recorded in the manifest for
    * [[readRange]] pruning.
    *
    * `allowEvolution = true` permits Iceberg-style additive schema
    * evolution on append: the new commit may ADD columns (earlier
    * commits read them as null) or OMIT existing ones (the new rows read
    * null there) — but a column present on both sides must keep its
    * type, enforced HERE so type drift fails at the write that caused it,
    * not at some later read's parquet merge error. The default stays
    * strict: an accidental shape change is usually a bug, not evolution.
    *
    * Safe under concurrent writers: the data dir is written once, then
    * the manifest CAS loop retries against whatever head wins each race —
    * every committer's data lands in some version, in CAS order. An
    * APPEND retry carries the race winner's data forward; an OVERWRITE
    * retry is last-writer-wins by design (its content does not derive
    * from the snapshot it replaces — racing commits serialize in CAS
    * order, exactly as if they had run back-to-back). A compaction,
    * whose content DOES derive from the snapshot, must not blind-retry:
    * [[compactCommit]] pins its base and recomputes on a lost race.
    */
  def commit(df: DataFrame, table: String, append: Boolean,
      statsCols: Seq[String] = Nil, allowEvolution: Boolean = false): Long = {
    val spark = df.sparkSession
    val entry = writeEntry(df, table, statsCols)
    publish(spark, table) { (base, entries) =>
      if (append && base > 0)
        checkAppendSchema(spark, table, entries, df, allowEvolution)
      Publish((if (append) entries else Nil) :+ entry, Seq(entry.dir))
    }
  }

  /** `ALTER TABLE ADD COLUMNS` — the ONE safe DDL mutation, expressed as
    * the commit form it maps onto: an empty APPEND whose parquet footer
    * carries the extended schema. Union-schema snapshot resolution then
    * reports the new columns table-wide, existing commits null-fill them
    * on read (the additive-evolution contract [[commit]] already
    * enforces for data appends), and the next INSERT aligns against the
    * extended snapshot schema. Columns must be nullable (a non-null
    * column over null-filled history would be a lie) and new
    * (case-insensitively). Destructive alters — drop / rename / type
    * change — have no safe commit form and stay refused at the catalog.
    */
  def addColumnsCommit(spark: SparkSession, table: String,
      newFields: Seq[StructField]): Long = {
    require(newFields.nonEmpty, "manifest-table: ADD COLUMNS needs columns")
    val head = currentVersion(spark, table)
    require(head > 0, s"manifest-table: $table has no committed version")
    val schema = snapshotSchemaOf(spark, table, head)
    newFields.foreach { f =>
      require(f.nullable,
        s"manifest-table: ADD COLUMNS ${f.name} must be nullable - " +
          "existing commits null-fill it on read")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"manifest-table: column ${f.name} already exists")
    }
    val extended = StructType(schema.fields ++ newFields)
    commit(emptyFrame(spark, extended), table, append = true,
      statsCols = headStatsCols(spark, table), allowEvolution = true)
  }

  private def checkAppendSchema(spark: SparkSession, table: String,
      entries: Seq[Entry], df: DataFrame, allowEvolution: Boolean): Unit = {
    // the per-dir cached union schema, not read(...).schema: planning the
    // full snapshot with mergeSchema costs a footer read per FILE over
    // ALL dirs, and this check runs on EVERY append attempt (and again
    // per CAS-race retry). Field ORDER of the union is first-seen (not
    // mergeSchema's), so the shape compare is by name+type SET: column
    // order never matters to reads anyway ([[sliceRead]] reads by name
    // and null-fills).
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSet
    val current = snapshotSchema(spark, table, entries.map(_.dir))
    if (allowEvolution) {
      val cur = current.fields.map(f => f.name -> f.dataType).toMap
      df.schema.fields.foreach(f => cur.get(f.name).foreach(t =>
        require(t == f.dataType,
          s"manifest-table: column ${f.name} type drift " +
            s"(${t.simpleString} -> ${f.dataType.simpleString}) - " +
            "evolution is additive, not mutating")))
    } else
      require(shape(df.schema) == shape(current),
        s"manifest-table: append schema ${df.schema.simpleString} does not " +
          s"match the snapshot's ${current.simpleString} " +
          "(allowEvolution = true for additive evolution)")
  }

  /** Idempotent append commit for exactly-once pipelines: `token` names
    * the logical batch (e.g. a streaming micro-batch id), and the commit
    * is a no-op if a commit carrying that token is already in the head
    * snapshot. The token IS the data-dir name, so the check needs no side
    * ledger — the atomic manifest CAS that publishes the commit is the
    * same operation that makes the token visible, leaving no window where
    * a batch is committed but its token unseen (the two-step
    * commit-then-mark problem this replaces).
    *
    * A replay after a crash BEFORE the CAS finds unreferenced data in the
    * token's dir — invisible garbage by the table contract — and safely
    * overwrites it. A replay after the CAS sees the token and no-ops.
    * This is the foreachBatch exactly-once contract: replayed micro-batch
    * ids never double-append.
    *
    * Caveat: tokens live in manifest entries, so they are only consulted
    * while their commit's dir remains in the snapshot. [[compactCommit]]
    * rewrites dirs and forgets tokens — schedule compaction from the same
    * single-writer scheduler as the ingest (or outside its crash-replay
    * window), the standard table-format arrangement.
    *
    * Contract: ONE committer per token at a time (concurrent committers
    * of DIFFERENT tokens are fine — the CAS loop serializes them like
    * [[commit]]). Two simultaneous writers of the same token would race
    * on the token's data dir; sequential replay — the streaming
    * foreachBatch shape this exists for — never does that.
    */
  def commitIdempotent(df: DataFrame, table: String, token: String,
      statsCols: Seq[String] = Nil, allowEvolution: Boolean = false): Long = {
    require(token.nonEmpty && token.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"manifest-table: token '$token' must be [A-Za-z0-9_-]+")
    val dirName = s"data/t-$token"
    var entry: Option[Entry] = None // written on the first attempt that needs it
    publish(df.sparkSession, table) { (base, entries) =>
      // the token in the head: a replay, or a concurrent committer of
      // this token won — either way the batch is in
      if (entries.exists(_.dir == dirName)) Settled(base)
      else {
        // any bytes already in the dir are a crashed attempt's invisible
        // garbage (no manifest references them) - overwrite is safe
        if (entry.isEmpty)
          entry = Some(writeEntry(df, table, statsCols, dirName, "overwrite"))
        if (base > 0)
          checkAppendSchema(df.sparkSession, table, entries, df, allowEvolution)
        Publish(entries ++ entry, Seq(dirName))
      }
    }
  }

  /** Monotonic `_latest` advance: never regress the hint. Two racing
    * advancers can interleave read/write (A reads 1, B writes 3, A writes
    * 2 — a regression B's own re-check cannot see), so after the write
    * loop each advancer re-reads the manifest HEAD and heals the hint up
    * to it. Any residual interleaving leaves the hint at a lower LIVE
    * version only until the next commit/advance heals it — reads stay
    * correct (every manifest is complete), at worst briefly stale. A
    * write the store reports as landed ends its loop without a re-read:
    * a regression is healed by the writer that CAUSED it, whose head
    * listing comes after its own stale write (and so sees the newer
    * manifest).
    */
  private def advancePointer(spark: SparkSession, table: String, target: Long): Unit = {
    val ptr = new Path(table, "_latest")
    var guard = 0
    while (guard < 5 && hintVersion(spark, table) < target &&
        !writeFile(spark, ptr, target.toString))
      guard += 1
    // heal up to the head with the same bounded persistence as the main
    // loop: a single attempt can lose an OVERWRITE race to a slower
    // lower-version writer and leave the hint stale until the NEXT
    // advance (still correct, just stale longer than necessary)
    val head = highestManifest(spark, table)
    var heal = 0
    while (head > target && heal < 5 && hintVersion(spark, table) < head &&
        !writeFile(spark, ptr, head.toString))
      heal += 1
  }

  /** Read a snapshot: the current one, or a pinned `version` for
    * time-travel / long-running-job consistency.
    */
  def read(spark: SparkSession, table: String, version: Long = 0L): DataFrame = {
    val paths = dataDirs(spark, table, snapshotVersion(spark, table, version))
      .map(d => new Path(table, d).toString)
    // mergeSchema: evolved snapshots read as the union of their commits'
    // schemas (missing columns null-fill); identical-schema tables read
    // unchanged. Cost is a footer read per file at planning - compact
    // when file counts grow.
    spark.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  /** The data dirs of a snapshot whose recorded stats can hold `column`
    * in [lo, hi] — [[readWhere]]'s pruning of one range, plus any dir with
    * no stats for the column (absent stats never prune). Bounds are
    * [[ColStats.bound]]'s caller strings.
    */
  private[graft] def prunedDataDirs(spark: SparkSession, table: String,
      column: String, lo: String, hi: String, version: Long = 0L): Seq[String] =
    manifestEntries(spark, table, snapshotVersion(spark, table, version))
      .filter(ColStats.inRanges(Seq((column, lo, hi)))).map(_.dir)

  /** Range-scoped snapshot read: scans only the commits whose recorded
    * stats can contain `column ∈ [lo, hi]`. The caller still applies its
    * row-level filter — this prunes I/O, it does not filter rows.
    */
  def readRange(spark: SparkSession, table: String, column: String,
      lo: String, hi: String, version: Long = 0L): DataFrame =
    readWhere(spark, table, Seq((column, lo, hi)), version)

  /** Multi-predicate pruned read: a commit survives only if EVERY
    * (column, lo, hi) range can match its recorded stats — conjunctive
    * pruning, so each extra predicate can only shrink the scan (e.g. a
    * time window AND a key range on a table committed by day). A bound
    * that does not parse in the tag a commit recorded throws
    * ([[ColStats.bound]]).
    */
  def readWhere(spark: SparkSession, table: String,
      ranges: Seq[(String, String, String)], version: Long = 0L): DataFrame = {
    require(ranges.nonEmpty, "readWhere needs at least one (column, lo, hi)")
    readEntries(spark, table, version)(ColStats.inRanges(ranges))
  }

  /** The commits of ONE snapshot (`version`, default the current one)
    * that `keep` accepts, read from one manifest read. The result always
    * carries the FULL snapshot schema: on an evolved table, a column
    * living only in pruned-out commits null-fills rather than
    * disappearing — otherwise the schema would depend on which commits a
    * predicate happens to keep.
    */
  private[graft] def readEntries(spark: SparkSession, table: String,
      version: Long = 0L)(keep: Entry => Boolean): DataFrame = {
    val entries = manifestEntries(spark, table, snapshotVersion(spark, table, version))
    sliceRead(spark, table, entries.filter(keep).map(_.dir).sorted,
      snapshotSchema(spark, table, entries.map(_.dir)))
  }

  /** `version`, or the current one when 0; a table with no committed
    * version refuses.
    */
  private def snapshotVersion(spark: SparkSession, table: String, version: Long): Long = {
    val v = if (version > 0) version else currentVersion(spark, table)
    require(v > 0, s"manifest-table: $table has no committed version")
    v
  }

  /** Whether `version`'s manifest is still present (committed and not
    * vacuumed) — the [[GraftCatalog]] time-travel existence probe.
    */
  private[graft] def versionExists(spark: SparkSession, table: String,
      version: Long): Boolean =
    version > 0 && store(spark).exists(manifestPath(table, version))

  /** A snapshot's full union schema — the [[GraftDataSource]] (DSv2 SQL
    * surface) entry point into the per-dir schema cache.
    */
  private[graft] def snapshotSchemaOf(spark: SparkSession, table: String,
      version: Long): StructType =
    snapshotSchema(spark, table, dataDirs(spark, table, version))

  /** Dir-subset snapshot read with the full-schema null-fill contract —
    * the [[GraftDataSource]] scan's entry point into [[sliceRead]].
    */
  private[graft] def sliceReadAs(spark: SparkSession, table: String,
      dirs: Seq[String], fullSchema: StructType): DataFrame =
    sliceRead(spark, table, dirs, fullSchema)

  // qualified data-dir path -> the schema of its files. A data dir is ONE
  // write and its files never change, so its schema is a fact about the
  // dir: [[writeEntry]] records it as it writes (a re-written token dir —
  // a table deleted and re-created at the same path, a crashed attempt's
  // garbage overwritten — replaces its entry there), and a dir nobody
  // wrote in this JVM costs one footer read, once. Every snapshot schema
  // — each append's schema check, each pruned read, each merge — is then
  // a union of cached entries, never a job. A dir re-written by ANOTHER
  // JVM under the same name keeps its old entry here until the bound
  // below clears the cache. Bounded by wholesale clear: entries are
  // small and only ever an I/O saving.
  private val dirSchemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private val MaxCachedDirs = 16384

  private def dirKey(spark: SparkSession, dir: Path): String =
    fs(spark, dir).makeQualified(dir).toString

  /** The snapshot's union schema over `dirs`, first-seen field order:
    * one cached schema per data dir (see [[dirSchemas]]) — each dir is a
    * single `df.write`, so all its files share one. This is what every
    * protocol step uses instead of planning the full snapshot with
    * mergeSchema (a footer read per FILE over ALL dirs, the exact cost
    * manifest-level skipping exists to avoid).
    */
  private def snapshotSchema(spark: SparkSession, table: String,
      dirs: Seq[String]): StructType = {
    if (dirSchemas.size > MaxCachedDirs) dirSchemas.clear()
    var seen = Set.empty[String]
    val fields = Seq.newBuilder[StructField]
    dirs.foreach { d =>
      val p = new Path(table, d)
      dirSchemas.computeIfAbsent(dirKey(spark, p), _ => footerSchema(spark, p))
        .fields.foreach { fld => if (!seen(fld.name)) { seen += fld.name; fields += fld } }
    }
    StructType(fields.result())
  }

  /** One data dir's schema from the footer of its first parquet file. */
  private def footerSchema(spark: SparkSession, p: Path): StructType =
    // per-DIR FileSystem, not the table root's: a shallow clone's entries
    // are qualified absolute dirs that may live on a different filesystem
    // than the clone root (s3a source, hdfs clone) — the root-bound fs
    // would throw "Wrong FS" on them
    fs(spark, p).listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).headOption
      .fold(new StructType())(st => spark.read.parquet(st.getPath.toString).schema)

  /** Read a subset of a snapshot's data dirs while keeping the FULL
    * snapshot schema — the shared slice contract of [[readWhere]] and
    * [[readAppendedSince]]. The scan is planned with the known union
    * schema, so it reads no footer to plan, and the parquet reader
    * null-fills the columns that live only in unselected commits.
    */
  private def sliceRead(spark: SparkSession, table: String,
      dirs: Seq[String], fullSchema: StructType): DataFrame =
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema)
    else spark.read.schema(fullSchema).parquet(dirs.map(d => new Path(table, d).toString): _*)

  /** Incremental consumption: the rows ADDED to the table after
    * `fromVersion`, i.e. the union of data dirs present in `toVersion`
    * (default: current) but not in `fromVersion` — append commits carry
    * earlier dirs forward, so the set difference is exactly the appended
    * data. `fromVersion = 0` reads the whole snapshot (a bootstrapping
    * consumer). This is how a downstream job tails the table without
    * reprocessing: persist the version it consumed through (e.g. as a
    * `BatchRunner` ledger entry), pass it back as `fromVersion` next
    * run, and each commit's rows are processed exactly once.
    *
    * Fails loudly on a non-append boundary: if `fromVersion` has dirs
    * the target no longer carries (an overwrite or compaction happened
    * in between), "rows since" is not well-defined dir-wise — the
    * consumer must re-bootstrap from the new snapshot, and silently
    * returning the rewritten dirs would double-process everything it
    * had already seen. Schedule compaction at a cadence consumers can
    * keep up with, or pin consumers to pre-compaction versions until
    * they drain (the standard table-format CDC contract).
    */
  def readAppendedSince(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long = 0L): DataFrame = {
    // resolve the default bound from the manifest HEAD, not the pointer
    // hint: a consumer that persisted fromVersion from a just-returned
    // commit can transiently see a stale hint < fromVersion and fail the
    // range check below even though the table is fine
    val to = if (toVersion > 0) toVersion
      else math.max(hintVersion(spark, table), highestManifest(spark, table))
    val (toEntries, fresh) = appendedEntries(spark, table, fromVersion, to)
    sliceRead(spark, table, fresh.map(_.dir).sorted,
      snapshotSchema(spark, table, toEntries.map(_.dir)))
  }

  /** The `to` snapshot's full entry list PLUS the entries ADDED after
    * `fromVersion` — the dir-set difference with [[readAppendedSince]]'s
    * non-append-boundary refusal (shared with the `sinceVersion`
    * SQL-surface option, which prunes the fresh entries' stats like any
    * other scan). Returns both so callers that also need the snapshot's
    * dirs (the schema-cache key) don't re-read the manifest.
    */
  private[graft] def appendedEntries(spark: SparkSession, table: String,
      fromVersion: Long, to: Long): (Seq[Entry], Seq[Entry]) = {
    require(to > 0, s"manifest-table: $table has no committed version")
    require(fromVersion >= 0 && fromVersion <= to,
      s"manifest-table: fromVersion $fromVersion out of range (head $to)")
    val toEntries = manifestEntries(spark, table, to)
    val fromDirs = if (fromVersion == 0) Set.empty[String]
      else manifestEntries(spark, table, fromVersion).map(_.dir).toSet
    val dropped = fromDirs -- toEntries.map(_.dir).toSet
    require(dropped.isEmpty,
      s"manifest-table: versions $fromVersion -> $to are not append-only " +
        s"(${dropped.size} dirs rewritten by an overwrite/compaction) - " +
        "re-bootstrap the consumer from the current snapshot")
    (toEntries, toEntries.filterNot(e => fromDirs(e.dir)))
  }

  /** The dir-level footprint of a version diff: (from-only, to-only,
    * shared). Spec hook for the pruning claim below. */
  private[graft] def diffDirs(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): (Seq[String], Seq[String], Seq[String]) = {
    val fromDirs = manifestEntries(spark, table, fromVersion).map(_.dir)
    val toDirs = manifestEntries(spark, table, toVersion).map(_.dir)
    val shared = fromDirs.toSet intersect toDirs.toSet
    (fromDirs.filterNot(shared).sorted, toDirs.filterNot(shared).sorted,
      shared.toSeq.sorted)
  }

  /** Snapshot diff — "what changed between Tuesday's corpus and
    * Wednesday's": every key classified added / removed / changed between
    * two retained versions, with both sides' non-key values as JSON.
    *
    * The scan is COMMIT-PRUNED: under the unique-key-per-snapshot
    * contract (the same contract [[mergeCommit]]'s carry-by-reference
    * rests on), a commit retained by BOTH versions contributes identical
    * rows to both sides and cannot produce a difference — so only the
    * dirs the versions do NOT share are read. A merge that rewrote one
    * commit diffs by scanning that commit's before/after, never the
    * table; a compaction that rewrote rows byte-identically classifies
    * as no change (equal values cancel in the final filter).
    */
  def snapshotDiff(spark: SparkSession, table: String, keyCols: Seq[String],
      fromVersion: Long, toVersion: Long = 0L): DataFrame = {
    require(keyCols.nonEmpty, "manifest-table: diff needs at least one key column")
    val to = if (toVersion > 0) toVersion
      else math.max(hintVersion(spark, table), highestManifest(spark, table))
    require(fromVersion > 0 && fromVersion <= to,
      s"manifest-table: diff range $fromVersion -> $to invalid")
    // one manifest read per version: the all-dirs lists and the
    // shared-dir split derive from the same two entry lists
    val fromAll = manifestEntries(spark, table, fromVersion).map(_.dir)
    val toAll = manifestEntries(spark, table, to).map(_.dir)
    val shared = fromAll.toSet intersect toAll.toSet
    val fromOnly = fromAll.filterNot(shared).sorted
    val toOnly = toAll.filterNot(shared).sorted
    def side(dirs: Seq[String], v: Long, all: Seq[String], as: String) = {
      val schema = snapshotSchema(spark, table, all)
      val df = if (dirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else sliceReadAs(spark, table, dirs, schema)
      keyCols.foreach(k => require(df.columns.contains(k),
        s"manifest-table: diff key $k absent from version $v's schema"))
      val nonKey = df.columns.filterNot(keyCols.contains).sorted
      df.select(keyCols.map(colExact) :+
        to_json(struct(nonKey.map(colExact): _*)).as(as): _*)
    }
    // Null keys carry no row identity: [[mergeCommit]]'s contract lets
    // null-key target rows SURVIVE rewrites, so a rewritten dir can
    // legally hold them — and the equality join below would then
    // re-classify an unchanged null-key row as added + removed (null
    // never equals null). A null-safe join is no fix either: several
    // null-key rows per side would match many-to-many and could cancel
    // a real removal silently. So refuse LOUDLY, and only when it
    // matters — the check scans just the commit-pruned diff slices, so
    // null-key rows resting in shared (untouched) dirs never trip it.
    val lhs = side(fromOnly, fromVersion, fromAll, "from_values")
    val rhs = side(toOnly, to, toAll, "to_values")
    val nullKey = keyCols.map(colExact(_).isNull).reduce(_ || _)
    require(lhs.filter(nullKey).isEmpty && rhs.filter(nullKey).isEmpty,
      s"manifest-table: rows with null ${keyCols.mkString("/")} in the " +
        s"diffed commits of $table - null keys have no row identity to " +
        "diff on; use key columns that are non-null across both versions")
    lhs.join(rhs, keyCols, "full_outer")
      .withColumn("change",
        when(col("from_values").isNull, "added")
          .when(col("to_values").isNull, "removed")
          .when(col("from_values") =!= col("to_values"), "changed"))
      .filter(col("change").isNotNull)
  }

  /** The table's version history, oldest first — what makes `VERSION AS
    * OF` discoverable: one row per RETAINED manifest (vacuumed versions
    * simply don't appear), with the commit's wall-clock landing time
    * (the manifest file's mtime — INFORMATIONAL, which is exactly why
    * `TIMESTAMP AS OF` stays refused while history happily reports it),
    * the snapshot's dir count, and the dirs added/removed vs the
    * previous retained version (an append adds 1/removes 0; an
    * overwrite or compaction removes many).
    */
  private[graft] def historyRows(spark: SparkSession, table: String)
      : Seq[(Long, Long, Int, Int, Int)] = {
    val manifests = store(spark).listFiles(new Path(table, "_manifests"))
      .flatMap { case (n, mtime) =>
        if (n.startsWith("m-") && n.endsWith(".txt"))
          n.stripPrefix("m-").stripSuffix(".txt").toLongOption
            .map(v => v -> mtime)
        else None
      }.sortBy(_._1)
    var prev = Set.empty[String]
    manifests.map { case (v, mtimeMs) =>
      // ONE store read per version: dirs and the commit stamp parse from
      // the same content (2N GETs would double protocol I/O on an
      // object-store history call for nothing)
      val (stamp, entries) = parseManifest(readFile(spark, manifestPath(table, v)))
      val dirs = entries.map(_.dir).toSet
      // epoch MILLIS: the stamped in-manifest commit time when present
      // (r10+, what TIMESTAMP AS OF resolves on), file mtime for legacy
      // manifests (informational only)
      val ts = stamp.getOrElse(mtimeMs)
      val row = (v, ts, dirs.size,
        dirs.diff(prev).size, prev.diff(dirs).size)
      prev = dirs
      row
    }
  }

  /** Per-commit decision for [[cowRewriteCommit]]: carry the entry
    * forward untouched, drop it from the snapshot (metadata-only — its
    * stats prove no row survives), or fold it into the copy-on-write
    * slice whose rows the caller's transform rewrites.
    */
  private[graft] sealed trait CowAction
  private[graft] case object CowKeep extends CowAction
  private[graft] case object CowDrop extends CowAction
  private[graft] case object CowRewrite extends CowAction

  /** Stats-pruned partial COPY-ON-WRITE commit — the shared primitive
    * under SQL `DELETE` (metadata-only or row-level) and SQL `UPDATE`:
    * each head commit is classified keep / drop / rewrite against the
    * snapshot schema, the rewrite slice is read once (full-snapshot-schema
    * slice read), transformed by `rewrite`, and written as ONE new
    * commit dir; kept entries travel by reference and dropped entries
    * vanish metadata-only (their dirs stay on disk for pinned readers
    * until [[vacuum]]). At 100 TB this is the difference between a
    * point-UPDATE rewriting a handful of key-clustered commits and
    * rewriting the table: the classification runs over manifest stats,
    * so provably-untouched dirs cost zero bytes of IO.
    *
    * Concurrency is [[compactCommit]]'s pinned-CAS contract: the new
    * content derives from the snapshot it read, so classification and
    * rewrite re-run per attempt against the new head (and `classify` may
    * throw if the new head no longer supports the rewrite), and a lost
    * race deletes the stale attempt's dir. A pure drop that empties the
    * whole snapshot publishes the [[emptyAnchor]] instead, written once
    * and reused across retries. A classification with nothing to drop
    * or rewrite is a no-op returning the current version (no empty
    * commit spam). New-dir stats default to the head's recorded stats
    * columns so pruning survives by inheritance (the [[mergeCommit]]
    * rule).
    */
  private[graft] def cowRewriteCommit(spark: SparkSession, table: String,
      classify: (StructType, Entry) => CowAction,
      rewrite: DataFrame => DataFrame,
      statsCols: Seq[String] = Nil): Long = {
    var anchor: Option[Entry] = None
    publish(spark, table) { (v, entries) =>
      require(v > 0, s"manifest-table: $table has no committed version")
      val schema = snapshotSchema(spark, table, entries.map(_.dir))
      val decided = entries.map(e => e -> classify(schema, e))
      val kept = decided.collect { case (e, CowKeep) => e }
      val toRewrite = decided.collect { case (e, CowRewrite) => e }
      if (toRewrite.nonEmpty) {
        val entry = writeEntry(
          rewrite(sliceRead(spark, table, toRewrite.map(_.dir).sorted, schema)),
          table, if (statsCols.nonEmpty) statsCols else statsColsOf(entries))
        Publish(kept :+ entry, Seq(entry.dir), derived = true)
      } else if (kept.size == entries.size) Settled(v) // no-op
      else if (kept.nonEmpty) Publish(kept)
      else {
        if (anchor.isEmpty) anchor = Some(emptyAnchor(spark, table, schema))
        Publish(anchor.toSeq, anchor.map(_.dir).toSeq)
      }
    }
  }

  /** Stats-pruned copy-on-write UPSERT — the merge that scales: rewrite
    * ONLY the commits whose recorded key ranges can contain an update
    * key, keep every provably-disjoint commit untouched. [[graft
    * .operators.Lifecycle.cdcApply]] answers "apply this delta" by
    * producing a full new snapshot; at 100 TB the right question is
    * "which of the table's thousands of commits can this delta even
    * touch" — against key- or time-clustered commits (ingest order, or
    * [[compactClustered]]) a small hot-key delta rewrites a handful of
    * dirs and the manifest carries the rest forward by reference.
    *
    * Semantics: rows of `updates` REPLACE target rows with equal
    * `keyCols` (matched exactly by anti-join inside the affected dirs —
    * range overlap only decides which dirs to read); unmatched update
    * rows insert. `updates` must be key-unique with non-null keys (the
    * SQL MERGE multiple-match rule, enforced), and match the snapshot
    * schema. Target rows with null keys never match and survive. An
    * empty `updates` is a no-op returning the current version.
    *
    * Concurrency is [[compactCommit]]'s pinned-CAS contract (the rewrite
    * derives from the snapshot it read; a lost race discards and
    * recomputes). New-dir stats record on `statsCols`, defaulting to the
    * head's recorded stats columns so pruning — including the NEXT
    * merge's — survives by inheritance.
    *
    * `updates` is computed ONCE: it is checkpointed lazily, and the one
    * aggregate action that checks it — row count, largest key
    * multiplicity, key envelope and key null counts — computes and
    * persists it; the anti-join and the write read the blocks, and they
    * are released before returning.
    */
  def mergeCommit(spark: SparkSession, table: String, updates: DataFrame,
      keyCols: Seq[String], statsCols: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "manifest-table: merge needs key columns")
    keyCols.foreach(c => require(updates.columns.contains(c),
      s"manifest-table: key column $c missing from updates"))
    val keyTags = ColStats.tags(updates.schema, keyCols)
    keyCols.foreach(c => require(keyTags.contains(c),
      s"manifest-table: key column $c has no comparable stats type " +
        "(num/str/date/ts) - range pruning cannot bound the rewrite"))
    val u = graft.CacheHygiene.materializeLazy(updates, "merge updates")
    try {
      // one row per distinct key: its multiplicity proves key-uniqueness,
      // and the key envelope over distinct keys is the rows' envelope; a
      // null-key group counts as a null there
      val perKey = u.groupBy(keyCols.map(colExact): _*).agg(count(lit(1)).as("__graft_n"))
      val (check, kstats) = ColStats.envelope(perKey, keyTags,
        Seq(sum("__graft_n").as("__graft_rows"), max("__graft_n").as("__graft_maxn")))
      if (check.isNullAt(0)) // empty updates: a no-op
        return snapshotVersion(spark, table, 0L)
      require(check.getLong(1) == 1L,
        s"manifest-table: updates are not key-unique on ${keyCols.mkString(",")} " +
          "(the SQL MERGE multiple-match rule)")
      keyCols.foreach(c => require(kstats.get(c).exists(_.nulls.contains(0L)),
        s"manifest-table: null keys in updates column $c"))
      val keys = keyCols.map(c => c -> c)

      publish(spark, table) { (v, entries) =>
        if (v == 0) // merge into nothing = create
          Settled(commit(u, table, append = false,
            statsCols = if (statsCols.nonEmpty) statsCols else keyCols))
        else {
          checkAppendSchema(spark, table, entries, u, allowEvolution = false)
          val (affected, untouched) =
            entries.partition(e => ColStats.mayHold(e.stats, kstats, keys))
          val schema = snapshotSchema(spark, table, entries.map(_.dir))
          // snapshot column order, as the anti-join's union gives it
          val inserted = u.select(schema.fieldNames.map(colExact).toIndexedSeq: _*)
          val merged =
            if (affected.isEmpty) inserted // a pure insert reads no target rows
            else {
              // explicit join condition, not usingColumns: a usingColumns
              // join PARSES the names, so a key literally called "a.b"
              // would silently match nothing and duplicate its rows. The
              // update keys are renamed to safe synthetic names so the
              // condition's sides can't collide; null target keys still
              // never match (=== with null is null) — the survive-contract
              // above.
              val uKeys = u.select(keyCols.zipWithIndex.map { case (c, i) =>
                colExact(c).as(s"__graft_mk_$i") }: _*)
              val antiCond = keyCols.zipWithIndex.map { case (c, i) =>
                colExact(c) === uKeys(s"__graft_mk_$i") }.reduce(_ && _)
              sliceRead(spark, table, affected.map(_.dir).sorted, schema)
                .join(uKeys, antiCond, "left_anti").unionByName(inserted)
            }
          val entry = writeEntry(merged, table,
            if (statsCols.nonEmpty) statsCols else statsColsOf(entries))
          Publish(untouched :+ entry, Seq(entry.dir), derived = true)
        }
      }
    } finally graft.CacheHygiene.release(u)
  }

  /** Rewrite the current snapshot into ~targetBytes files and commit the
    * result as a new version — compaction with zero reader-visible
    * downtime (old snapshot stays pinned-readable until vacuumed).
    * `statsCols` re-records stats on the compacted commit.
    *
    * Content-preserving under concurrency, unlike a plain overwrite: the
    * base is the manifest HEAD (not the `_latest` hint, which can lag a
    * crashed publisher — basing on the hint would silently drop the
    * head's commits), and the CAS is PINNED to that base — if any commit
    * wins the race, the stale-derived rewrite is discarded and recomputed
    * from the new head rather than published over it.
    */
  def compactCommit(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Nil): Long =
    publish(spark, table) { (v, entries) =>
      require(v > 0, s"manifest-table: $table has no committed version")
      val nFiles = ParquetSink.targetFileCount(snapshotBytes(spark, table, entries), targetBytes)
      val entry = writeEntry(read(spark, table, v).repartition(nFiles), table, statsCols)
      Publish(Seq(entry), Seq(entry.dir), derived = true)
    }

  /** Bytes under a snapshot's data dirs. Per-dir fs: clone entries may be
    * absolute dirs on a foreign filesystem (compaction on a clone is the
    * documented escape hatch from the source-vacuum hazard, so it MUST
    * work on such entries).
    */
  private def snapshotBytes(spark: SparkSession, table: String,
      entries: Seq[Entry]): Long =
    entries.map { e => val p = new Path(table, e.dir)
      fs(spark, p).getContentSummary(p).getLength }.sum

  /** [[compactCommit]] that PRESERVES pruning: the snapshot is rewritten
    * into `buckets` range-clustered data dirs on `clusterCol` (one
    * distributed `repartitionByRange` pass — sampled range partitioning,
    * no global sort bottleneck — then one partitioned write), and each
    * bucket dir gets its own manifest entry with tight min/max stats.
    * A plain compaction collapses the table into ONE dir, so every
    * [[readRange]] after it degenerates to a full scan — exactly when
    * pruning matters most (compaction is what you run when the table got
    * big). This is the table-format "sort-ordered rewrite": after it, a
    * key- or time-scoped read scans ~1/buckets of the data.
    *
    * File sizing and clustering compose: the rewrite uses
    * max(buckets, totalBytes/targetBytes) range partitions and maps them
    * onto buckets contiguously, so each bucket dir holds ~targetBytes
    * files covering a disjoint slice of the cluster column. Rows with a
    * null cluster value sort into the first bucket (null-first range
    * partitioning); a dir whose column is all-null records no stats and
    * is simply never pruned. Same concurrency contract as
    * [[compactCommit]]: base pinned to the manifest head, lost CAS race
    * discards the stale rewrite and recomputes.
    */
  def compactClustered(spark: SparkSession, table: String, clusterCol: String,
      buckets: Int, targetBytes: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Nil): Long =
    compactRewrite(spark, table, Seq(clusterCol), buckets, targetBytes,
      statsCols, snapshot => col(clusterCol))

  /** Multi-dimensional [[compactClustered]]: the snapshot is rewritten
    * into `buckets` dirs range-clustered on the Morton (bit-interleaved)
    * key of 2–8 NUMERIC columns, and every cluster column's min/max is
    * recorded per dir. Each bucket then covers a compact hypercube-ish
    * cell of the key space, so [[readWhere]] prunes on ANY of the
    * dimensions — a single-column clustering leaves every other
    * dimension's [min,max] spanning the full range in every dir (no
    * pruning), exactly the gap Z-ordering exists to close. The manifest-
    * level analog of [[ParquetSink.writeZOrdered]]'s file-level layout.
    */
  def compactZOrdered(spark: SparkSession, table: String,
      clusterCols: Seq[String], buckets: Int,
      targetBytes: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Nil): Long =
    compactRewrite(spark, table, clusterCols, buckets, targetBytes,
      statsCols, snapshot => ParquetSink.mortonColumn(snapshot, clusterCols))

  // the bucket partition column: deliberately NOT underscore-prefixed so
  // ONE discovery read of the staging dir returns it (Spark's hidden-file
  // filter skips `_...=` partition dirs); files inside never contain it
  // (partitionBy stores it in the path), so renamed data dirs read clean
  private val BucketCol = "graft__bucket"

  private def compactRewrite(spark: SparkSession, table: String,
      clusterCols: Seq[String], buckets: Int, targetBytes: Long,
      statsCols: Seq[String], keyOf: DataFrame => org.apache.spark.sql.Column): Long = {
    require(buckets >= 1, "clustered compaction: buckets must be >= 1")
    val root = new Path(table)
    val f = fs(spark, root)
    val recordCols = (clusterCols ++ statsCols).distinct
    publish(spark, table) { (v, head) =>
      require(v > 0, s"manifest-table: $table has no committed version")
      val snapshot = read(spark, table, v)
      clusterCols.foreach(c => require(snapshot.columns.contains(c),
        s"manifest-table: cluster column $c not in snapshot schema"))
      require(!snapshot.columns.contains(BucketCol),
        s"manifest-table: column name $BucketCol is reserved by compaction")
      // same reservation for the transient range key: withColumn would
      // silently REPLACE a user column of this name and the drop below
      // would erase it from the compacted snapshot
      require(!snapshot.columns.contains("_graft_ck"),
        "manifest-table: column name _graft_ck is reserved by compaction")
      val nFiles = math.max(buckets,
        ParquetSink.targetFileCount(snapshotBytes(spark, table, head), targetBytes))
      // range partitions are ordered, so a contiguous pid->bucket map keeps
      // each bucket's slice of the cluster key disjoint
      val staging = new Path(root, s"data/.compact-${UUID.randomUUID().toString.take(8)}")
      snapshot.withColumn("_graft_ck", keyOf(snapshot))
        .repartitionByRange(nFiles, col("_graft_ck"))
        .sortWithinPartitions("_graft_ck") // file/row-group stats tighten too
        .drop("_graft_ck")
        .withColumn(BucketCol,
          org.apache.spark.sql.functions.expr(
            s"cast((cast(spark_partition_id() as bigint) * $buckets) div $nFiles as int)"))
        .write.partitionBy(BucketCol).parquet(staging.toString)
      val bucketDirs = f.listStatus(staging).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$BucketCol="))
        .sortBy(_.getPath.getName)
      // ALL buckets' stats in one grouped job over the staged output — a
      // per-dir agg would serialize `buckets` small driver-planned jobs.
      // Guarded on bucketDirs: an empty snapshot stages no partition dirs
      // and a discovery read of the bare _SUCCESS would fail schema
      // inference before the empty-table fallback below could run.
      val tags = ColStats.tags(snapshot.schema, recordCols)
      val bucketStats: Map[Int, Map[String, ColStat]] =
        if (tags.isEmpty || bucketDirs.isEmpty) Map.empty
        else {
          val staged = spark.read.parquet(staging.toString)
          val aggs = ColStats.aggs(tags)
          staged.groupBy(col(BucketCol)).agg(aggs.head, aggs.tail: _*)
            .collect()
            .map(r => r.getAs[Number](BucketCol).intValue() -> ColStats.decode(tags, r))
            .toMap
        }
      val entries =
        if (bucketDirs.nonEmpty) bucketDirs.map { st =>
          val bucket = st.getPath.getName.stripPrefix(s"$BucketCol=").toInt
          val dirName = newDataDirName()
          // a silently-failed move would publish a manifest entry pointing
          // at a missing dir, breaking every read of the new version —
          // abort the compaction instead (no CAS happened yet, table intact)
          require(f.rename(st.getPath, new Path(root, dirName)),
            s"manifest-table: compaction could not move staged bucket " +
              s"${st.getPath} to $dirName - aborting before publish")
          Entry(dirName, bucketStats.getOrElse(bucket, Map.empty))
        } else // empty snapshot: keep the version readable (schema-only dir)
          Seq(emptyAnchor(spark, table, snapshot.schema))
      f.delete(staging, true) // _SUCCESS and empty shell
      Publish(entries, entries.map(_.dir), derived = true)
    }
  }

  /** SHALLOW CLONE (r15) — the zero-copy fork every lakehouse ships
    * (Delta `CLONE` semantics): `target` is created with ONE commit
    * whose entries reference the source snapshot's data dirs by
    * QUALIFIED ABSOLUTE path — no data bytes move; the cost is one
    * manifest write however many TB the source holds. Stats ride along,
    * so pruning works on the clone from commit one. The clone evolves
    * independently: its own commits land under its own `data/`, and its
    * [[vacuum]] only ever deletes there (foreign absolute dirs are
    * outside vacuum's local listing by construction — resolution keeps
    * absolute entry dirs absolute, Path(parent, child) semantics).
    * The standard shallow-clone hazard is documented, not hidden:
    * VACUUM or overwrite+vacuum on the SOURCE can delete dirs the clone
    * still references — [[compactCommit]] on the clone deep-copies and
    * cuts the dependency.
    */
  def cloneShallow(spark: SparkSession, source: String, target: String,
      version: Long = 0L): Long = {
    val v = snapshotVersion(spark, source, version)
    require(versionExists(spark, source, v),
      s"manifest-table: clone source version $v of $source is not retained")
    val srcRoot = { val p = new Path(source); fs(spark, p).makeQualified(p) }
    val abs = manifestEntries(spark, source, v)
      .map(e => e.copy(dir = new Path(srcRoot, e.dir).toString))
    // single-shot: a lost creation CAS not adopted as ours (an identical
    // concurrent clone of the same source version is equivalent by
    // content) means the target genuinely exists, and the retry refuses
    publish(spark, target) { (base, _) =>
      require(base == 0, s"manifest-table: clone target $target already exists")
      Publish(abs)
    }
  }

  /** RESTORE (r15) — rollback as a COMMIT (Delta `RESTORE` semantics):
    * publishes head+1 whose entries are exactly `toVersion`'s. History
    * is preserved — the rolled-back commits stay addressable for
    * forensics and time travel — and incremental consumers hit
    * [[readAppendedSince]]'s loud non-append boundary instead of
    * silently double-reading rows they already consumed. Requires the
    * target version still retained (not vacuumed); its data dirs are
    * then live by the vacuum invariant, and publishing them at the head
    * re-pins them against future vacuums.
    */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    require(toVersion > 0 && versionExists(spark, table, toVersion),
      s"manifest-table: version $toVersion of $table is not retained")
    val entries = manifestEntries(spark, table, toVersion)
    // the restored SNAPSHOT is what's pinned, whatever version number it
    // lands as
    publish(spark, table) { (_, _) =>
      // re-validate PER ATTEMPT: a concurrent commit plus an aggressive
      // vacuum can retire toVersion (and delete its now-unreferenced
      // dirs) between our entry read and a late CAS win — publishing the
      // stale entry list would pin a head full of deleted dirs. The
      // check shrinks the window to one CAS round-trip; closing it fully
      // needs what every table format needs here: don't run vacuum with
      // keepVersions below the restore horizon you intend to use.
      require(versionExists(spark, table, toVersion),
        s"manifest-table: version $toVersion of $table was vacuumed " +
          "mid-restore - aborting before publishing dangling dirs")
      Publish(entries)
    }
  }

  /** Delete data dirs no version ≥ (current - keepVersions + 1) references,
    * superseded manifests, and crashed-publish temp files. Run once
    * readers of old snapshots are done — the same retention contract as
    * any table format. Manifests a stricter earlier vacuum already
    * removed are skipped, and deletions are driven by a directory
    * listing, so a vacuum's cost tracks actual garbage, not the
    * table's age.
    *
    * Safe alongside an IN-FLIGHT commit: manifests numbered past the
    * current pointer are treated as live (a writer mid-publish), and
    * unmanifested data dirs / temp files are only reclaimed once older
    * than `graceMs` — a data dir younger than that may simply not have
    * its manifest yet (the Delta/Iceberg retention pattern). Keep
    * graceMs comfortably above the longest commit's write time.
    */
  def vacuum(spark: SparkSession, table: String, keepVersions: Int = 1,
      graceMs: Long = 60L * 60 * 1000): Unit = {
    require(keepVersions >= 1)
    val v = currentVersion(spark, table)
    if (v == 0) return
    val keepFrom = math.max(1L, v - keepVersions + 1)
    val root = new Path(table)
    val f = fs(spark, root)
    val st = store(spark)
    val cutoff = System.currentTimeMillis() - graceMs
    val manifestRoot = new Path(root, "_manifests")
    // protocol files (manifests, temps) live in the commit store; data
    // dirs are plain parquet on the filesystem — same split as commit
    val manifestFiles = st.listFiles(manifestRoot)
    val manifestVers: Seq[Long] = manifestFiles.flatMap { case (n, _) =>
      Option(n).filter(x => x.startsWith("m-") && x.endsWith(".txt"))
        .flatMap(_.stripPrefix("m-").stripSuffix(".txt").toLongOption)
    }
    // live = everything the retained versions reference PLUS anything an
    // in-flight (not-yet-pointed) manifest references
    val live = manifestVers.filter(_ >= keepFrom)
      .flatMap(dataDirs(spark, table, _)).toSet
    val dataRoot = new Path(root, "data")
    if (f.exists(dataRoot))
      f.listStatus(dataRoot)
        .filter(s => !live.contains(s"data/${s.getPath.getName}"))
        .filter(_.getModificationTime <= cutoff)
        .foreach(s => f.delete(s.getPath, true))
    manifestFiles.foreach { case (name, mtime) =>
      val superseded = name.startsWith("m-") &&
        name.stripPrefix("m-").stripSuffix(".txt").toLongOption.exists(_ < keepFrom)
      val staleTmp = name.contains(".tmp-") && mtime <= cutoff
      if (superseded || staleTmp) st.delete(new Path(manifestRoot, name))
    }
    // crashed _latest publishes leave temps in the table root
    st.listFiles(root)
      .filter { case (name, mtime) => name.contains(".tmp-") && mtime <= cutoff }
      .foreach { case (name, _) => st.delete(new Path(root, name)) }
  }
}
