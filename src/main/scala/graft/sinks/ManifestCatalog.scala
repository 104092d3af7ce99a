package graft.sinks

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.control.NonFatal

import graft.registry.ColumnDef
import org.apache.spark.sql.{DataFrame, ManifestFileIndex, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** Commit-log (manifest) table format. It closes the two crash windows
  * a plain parquet-directory layout (one directory per table, files
  * visible once written) has:
  *
  *  1. an append publishes its files THEN writes the batch marker — a
  *     crash between the last file and the marker replays the batch
  *     into duplicates;
  *  2. a compaction swaps directories with two renames — a reader (or
  *     crash) inside the swap sees a missing table.
  *
  * Here data files are INVISIBLE until a manifest version commits, and a
  * commit is ONE atomic same-directory rename of a version file into
  * `_manifest/` covering every table the batch touched plus the batch id
  * — so "rows visible" and "batch committed" cannot diverge, closing
  * window 1. Compaction commits a version that precisely REMOVES the
  * files it consumed and ADDS the compacted ones (concurrent appends
  * survive the fold) while old files stay on disk for in-flight readers
  * (reclaimed later by [[vacuum]]), closing window 2.
  *
  * Log format (Delta-style delta log): `_manifest/v<20-digit>.json`,
  * each version holding only the delta — `add` (files appended per
  * table), `removed` (files a compaction consumed) and an optional
  * `batchId` — plus a `schemas` section recording the table's schema
  * (base64 StructType JSON) whenever an append changes it. Readers fold
  * the log into per-table file lists + latest schemas, pin reads to the
  * recorded schema (no footer scans), and therefore support ADD-COLUMN
  * evolution without rewriting old files (they surface NULL for later
  * columns; time travel reads each version under the schema recorded AT
  * that version). [[createTable]] records a routed table's schema, so routed
  * tables read pinned too; only a table written before DDL recorded
  * schemas reads in the schema its footers infer.
  *
  * Reads plan from the log alone: the files a version lists become a
  * [[org.apache.spark.sql.ManifestFileIndex]], one driver-side stat per
  * file, with no directory listing, glob or listing job.
  *
  * Every part file is written by [[PartWriter]] straight into its table
  * directory under a name no other write uses, and is invisible until a
  * commit lists it: a failed write leaves only unlisted files, which
  * [[vacuum]] reclaims.
  *
  * **Concurrency**: commits use optimistic concurrency — the version
  * file is PUBLISHED via hard link (atomic fail-on-exists across
  * processes), a lost race refreshes from disk and retries blind
  * appends, aborts conflicting rewrites, and deduplicates replayed
  * batch ids (see [[commitVersion]]). Multiple writer processes —
  * several streaming pipelines, or a pipeline plus a compaction /
  * stats / z-order maintenance job — can therefore share one table
  * root without coordination; `ManifestConcurrencySpec` pins the
  * race semantics.
  *
  * **Checkpointing** (long-running streams): every [[checkpointInterval]]
  * versions the fold is materialized to `_manifest/c<20-digit>.json` —
  * the full per-table file lists plus the most recent
  * [[ManifestCatalog.MaxRetainedBatchIds]] committed batch ids. Readers
  * start the fold from the latest checkpoint and read only the ≤interval
  * delta versions after it, so snapshot cost is O(interval), not
  * O(stream lifetime); a commit lists `_manifest/` once to take the next
  * version number (see [[commitVersion]]). [[vacuum]] reclaims
  * delta files at-or-before the latest checkpoint and superseded
  * checkpoints. A checkpoint is derived data: if its write fails or it
  * is deleted, readers fall back to folding the full delta log.
  * Batch-idempotence lookups older than the retained window return
  * "not committed" — `foreachBatch` replays at most the LAST batch, so
  * the window is ~1000× wider than the protocol needs.
  */
final class ManifestCatalog(spark: SparkSession, root: String,
    checkpointInterval: Int = 20)
    extends TableCatalog {
  require(checkpointInterval >= 2, "checkpointInterval must be >= 2")
  private val rootDir = new File(root)
  private val manifestDir = new File(rootDir, "_manifest")
  rootDir.mkdirs()

  // ------------------------------------------------------------ log I/O

  import ManifestCatalog.{EmptySnap, Log, LogName, Snap, Version}

  /** The one listing of the log directory; every version number comes
    * from a file name. */
  private def listLog(): Log = {
    val named = Option(manifestDir.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName match {
        case LogName(kind, n) => Some((kind, n.toLong, f))
        case _ => None
      }).sortBy(_._2)
    Log(named.collect { case ("c", n, f) => n -> f },
      named.collect { case ("v", n, f) => n -> f })
  }

  // minimal JSON — the shapes are fixed and writer-controlled, so a
  // hand-rolled codec avoids a library dependency (none are available)
  private def filesJson(m: Map[String, Seq[String]]): String =
    m.toSeq.sortBy(_._1).map { case (t, fs) =>
      "\"" + t + "\":[" + fs.map("\"" + _ + "\"").mkString(",") + "]"
    }.mkString("{", ",", "}")

  private def render(v: Version): String =
    s"""{"version":${v.n},"batchId":${v.batchId.getOrElse(-1L)},""" +
      s""""add":${filesJson(v.add)},"removed":${filesJson(v.removed)},""" +
      s""""schemas":${strs(v.schemas)},"stats":${strs(v.stats)}}"""

  // schema payloads are base64 (StructType JSON contains the very
  // quotes/braces the hand-rolled regex codec cannot tolerate)
  private def strs(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (t, s) => "\"" + t + "\":\"" + s + "\"" }
      .mkString("{", ",", "}")

  private def strsSection(s: String, name: String): Map[String, String] = {
    val m = (s""""$name":\\{(.*?)\\}""").r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    """"([^"]+)":"([^"]*)"""".r.findAllMatchIn(m)
      .map(g => g.group(1) -> g.group(2)).toMap
  }

  // a "files section" is {"table":["f1","f2"],...} — table directories
  // and part files never contain `}`/`]`, so the non-greedy regexes hold
  private def filesSection(s: String, name: String): Map[String, Seq[String]] = {
    val m = (s""""$name":\\{(.*?)\\}""").r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    """"([^"]+)":\[([^\]]*)\]""".r.findAllMatchIn(m).map { g =>
      g.group(1) -> """"([^"]+)"""".r.findAllMatchIn(g.group(2))
        .map(_.group(1)).toSeq
    }.toMap
  }

  private def deltaBatchId(s: String): Option[Long] =
    """"batchId":(-?\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).filter(_ >= 0)

  /** A delta version. Logs written before `removed` existed could hold a
    * full-list `replace` section; no writer emits it, so a delta holding
    * a non-empty one fails here instead of being folded as something
    * else. */
  private def parse(n: Long, s: String): Version = {
    if (filesSection(s, "replace").nonEmpty)
      throw new IllegalStateException(s"manifest version $n holds a " +
        "\"replace\" section, which this reader does not apply")
    Version(n, deltaBatchId(s), filesSection(s, "add"),
      filesSection(s, "removed"), strsSection(s, "schemas"),
      strsSection(s, "stats"))
  }

  /** A checkpoint body: the fold's file lists, its newest
    * [[ManifestCatalog.MaxRetainedBatchIds]] batch ids, its schemas and
    * the stats of files still live at it (so the materialized fold never
    * accumulates entries for vacuumed files). */
  private def renderCheckpoint(s: Snap): String = {
    val live = s.files.flatMap { case (t, fs) => fs.map(f => s"$t/$f") }.toSet
    val bids = s.batchIds.takeRight(ManifestCatalog.MaxRetainedBatchIds)
    s"""{"checkpoint":${s.version},"tables":${filesJson(s.files)},""" +
      s""""batchIds":[${bids.mkString(",")}],""" +
      s""""schemas":${strs(s.schemas)},""" +
      s""""stats":${strs(s.stats.filter(e => live(e._1)))}}"""
  }

  private def checkpointBatchIds(s: String): Seq[Long] =
    """"batchIds":\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("").split(",").toSeq
      .filter(_.nonEmpty).map(_.trim.toLong)

  private def parseCheckpoint(n: Long, s: String): Snap =
    // "tables" must not greedily swallow the later "schemas" section —
    // filesSection's non-greedy regex stops at the first `}`, which is
    // the end of the tables map because file lists contain no braces
    Snap(n, filesSection(s, "tables"), strsSection(s, "schemas"),
      strsSection(s, "stats"), checkpointBatchIds(s).toVector)

  private def read(f: File): String =
    new String(Files.readAllBytes(f.toPath), UTF_8)

  /** The log folded up to version `upTo`, or up to its head when None:
    * the newest checkpoint at or below that version, then the deltas
    * after it in order, so a fold reads O(checkpointInterval) files,
    * not O(stream lifetime). Versions are consecutive, so the chain ends
    * at its first gap: the head of a listing that raced a commit is the
    * last version before the gap, and a fold to a given version that
    * comes up short means [[vacuum]] reclaimed part of its chain, which
    * fails loudly rather than returning an incomplete file list. */
  private def fold(upTo: Option[Long] = None, log: Log = listLog()): Snap = {
    val top = upTo.getOrElse(log.latest)
    if (top > log.latest)
      throw new IllegalArgumentException(s"unknown version: $top")
    val base = log.checkpoints.filter(_._1 <= top).lastOption
      .fold(EmptySnap) { case (n, f) => parseCheckpoint(n, read(f)) }
    val chain = log.deltasAfter(base.version).filter(_._1 <= top)
      .zipWithIndex.takeWhile { case ((n, _), i) => n == base.version + 1 + i }
      .map(_._1)
    if (upTo.isDefined && chain.size != top - base.version)
      throw new IllegalStateException(
        s"version $top is no longer reachable: expected " +
          s"${top - base.version} deltas after checkpoint ${base.version}, " +
          s"found ${chain.size} (reclaimed by vacuum)")
    chain.foldLeft(base) { case (acc, (n, f)) =>
      val v = parse(n, read(f))
      // removed before add: compaction removes exactly the files it
      // read, so adds committed DURING the compaction window survive
      val kept = v.removed.foldLeft(acc.files) { case (a, (t, fs)) =>
        a.get(t).fold(a)(cur => a.updated(t, cur.filterNot(fs.toSet)))
      }
      val files = v.add.foldLeft(kept) { case (a, (t, fs)) =>
        a.updated(t, a.getOrElse(t, Nil) ++ fs)
      }
      // stats follow their files: entries for removed files are dropped
      // (a compacted file has no stats until a stats job re-runs —
      // readers keep it conservatively, see overlapping)
      val dead = v.removed.flatMap { case (t, fs) => fs.map(f => s"$t/$f") }
      Snap(n, files, acc.schemas ++ v.schemas, // latest schema wins
        (acc.stats -- dead) ++ v.stats, acc.batchIds ++ v.batchId)
    }
  }

  /** The files the manifest lists for `table` in `snap`. */
  private def tableFiles(snap: Snap, table: String): Seq[String] =
    snap.files.getOrElse(table, throw new IllegalArgumentException(
      s"no such table at v${snap.version}: $table"))

  /** (latest checkpoint version, delta files a fold reads) — exposed so
    * ManifestCheckpointSpec can assert the O(interval) bound. */
  private[sinks] def logStats(): (Option[Long], Int) = {
    val log = listLog()
    val ckpt = log.checkpoints.lastOption.map(_._1)
    (ckpt, log.deltasAfter(ckpt.getOrElse(-1L)).size)
  }

  // The newest version this writer committed, or the one before a number
  // it lost a race for. Versions after it landed unseen, so a commit
  // validates them first. None until this writer's first commit.
  private var seen: Option[Long] = None

  /** Atomic commit with optimistic concurrency. The body is staged to a
    * temp file, then PUBLISHED by hard-linking it to the next version
    * number: `Files.createLink` fails atomically when the target exists
    * — across processes, not just threads (a POSIX rename, by contrast,
    * silently REPLACES an existing target, so `Files.move` cannot detect
    * a second writer). Each attempt takes its number from a fresh
    * listing of the log, one past the highest version or checkpoint it
    * holds, so a number [[vacuum]] already reclaimed is never reused.
    * When other writers committed since this writer's last commit, or it
    * lost the race, the commit is first validated against what landed in
    * between ([[validateConflicts]]):
    *
    *  - blind appends (add-only) are order-independent → always retry;
    *  - a commit whose `removed` files are no longer live (another
    *    writer compacted or rewrote them first) aborts with
    *    `ConcurrentModificationException` — retrying would resurrect
    *    deleted rows or double-apply a rewrite;
    *  - a batch id another writer already committed returns WITHOUT
    *    writing (cross-writer idempotent streaming replay);
    *  - a concurrent DIFFERENT schema recorded for the same table
    *    conflicts (last-wins folding could silently drop a column).
    *
    * A single writer pays one listing, one link and one unlink per
    * commit. A won link is final: a checkpoint another writer writes past
    * it afterwards has folded it in. One window stays open: were another
    * writer to commit this number, checkpoint past it and [[vacuum]] it
    * between this writer's listing and its link, the link would reuse
    * the reclaimed number. Every
    * `checkpointInterval`-th version also materializes a checkpoint
    * (checkpoints are derived data — two writers racing on the same
    * checkpoint number produce identical content, so the plain rename
    * there is benign).
    *
    * `readVersion` is the OTHER half of the conflict story: a snapshot
    * transaction (compaction, MERGE, DELETE — anything that read the
    * table, computed a rewrite, and now commits `removed`),
    * and a [[createTable]], which read that the table did not exist,
    * record the manifest version they READ at. Versions that landed
    * AFTER that read are conflicts to validate even when this writer
    * has seen them and the link publish wins first try — a losing
    * link race is merely one way to discover intervening commits, not
    * the definition of them (two compactions serialized by a long
    * rewrite job would otherwise BOTH land, duplicating every row).
    * Append-only commits read nothing and pass None: order-independent
    * by construction. */
  private[sinks] def commitVersion(batchId: Option[Long],
      add: Map[String, Seq[String]],
      removed: Map[String, Seq[String]] = Map.empty,
      schemas: Map[String, String] = Map.empty,
      stats: Map[String, String] = Map.empty,
      readVersion: Option[Long] = None): Unit = synchronized {
    manifestDir.mkdirs()
    var attempt = 0
    while (attempt < ManifestCatalog.MaxCommitAttempts) {
      val log = listLog()
      val next = log.latest + 1
      // the transaction's base: versions in (after, next) landed after
      // its read, and winning the link race does NOT make them
      // compatible. Re-runs on every retry so each attempt validates
      // against whatever has landed by then.
      val after = readVersion.orElse(seen).getOrElse(next - 1)
      if (after < next - 1 &&
          validateConflicts(batchId, removed, schemas, after, log))
        return // batch id already committed by another writer
      val body = render(Version(next, batchId, add, removed, schemas, stats))
      val tmp = Files.createTempFile(manifestDir.toPath, ".tmp-v", ".json")
      Files.write(tmp, body.getBytes(UTF_8))
      val won = publish(manifestDir.toPath.resolve(f"v$next%020d.json"), tmp,
        body)
      Files.deleteIfExists(tmp)
      if (won) {
        seen = Some(next)
        afterPublishForTest()
        if ((next + 1) % checkpointInterval == 0) writeCheckpoint(next)
        return
      }
      seen = Some(next - 1) // the winner's commit is to validate
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"commit lost the version race ${ManifestCatalog.MaxCommitAttempts} " +
        "times — livelocked against other writers")
  }

  /** Test seam: forces the CREATE_NEW fallback publish path, simulating
    * a filesystem without hard-link support (FAT, some network/object-
    * store mounts). */
  private[sinks] var hardLinksDisabledForTest = false

  /** Test seam: runs after a won link, before the commit returns, so a
    * spec can land another writer's commits in that window. */
  private[sinks] var afterPublishForTest: () => Unit = () => ()

  /** Publish `tmp` as `target`, returning false iff the target already
    * exists (a lost version race). Primary path: hard link — atomic
    * fail-on-exists across processes. Filesystems without hard-link
    * support throw `UnsupportedOperationException` (or a generic
    * `FileSystemException`); those fall back to a CREATE_NEW write,
    * equally atomic-fail-on-exists on POSIX-compliant stores. (On a
    * store where CREATE_NEW is not atomic either, multi-writer sharing
    * needs external coordination — single-writer remains safe, and
    * commits no longer fail outright as they did when the link
    * exception propagated.) */
  private def publish(target: java.nio.file.Path,
      tmp: java.nio.file.Path, body: String): Boolean =
    try {
      if (hardLinksDisabledForTest)
        throw new UnsupportedOperationException("links disabled by test seam")
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: UnsupportedOperationException |
          _: java.nio.file.FileSystemException =>
        try {
          Files.write(target, body.getBytes(UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    }

  /** Validate this commit against every version that landed after
    * `after` — the transaction's read version for snapshot rewrites,
    * or the last version this writer believed in for plain commits
    * that lost a link race. Returns true iff the commit must NOT be
    * (re)written because another writer already committed this batch id
    * (streaming replay across writers — the rows this writer staged
    * stay orphaned and invisible, reclaimed by [[vacuum]]). Throws
    * `ConcurrentModificationException` on a true write-write conflict. */
  private def validateConflicts(batchId: Option[Long],
      removed: Map[String, Seq[String]],
      schemas: Map[String, String],
      after: Long, log: Log): Boolean = {
    if (batchId.exists(committedIn(log, _))) return true
    if (removed.nonEmpty) {
      val live = fold(None, log).files
      removed.foreach { case (t, fs) =>
        val have = live.getOrElse(t, Nil).toSet
        val gone = fs.filterNot(have)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"concurrent rewrite of '$t': ${gone.take(3).mkString(", ")}" +
              s"${if (gone.size > 3) ", …" else ""} already removed by " +
              "another writer")
      }
    }
    // identical schemas may race (two writers creating the same table);
    // DIVERGENT ones may not — last-wins would drop one writer's column
    if (schemas.nonEmpty && log.deltasAfter(after).exists { case (n, f) =>
        parse(n, read(f)).schemas.exists {
          case (t, s) => schemas.get(t).exists(_ != s)
        }
      })
      throw new java.util.ConcurrentModificationException(
        "concurrent divergent schema change to the same table")
    false
  }

  /** Materialize the fold at version `n` to `c<n>.json` (tmp + atomic
    * rename). Failure is non-fatal: the checkpoint is derived data and
    * readers fall back to the delta fold. */
  private def writeCheckpoint(n: Long): Unit =
    try {
      val body = renderCheckpoint(fold(Some(n)))
      val tmp = Files.createTempFile(manifestDir.toPath, ".tmp-c", ".json")
      Files.write(tmp, body.getBytes(UTF_8))
      Files.move(tmp, manifestDir.toPath.resolve(f"c$n%020d.json"),
        StandardCopyOption.ATOMIC_MOVE)
      ()
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[manifest] checkpoint at v$n failed " +
          s"(non-fatal, fold continues from deltas): $e")
    }

  // ------------------------------------------------- deferred batch mode

  // Between beginBatch and commitBatch every append only writes its
  // files and records the adds here; commitBatch publishes them together
  // with the batch id in one atomic rename. Guarded by `this` — appends
  // may run concurrently.
  private val pendingAdds =
    scala.collection.mutable.Map.empty[String, Seq[String]]
  private val pendingSchemas =
    scala.collection.mutable.Map.empty[String, String]
  // the oldest version a DDL of the open batch read: the batch commit
  // validates what landed after it (see commitVersion's readVersion)
  private var pendingReadVersion: Option[Long] = None
  private var deferring = false

  override def beginBatch(batchId: Long): Unit = synchronized {
    // pending adds from a previous FAILED batch are dropped — their
    // part files are unreachable orphans until vacuum()
    pendingAdds.clear()
    pendingSchemas.clear()
    pendingReadVersion = None
    deferring = true
  }

  /** Record adds into the open batch; false → caller commits directly. */
  private def recordPending(added: Map[String, Seq[String]],
      schemas: Map[String, String],
      readVersion: Option[Long] = None): Boolean =
    synchronized {
      if (!deferring) false
      else {
        added.foreach { case (t, fs) =>
          pendingAdds(t) = pendingAdds.getOrElse(t, Nil) ++ fs
        }
        schemas.foreach { case (t, s) => pendingSchemas(t) = s }
        pendingReadVersion = (pendingReadVersion ++ readVersion).minOption
        true
      }
    }

  // -------------------------------------------------------- TableCatalog

  override def listTables(): Seq[String] = fold().files.keys.toSeq.sorted

  override def describe(table: String): Seq[ColumnDef] = {
    val schema: StructType = read(table).schema
    schema.fields.toSeq.map(f =>
      ColumnDef(f.name, graft.ingest.TypeMapping.toClickHouse(f.dataType)))
  }

  /** CREATE TABLE IF NOT EXISTS: records the table, with no files, and
    * its schema, `cols` mapped through
    * [[graft.ingest.TypeMapping.toSparkRead]], so reads of it are pinned
    * from the first commit on. Inside a batch the DDL commits with the
    * batch. A table the log already lists is left as it is, and one it
    * records under another schema fails the DDL. A concurrent create of
    * the same table with divergent types conflicts at commit (the DDL's
    * read version goes to [[commitVersion]]): the loser's batch fails
    * instead of mixing types in one table. */
  override def createTable(table: String, cols: Seq[ColumnDef]): Unit = {
    val schema = StructType(cols.map(c => StructField(c.name,
      graft.ingest.TypeMapping.toSparkRead(c.chType).getOrElse(
        throw new IllegalArgumentException(
          s"table $table: no Spark type for column ${c.name} ${c.chType}")))))
    val snap = fold()
    def columns(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType)
    recordedSchema(snap, table) match {
      case Some(have) =>
        if (columns(have) != columns(schema))
          throw new IllegalArgumentException(s"table $table exists as " +
            s"${have.toDDL}, not ${schema.toDDL}")
      case None if snap.files.contains(table) => // predates recorded DDL
      case None =>
        val added = Map(table -> Seq.empty[String])
        val schemas = Map(table -> encodeSchema(schema))
        if (!recordPending(added, schemas, Some(snap.version)))
          commitVersion(None, added, schemas = schemas,
            readVersion = Some(snap.version))
    }
  }

  /** Read ONLY the files the manifest lists — uncommitted (orphaned)
    * part files in the directory are invisible by construction. When the
    * log records a schema, the read is PINNED to it (no footer scans,
    * no mergeSchema): files written before a column was added surface
    * NULL for it — add-column schema evolution without rewriting data. */
  def read(table: String): DataFrame = readSnap(fold(), table)

  private def readSnap(snap: Snap, table: String): DataFrame =
    readWithSchema(table, tableFiles(snap, table), recordedSchema(snap, table))

  private def recordedSchema(snap: Snap, table: String): Option[StructType] =
    snap.schemas.get(table).map(decodeSchema)

  /** The schema a read of `table`'s `files` uses when it reads only some
    * of them: the recorded one or, for a table written before schemas
    * were recorded, the one the footers of all `files` infer. */
  private def readSchema(snap: Snap, table: String,
      files: Seq[String]): Option[StructType] =
    recordedSchema(snap, table).orElse(
      if (files.nonEmpty) Some(readWithSchema(table, files, None).schema)
      else None)

  private def decodeSchema(b64: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(new String(
      java.util.Base64.getDecoder.decode(b64), UTF_8))
      .asInstanceOf[StructType]

  private def encodeSchema(s: StructType): String =
    java.util.Base64.getEncoder.encodeToString(s.json.getBytes(UTF_8))

  /** `files` of `table`, in `schema`, or, for a table written before
    * schemas were recorded, in the schema its footers infer. */
  private def readWithSchema(table: String, files: Seq[String],
      schema: Option[StructType]): DataFrame =
    ManifestFileIndex.read(spark, files.map(f => s"$root/$table/$f"), schema)

  /** Highest committed manifest version, or -1 for an empty log. */
  def latestVersion(): Long = listLog().latest

  /** Snapshot pinned at `version` (time travel): see [[fold]], which
    * fails LOUDLY once [[vacuum]] reclaimed part of the version's
    * chain. */
  def snapshotAt(version: Long): Map[String, Seq[String]] =
    fold(Some(version)).files

  /** Time-travel read: the table as of manifest `version`, under the
    * schema RECORDED at that version (a later add-column does not leak
    * into the past). Valid while the version's delta chain and data
    * files are retained — [[vacuum]] trims the travel window to what the
    * latest checkpoint + live snapshot still reference (the same
    * contract a Delta VACUUM has). */
  def readAt(table: String, version: Long): DataFrame =
    readSnap(fold(Some(version)), table)

  override def append(table: String, df: DataFrame): Unit =
    appendAll(Map(table -> df), batchId = None)

  // --------------------------------------------- per-file stats / skipping

  // stats block: one `col \t min \t max` line per column, base64'd (the
  // same escape-free trick the schema section uses; min/max are the
  // column's string form — numeric comparisons re-parse via BigDecimal).
  // Each FIELD is additionally backslash-escaped: a string column whose
  // min/max value embeds a tab or newline must not be able to break the
  // line structure — or forge a zone-map line for ANOTHER column, which
  // would let a crafted value cause wrong file skipping (violating the
  // "skipping is never a correctness input" contract). The escaped
  // format is VERSIONED by a header line (EscapedStatsHeader below):
  // decode unescapes only marked blocks, so a legacy value holding a
  // literal backslash-t sequence is never reinterpreted as a tab.
  private def escField(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
  private def unescField(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't'  => b.append('\t'); i += 2
          case 'n'  => b.append('\n'); i += 2
          case '\\' => b.append('\\'); i += 2
          case _    => b.append(c); i += 1
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Header line marking a stats block whose fields are backslash-
    * escaped. Blocks WITHOUT it predate the escaping (or come from a
    * foreign writer) and must decode their fields verbatim — running
    * the unescaper over a legacy value containing a literal `\t`/`\n`/
    * `\\` sequence would silently alter the recorded extrema and could
    * prune files that DO contain matches. The marker line itself can
    * never collide with a data line: data lines always carry two tabs. */
  private val EscapedStatsHeader = "#esc1"

  private[sinks] def encodeColStats(m: Map[String, (String, String)]): String =
    java.util.Base64.getEncoder.encodeToString(
      (EscapedStatsHeader +: m.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"${escField(c)}\t${escField(mn)}\t${escField(mx)}"
      }).mkString("\n").getBytes(UTF_8))

  // Tolerant decode: a malformed line (wrong field count, bad base64 —
  // e.g. a manifest hand-edited or written by a future format) degrades
  // to "no stats for that column/file", which every stats consumer
  // already treats as "keep the file". Stats may only ever REMOVE work,
  // never answers.
  private[sinks] def decodeColStats(b64: String): Map[String, (String, String)] =
    try {
      val lines = new String(java.util.Base64.getDecoder.decode(b64), UTF_8)
        .split("\n").toSeq
      // fields are unescaped ONLY for blocks the escaping encoder wrote
      // (marked by the header); legacy blocks decode verbatim
      val escaped = lines.headOption.contains(EscapedStatsHeader)
      val dec: String => String = if (escaped) unescField else identity
      (if (escaped) lines.tail else lines).filter(_.nonEmpty).flatMap {
        line =>
          line.split("\t", -1) match {
            case Array(c, mn, mx) => Some(dec(c) -> (dec(mn), dec(mx)))
            case _ => None
          }
      }.toMap
    } catch { case _: IllegalArgumentException => Map.empty }

  /** Append with per-file min/max stats for `statsCols` recorded in the
    * SAME commit (Delta-style data skipping: stats live in the log, so a
    * reader plans its file list without touching any footer). One extra
    * Spark job computes every file's extrema in a single pass over the
    * freshly written parts — an offline/layout-job cost, which is where
    * stats-bearing writes belong (after [[graft.operators.ZOrderLayout]]
    * clustering, the recorded ranges are what make skipping effective).
    * Streaming appends stay stats-free and are simply never pruned.
    *
    * Locking: the two Spark jobs (the part write and the per-file stats
    * pass) run OUTSIDE the catalog monitor — staged part files are
    * invisible until commit, so under the single-writer-per-table
    * assumption only [[commitVersion]] (itself synchronized) needs the
    * lock. Holding it across the jobs would stall every concurrent
    * streaming commit for the stats job's duration. */
  def appendWithStats(table: String, df: DataFrame,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil): Unit = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "at least one of statsCols/bloomCols must be non-empty")
    val stored = fold().schemas
    val (aligned, recorded) =
      evolveFor(stored.get(table).map(decodeSchema), df)
    val moved = PartWriter.write(aligned, s"$root/$table")
    val perFile = perFileStatsBlocks(table, moved, aligned.schema,
      statsCols, bloomCols)
    commitVersion(None, Map(table -> moved),
      schemas = recorded.fold(Map.empty[String, String])(sch =>
        Map(table -> encodeSchema(sch))),
      stats = perFile)
  }

  /** One-pass per-file stats job over freshly written parts: min/max
    * string extrema for `statsCols`, 2 KB blooms for `bloomCols`, keyed
    * `table/file` as encoded stats-block entries. Shared by
    * [[appendWithStats]] and [[compact]] (skipping must survive
    * maintenance rewrites, not silently decay to "no stats"). */
  private def perFileStatsBlocks(table: String, moved: Seq[String],
      schema: StructType, statsCols: Seq[String],
      bloomCols: Seq[String]): Map[String, String] = {
    if (statsCols.isEmpty && bloomCols.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col, input_file_name, max, min,
      udaf}
    val bloom = udaf(new graft.functions.FileBloomAgg)
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c"))) ++
      bloomCols.map(c => bloom(col(c).cast("string")).as(s"__bf_$c"))
    readWithSchema(table, moved, Some(schema))
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per freshly written part file
      .map { r =>
        val fname = r.getString(0).split('/').last
        val cols = statsCols.map { c =>
          c -> (r.getAs[String](s"__mn_$c"), r.getAs[String](s"__mx_$c"))
        }.filter { case (_, (mn, mx)) => mn != null && mx != null }.toMap
        // blooms ride the SAME per-file block as marker-prefixed lines
        // ("#bloom:<col>" cannot collide with a real column in the
        // range-stats lookups, which go through decodeColStats(...).get
        // on plain column names); value = (base64 bits, "")
        val blooms = bloomCols.map { c =>
          s"$BloomKeyPrefix$c" -> (java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]](s"__bf_$c")), "")
        }.toMap
        s"$table/$fname" -> encodeColStats(cols ++ blooms)
      }.toMap
  }

  /** Folded per-file stats for a table (spec/introspection surface). */
  private[sinks] def fileStats(
      table: String): Map[String, Map[String, (String, String)]] = {
    val snap = fold()
    snap.files.getOrElse(table, Nil).flatMap { f =>
      snap.stats.get(s"$table/$f").map(b => f -> decodeColStats(b))
    }.toMap
  }

  /** Marker prefix for bloom lines inside the per-file stats block —
    * cannot collide with real column names in the range-stats lookups,
    * which probe `decodeColStats(...).get(<plain column name>)`. */
  private val BloomKeyPrefix = "#bloom:"

  /** Canonical string form of `value` for probing a bloom on a column
    * of type `dt`. The per-file blooms are built over the column's
    * cast-to-string canonical forms, while the read filter coerces the
    * string LITERAL to the column type — so a non-canonical spelling
    * ("042" for a LONG column, "1" for a DOUBLE storing 1.0) passes the
    * filter semantics but would miss the bloom. Probing with the cast
    * ROUND-TRIP ("042" → 42L → "42") restores the no-false-negative
    * contract. None ⇒ the value does not cast to the column type (TRY
    * semantics) — the caller must keep every file and let the filter
    * own the semantics (no match, or the session's ANSI cast error). */
  private def canonicalProbe(dt: org.apache.spark.sql.types.DataType,
      value: String): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    import org.apache.spark.sql.types.StringType
    if (dt == StringType) return Some(value)
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    Option(Cast(Literal(value), dt, zone, EvalMode.TRY).eval(null))
      .flatMap(typed => Option(
        Cast(Literal.create(typed, dt), StringType, zone, EvalMode.TRY)
          .eval(null)))
      .map(_.toString)
  }

  /** File list after BLOOM pruning for `col = value` — the point-lookup
    * complement to [[statsPrunedFiles]]: a uniformly scattered
    * high-cardinality key defeats min/max ranges (every file's [min,max]
    * covers every probe), but a per-file bloom proves "definitely not
    * here". Files without a bloom for the column are always kept; a
    * positive bloom is only "maybe" — the filter owns correctness. The
    * probe value is canonicalized to the column type's string form
    * first (see [[canonicalProbe]]); a value that does not cast keeps
    * every file.
    * @return (kept files, all files) */
  def bloomPrunedFiles(table: String, column: String,
      value: String): (Seq[String], Seq[String]) = {
    val (kept, files, _) = bloomPruned(fold(), table, column, value)
    (kept, files)
  }

  /** [[bloomPrunedFiles]] over one folded log, with the schema the
    * table reads in. */
  private def bloomPruned(snap: Snap, table: String, column: String,
      value: String): (Seq[String], Seq[String], Option[StructType]) = {
    val files = tableFiles(snap, table)
    // an unknown column keeps all files — the downstream filter raises
    // the analysis error
    val schema = readSchema(snap, table, files)
    val dt = schema.flatMap(_.fields.find(_.name == column).map(_.dataType))
    val probe = dt match {
      case Some(t) => canonicalProbe(t, value)
      case None => Some(value)
    }
    val kept = probe match {
      case None => files // uncastable probe: pruning proves nothing
      case Some(p) => files.filter { f =>
        snap.stats.get(s"$table/$f")
          .flatMap(b => decodeColStats(b).get(s"$BloomKeyPrefix$column"))
          .forall { case (b64, _) =>
            try graft.functions.FileBloomAgg.mightContain(
              java.util.Base64.getDecoder.decode(b64), p)
            catch { case _: IllegalArgumentException => true } // malformed → keep
          }
      }
    }
    (kept, files, schema)
  }

  /** Point-lookup read: prune the file list by per-file blooms (and by
    * min/max where recorded via the normal filter pushdown), then apply
    * `col = value` normally — identical semantics to
    * `read(table).filter`, minus the skipped I/O. The files and the
    * schema come from one fold of the log. */
  def readPoint(table: String, column: String, value: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _, schema) = bloomPruned(fold(), table, column, value)
    // compare against the bare literal: type coercion promotes the
    // LITERAL to the column type, so the equality still pushes down to
    // the parquet scan (casting the column would block pushdown)
    readWithSchema(table, kept, schema).filter(col(column) === lit(value))
  }

  /** File list after zone-map pruning for `lo <= col <= hi`.
    * @return (kept files, all files) */
  def statsPrunedFiles(table: String, column: String,
      lo: BigDecimal, hi: BigDecimal): (Seq[String], Seq[String]) = {
    val snap = fold()
    val files = tableFiles(snap, table)
    (overlapping(snap, table, files, column, lo, hi), files)
  }

  /** `files` of `table` whose recorded `column` range can overlap
    * [lo, hi]: a file is skipped only when its recorded stats PROVE no
    * overlap; files without stats (streaming appends, fresh compactions)
    * are always kept — skipping is an optimization, never a correctness
    * input. */
  private def overlapping(snap: Snap, table: String, files: Seq[String],
      column: String, lo: BigDecimal, hi: BigDecimal): Seq[String] =
    files.filter { f =>
      snap.stats.get(s"$table/$f")
        .flatMap(b => decodeColStats(b).get(column)) match {
        case Some((mn, mx)) =>
          try BigDecimal(mx) >= lo && BigDecimal(mn) <= hi
          catch { case _: NumberFormatException => true }
        case None => true
      }
    }

  /** Data-skipping range read: prune the file list by recorded stats,
    * then apply the predicate normally (the filter, not the pruning,
    * owns correctness — identical semantics to `read(table).filter`,
    * minus the skipped I/O). */
  def readBetween(table: String, column: String, lo: Long,
      hi: Long): DataFrame =
    readPruned(table, Seq((column, lo, hi)))

  /** Multi-predicate data-skipping read (a "box query" after a z-order
    * layout: with files tight in BOTH clustering dims, each conjunct
    * prunes independently and the kept set is the intersection). A file
    * is skipped when ANY conjunct's recorded range proves disjoint. */
  def readPruned(table: String,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(preds.nonEmpty)
    val snap = fold()
    val files = tableFiles(snap, table)
    val kept = preds.foldLeft(files) { case (fs, (c, lo, hi)) =>
      overlapping(snap, table, fs, c, BigDecimal(lo), BigDecimal(hi))
    }
    val filterExpr = preds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    readWithSchema(table, kept, readSchema(snap, table, files))
      .filter(filterExpr)
  }

  /** Align `df` to the table's recorded schema with ADD-COLUMN evolution:
    * new columns extend the schema (recorded in the commit — old files
    * read NULL for them), missing columns are filled with NULL, and a
    * type conflict on a shared column fails loudly. First append records
    * the schema as-is. */
  private def evolveFor(stored: Option[StructType],
      df: DataFrame): (DataFrame, Option[StructType]) = stored match {
    case None => (df, Some(df.schema))
    case Some(old) =>
      import org.apache.spark.sql.functions.{col, lit}
      df.schema.fields.foreach { f =>
        old.fields.find(_.name == f.name).foreach { o =>
          if (o.dataType != f.dataType)
            throw new IllegalArgumentException(
              s"schema evolution supports adding columns only: column " +
                s"'${f.name}' is ${o.dataType.sql} in the table but " +
                s"${f.dataType.sql} in the append")
        }
      }
      val oldNames = old.fieldNames.toSet
      val evolved = StructType(old.fields ++
        df.schema.fields.filterNot(f => oldNames.contains(f.name)))
      val aligned = df.select(evolved.fields.toSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      (aligned, if (evolved != old) Some(evolved) else None)
  }

  /** Stage part files for every table, then make them ALL visible in one
    * atomic manifest commit that also records `batchId` and any schema
    * changes (so "rows visible" and "schema evolved" cannot diverge). */
  private def appendAll(tables: Map[String, DataFrame],
      batchId: Option[Long]): Unit = {
    val stored = fold().schemas
    val prepared = tables.map { case (t, df) =>
      val (aligned, recorded) = evolveFor(stored.get(t).map(decodeSchema), df)
      (t, aligned, recorded)
    }
    val schemas = prepared.collect {
      case (t, _, Some(sch)) => t -> encodeSchema(sch)
    }.toMap
    val added = prepared.map { case (table, df, _) =>
      // part-file names carry the write UUID → no collisions; files are
      // INVISIBLE until the manifest commit below
      table -> PartWriter.write(df, s"$root/$table")
    }.toMap
    if ((added.nonEmpty || batchId.isDefined || schemas.nonEmpty) &&
        !recordPending(added, schemas))
      commitVersion(batchId, added, schemas = schemas)
  }

  /** ONE write job for every routed table: each task writes its part
    * file per table straight into the table directory, under a name no
    * other write uses ([[PartWriter]]). The files are invisible until the
    * manifest commit lists them; a failed write leaves unlisted files that
    * [[vacuum]] reclaims. */
  override def appendRouted(df: DataFrame, tables: Seq[String]): Boolean = {
    val added = PartWriter.writeRouted(df, root)
    if (added.nonEmpty && !recordPending(added, Map.empty))
      commitVersion(None, added)
    true
  }

  /** Runs every batch, so it reads only the batch-id sections: the
    * checkpoint's file lists, schemas and stats grow with the table. */
  override def batchCommitted(batchId: Long): Boolean =
    committedIn(listLog(), batchId)

  private def committedIn(log: Log, batchId: Long): Boolean = {
    val ckpt = log.checkpoints.lastOption
    ckpt.exists(c => checkpointBatchIds(read(c._2)).contains(batchId)) ||
      log.deltasAfter(ckpt.fold(-1L)(_._1))
        .exists(d => deltaBatchId(read(d._2)).contains(batchId))
  }

  /** Publish the open batch (rows staged since [[beginBatch]]) together
    * with the batch id in ONE atomic rename — outside a batch this is
    * just the bare marker version. */
  override def commitBatch(batchId: Long): Unit = {
    val (adds, schs, readV) = synchronized {
      val a = (pendingAdds.toMap, pendingSchemas.toMap, pendingReadVersion)
      pendingAdds.clear()
      pendingSchemas.clear()
      pendingReadVersion = None
      deferring = false
      a
    }
    commitVersion(Some(batchId), adds, schemas = schs, readVersion = readV)
  }

  /** Exactly-once batch append: all tables' rows AND the batch id become
    * visible in one atomic commit — no marker-vs-data window at all. */
  def appendBatch(batchId: Long, tables: Map[String, DataFrame]): Unit =
    appendAll(tables, Some(batchId))

  // ------------------------------------------------- row-level operations

  /** Copy-on-write MERGE (upsert): source rows REPLACE table rows sharing
    * the same `keys` values; source rows with unseen keys are inserts.
    *
    * Only data files that actually CONTAIN a matched key are rewritten —
    * located via the `_metadata.file_name` column and a semi-join against
    * the source keys (at scale that join broadcasts the source side; the
    * table never shuffles). The rewrite output is
    * (touched-file rows ANTI-JOIN source keys) ∪ source, published in ONE
    * manifest version that removes the consumed files and adds the
    * rewritten ones — concurrent appends survive the fold exactly as for
    * [[compact]], readers holding the old snapshot keep their files, and
    * the pre-merge version stays time-travelable until [[vacuum]].
    *
    * Contract: `source` must carry the table's columns (extra columns are
    * dropped, order is aligned), key columns must be non-null, and at most
    * one source row may match a given key (same single-match rule Delta's
    * MERGE enforces — duplicate source keys make the upsert ambiguous).
    */
  def merge(table: String, source: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "merge needs at least one key column")
    // the commit validates every version after the one this snapshot
    // folded — see commitVersion's readVersion contract
    val snap = fold()
    val files = tableFiles(snap, table)
    val schema = readSchema(snap, table, files)
    val live = readWithSchema(table, files, schema)
    val cols = live.schema.fieldNames.toSeq
    val src = source.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val keyFrame = src
      .select(keys.map(org.apache.spark.sql.functions.col): _*).distinct()
    // bounded control-plane read: at most one row per live data file
    val fileCol = org.apache.spark.sql.functions
      .col("_metadata.file_name").as("_file")
    val touched = live
      .select(fileCol +: keys.map(org.apache.spark.sql.functions.col): _*)
      .join(keyFrame, keys, "left_semi")
      .select("_file").distinct().collect().map(_.getString(0)).toSeq
    val rewritten =
      if (touched.isEmpty) src
      else readWithSchema(table, touched, schema)
        .join(keyFrame, keys, "left_anti")
        .unionByName(src)
    val moved = PartWriter.write(rewritten, s"$root/$table")
    commitVersion(None, add = Map(table -> moved),
      removed = Map(table -> touched), readVersion = Some(snap.version))
  }

  /** Copy-on-write DELETE: remove rows where `predicate` is TRUE (rows
    * where it is FALSE or NULL are kept — SQL DELETE semantics). Only
    * files containing at least one matching row are rewritten; a
    * predicate matching nothing commits nothing. Same atomicity /
    * time-travel / vacuum story as [[merge]]. */
  def delete(table: String,
      predicate: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val snap = fold() // see merge: the commit validates what came after
    val files = tableFiles(snap, table)
    val schema = readSchema(snap, table, files)
    val live = readWithSchema(table, files, schema)
    val touched = live.filter(predicate)
      .select(col("_metadata.file_name").as("_file"))
      .distinct().collect().map(_.getString(0)).toSeq
    if (touched.nonEmpty) {
      val keep = readWithSchema(table, touched, schema)
        .filter(not(coalesce(predicate, lit(false))))
      val moved = PartWriter.write(keep, s"$root/$table")
      commitVersion(None, add = Map(table -> moved),
        removed = Map(table -> touched), readVersion = Some(snap.version))
    }
  }

  /** Row-level change feed between two committed versions (CDC): each
    * output row is a table row tagged `_op` = "insert" (present at `toV`,
    * absent at `fromV`) or "delete" (the reverse); an update appears as
    * its delete + insert pair. Computed as a MULTISET diff over only the
    * files that CHANGED between the snapshots — files present in both
    * versions contribute identical rows to both sides and cancel, so they
    * are never read: the cost is proportional to the data the versions
    * disagree on, not to table size. */
  def changes(table: String, fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val log = listLog()
    val toSnap = fold(Some(toV), log)
    val fromSnap = fold(Some(fromV), log)
    val before = fromSnap.files.getOrElse(table, Seq.empty[String])
    val after = toSnap.files.getOrElse(table, Seq.empty[String])
    val removedF = before.filterNot(after.toSet)
    val addedF = after.filterNot(before.toSet)
    // both sides read under the `toV` schema so the diff's columns line
    // up across an add-column evolution (old files surface NULLs)
    val changed = addedF ++ removedF
    val schema = recordedSchema(toSnap, table)
      .orElse(readSchema(fromSnap, table,
        if (changed.nonEmpty) changed else before ++ after))
      .getOrElse(throw new IllegalArgumentException(
        s"no such table in either version: $table"))
    if (changed.isEmpty)
      return readWithSchema(table, Nil, Some(schema))
        .withColumn("_op", lit("")).limit(0)
    val newSide = readWithSchema(table, addedF, Some(schema))
    val oldSide = readWithSchema(table, removedF, Some(schema))
    newSide.exceptAll(oldSide).withColumn("_op", lit("insert"))
      .unionByName(oldSide.exceptAll(newSide).withColumn("_op", lit("delete")))
      .select(col("_op") +: newSide.columns.toSeq.map(col): _*)
  }

  /** ONLINE compaction: snapshot the table's file list, rewrite exactly
    * those files, then commit ONE version that removes the consumed
    * files and adds the compacted ones. Removal is PRECISE (not a
    * full-list replace): an append that commits while the rewrite runs
    * lands as a later `add` of a file this version never touches, so
    * the fold keeps it — compaction and the stream need no coordination
    * beyond the serialized manifest commit. Readers holding the old
    * snapshot keep reading the old files (on disk until [[vacuum]]); a
    * crash anywhere leaves either the old or the new manifest — never a
    * missing table. */
  def compact(table: String, targetFiles: Int = 1): Unit = {
    val snap = fold() // see merge: the commit validates what came after
    val consumed = tableFiles(snap, table)
    val compacted =
      readWithSchema(table, consumed, recordedSchema(snap, table))
      .coalesce(math.max(1, targetFiles))
    val moved = PartWriter.write(compacted, s"$root/$table")
    // any column that carried range stats or a bloom on a consumed file
    // keeps it through the rewrite — data skipping must survive
    // maintenance, not silently decay to "no stats, never pruned"
    val carried = consumed.flatMap(f =>
      snap.stats.get(s"$table/$f").map(decodeColStats)
        .getOrElse(Map.empty).keys).toSet
    val (bloomKeys, statsKeys) = carried.partition(_.startsWith(BloomKeyPrefix))
    val stats = perFileStatsBlocks(table, moved, compacted.schema,
      statsKeys.toSeq.sorted,
      bloomKeys.map(_.stripPrefix(BloomKeyPrefix)).toSeq.sorted)
    commitVersion(None, add = Map(table -> moved),
      removed = Map(table -> consumed), stats = stats,
      readVersion = Some(snap.version))
  }

  /** Remove data files no manifest version can reach (compacted-away, or
    * left by a failed or crashed write), delta versions already folded
    * into the latest checkpoint, and superseded checkpoints.
    *
    * `retentionMs` protects IN-FLIGHT writers: every write
    * ([[PartWriter]]) puts part files into the table directory under
    * their final names BEFORE the manifest commit references them, so to
    * a concurrent vacuum an about-to-be-committed part is
    * indistinguishable from a crashed append's orphan. Files younger
    * than the retention window (mtime-based, the Delta
    * tombstone-retention shape) are skipped — a maintenance vacuum can
    * therefore run beside live writers as long as no single write job
    * runs for longer than the window.
    * Pass 0 only when provably no writer is in flight (tests, single-
    * process teardown). The window must also exceed the longest
    * reader's snapshot age: compacted-away files a pinned reader still
    * lists become eligible once older than the window. */
  def vacuum(retentionMs: Long = ManifestCatalog.DefaultVacuumRetentionMs)
      : Int = {
    val log = listLog()
    val live = fold(None, log).files
    val cutoff = System.currentTimeMillis() - retentionMs
    var removed = 0
    // log reclamation: deltas ≤ checkpoint are folded in; older
    // checkpoints are superseded by the latest
    log.checkpoints.lastOption.foreach { case (ckpt, _) =>
      (log.deltas.filter(_._1 <= ckpt) ++ log.checkpoints.dropRight(1))
        .foreach { case (_, f) => if (f.delete()) removed += 1 }
    }
    // scan every table directory on disk, not just committed tables — a
    // crashed first-append leaves orphans under a table no manifest knows
    Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith("_") &&
        !d.getName.startsWith("."))
      .foreach { dir =>
        val liveSet = live.getOrElse(dir.getName, Nil).toSet
        Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.endsWith(".parquet") &&
            !liveSet.contains(f.getName) && f.lastModified() <= cutoff)
          .foreach { f => if (f.delete()) removed += 1 }
      }
    removed
  }

  def fileCount(table: String): Int = fold().files.getOrElse(table, Nil).size
}

object ManifestCatalog {
  private final case class Version(n: Long, batchId: Option[Long],
      add: Map[String, Seq[String]],
      removed: Map[String, Seq[String]],
      schemas: Map[String, String],
      stats: Map[String, String] = Map.empty)

  /** The log folded up to `version`: per-table file lists, the latest
    * recorded schema (base64 StructType JSON) per table, per-file column
    * stats (`"table/file"` → base64 stats block) for data skipping, and
    * the committed batch ids. A checkpoint is this fold written out. */
  private final case class Snap(version: Long,
      files: Map[String, Seq[String]],
      schemas: Map[String, String],
      stats: Map[String, String],
      batchIds: Seq[Long])

  private val EmptySnap =
    Snap(-1L, Map.empty, Map.empty, Map.empty, Vector.empty)

  /** One listing of `_manifest/`: checkpoint and delta files by version
    * number, ascending. */
  private final case class Log(checkpoints: Seq[(Long, File)],
      deltas: Seq[(Long, File)]) {
    /** Highest version the log holds, or -1 for an empty log. */
    def latest: Long =
      (deltas.lastOption ++ checkpoints.lastOption).map(_._1).maxOption
        .getOrElse(-1L)

    def deltasAfter(n: Long): Seq[(Long, File)] = deltas.filter(_._1 > n)
  }

  private val LogName = """([cv])(\d+)\.json""".r

  /** Committed batch ids a checkpoint carries forward for idempotent
    * replay detection. `foreachBatch` replays at most the last batch, so
    * any value ≥ 2 satisfies the protocol; 1000 leaves three orders of
    * magnitude of slack at ~20 bytes per id. */
  val MaxRetainedBatchIds = 1000

  /** Version-race retries before a commit declares livelock. Each retry
    * means another writer committed first — 64 consecutive losses under
    * any realistic commit cadence indicates a stuck counter, not load. */
  val MaxCommitAttempts = 64

  /** Default [[ManifestCatalog.vacuum]] retention: uncommitted data
    * files younger than this survive, so a vacuum racing an in-flight
    * writer cannot delete parts it has written into the table directory
    * but not yet referenced by a commit. 20 minutes bounds the longest
    * single write job the default tolerates; deployments with longer
    * rewrites (a multi-hour compaction) should pass a larger window. */
  val DefaultVacuumRetentionMs: Long = 20L * 60 * 1000
}
