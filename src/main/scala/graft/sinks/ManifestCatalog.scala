package graft.sinks

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.control.NonFatal

import graft.registry.ColumnDef
import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Commit-log (manifest) table format — the production answer to the two
  * crash windows [[WarehouseCatalog]] documents:
  *
  *  1. its appendRouted moves files THEN writes the batch marker — a
  *     crash between the last move and the marker replays the batch into
  *     duplicates;
  *  2. its compact swaps directories with two renames — a reader (or
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
  * table), `removed` (files a compaction consumed), `replace` (legacy
  * full-list swap), and an optional `batchId` — plus a `schemas`
  * section recording the table's schema (base64 StructType JSON)
  * whenever an append changes it. Readers fold the log into per-table
  * file lists + latest schemas, pin reads to the recorded schema (no
  * footer scans), and therefore support ADD-COLUMN evolution without
  * rewriting old files (they surface NULL for later columns; time
  * travel reads each version under the schema recorded AT that
  * version). `appendRouted` (the dynamic router path) keeps
  * schema-inference reads.
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
  * O(stream lifetime); commits are O(1) (the next version number is
  * tracked in memory — valid under single-writer). [[vacuum]] reclaims
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

  private final case class Version(n: Long, batchId: Option[Long],
      add: Map[String, Seq[String]], replace: Map[String, Seq[String]],
      removed: Map[String, Seq[String]],
      schemas: Map[String, String],
      stats: Map[String, String] = Map.empty)

  private final case class Checkpoint(n: Long,
      tables: Map[String, Seq[String]], batchIds: Seq[Long],
      schemas: Map[String, String],
      stats: Map[String, String] = Map.empty)

  /** A folded view of the log: per-table file lists + the latest
    * recorded schema (base64 StructType JSON) per table + per-file
    * column stats (`"table/file"` → base64 stats block) for data
    * skipping. */
  private final case class Snap(files: Map[String, Seq[String]],
      schemas: Map[String, String],
      stats: Map[String, String] = Map.empty)

  private def versionFiles(): Seq[File] =
    Option(manifestDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("v") && f.getName.endsWith(".json"))
      .sortBy(_.getName).toSeq

  private def checkpointFiles(): Seq[File] =
    Option(manifestDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("c") && f.getName.endsWith(".json"))
      .sortBy(_.getName).toSeq

  // minimal JSON — the shapes are fixed and writer-controlled, so a
  // hand-rolled codec avoids a library dependency (none are available)
  private def render(v: Version): String = {
    def files(m: Map[String, Seq[String]]): String =
      m.toSeq.sortBy(_._1).map { case (t, fs) =>
        "\"" + t + "\":[" + fs.map("\"" + _ + "\"").mkString(",") + "]"
      }.mkString("{", ",", "}")
    s"""{"version":${v.n},"batchId":${v.batchId.getOrElse(-1L)},""" +
      s""""add":${files(v.add)},"replace":${files(v.replace)},""" +
      s""""removed":${files(v.removed)},"schemas":${strs(v.schemas)},""" +
      s""""stats":${strs(v.stats)}}"""
  }

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

  private def parse(n: Long, s: String): Version = {
    val bid = """"batchId":(-?\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).filter(_ >= 0)
    Version(n, bid, filesSection(s, "add"), filesSection(s, "replace"),
      filesSection(s, "removed"), strsSection(s, "schemas"),
      strsSection(s, "stats"))
  }

  private def renderCheckpoint(c: Checkpoint): String = {
    val tables = c.tables.toSeq.sortBy(_._1).map { case (t, fs) =>
      "\"" + t + "\":[" + fs.map("\"" + _ + "\"").mkString(",") + "]"
    }.mkString("{", ",", "}")
    s"""{"checkpoint":${c.n},"tables":$tables,""" +
      s""""batchIds":[${c.batchIds.mkString(",")}],""" +
      s""""schemas":${strs(c.schemas)},"stats":${strs(c.stats)}}"""
  }

  private def parseCheckpoint(n: Long, s: String): Checkpoint = {
    val bids = """"batchIds":\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("").split(",").toSeq
      .filter(_.nonEmpty).map(_.trim.toLong)
    // "tables" must not greedily swallow the later "schemas" section —
    // filesSection's non-greedy regex stops at the first `}`, which is
    // the end of the tables map because file lists contain no braces
    Checkpoint(n, filesSection(s, "tables"), bids,
      strsSection(s, "schemas"), strsSection(s, "stats"))
  }

  private def latestCheckpoint(): Option[Checkpoint] =
    checkpointFiles().lastOption.map { f =>
      parseCheckpoint(
        f.getName.stripPrefix("c").stripSuffix(".json").toLong,
        new String(Files.readAllBytes(f.toPath), UTF_8))
    }

  /** Delta versions strictly after `after` (all of them for -1). */
  private def readDeltas(after: Long): Seq[Version] = versionFiles()
    .map(f => f.getName.stripPrefix("v").stripSuffix(".json").toLong -> f)
    .filter(_._1 > after)
    .map { case (n, f) =>
      parse(n, new String(Files.readAllBytes(f.toPath), UTF_8))
    }

  private def foldInto(base: Snap, deltas: Seq[Version]): Snap =
    deltas.foldLeft(base) { (acc, v) =>
      // order matters: replace (full-list, legacy) → removed (precise —
      // compaction consumes exactly the files it read, so adds committed
      // DURING the compaction window survive the fold) → add
      val replaced = acc.files ++ v.replace
      val removed = v.removed.foldLeft(replaced) { case (a, (t, fs)) =>
        a.get(t) match {
          case Some(cur) => a.updated(t, cur.filterNot(fs.toSet))
          case None => a
        }
      }
      val added = v.add.foldLeft(removed) { case (a, (t, fs)) =>
        a.updated(t, a.getOrElse(t, Nil) ++ fs)
      }
      // stats follow their files: entries for removed/replaced files are
      // dropped (a compacted file has no stats until a stats job re-runs
      // — readers keep it conservatively, see statsPrunedFiles)
      val deadKeys =
        v.removed.flatMap { case (t, fs) => fs.map(f => s"$t/$f") }.toSet ++
          v.replace.keySet.flatMap { t =>
            acc.files.getOrElse(t, Nil).map(f => s"$t/$f")
          }
      val stats = (acc.stats -- deadKeys) ++ v.stats
      Snap(added, acc.schemas ++ v.schemas, stats) // latest schema wins
    }

  /** Fold checkpoint + post-checkpoint deltas into the live per-table
    * file lists + schemas — O(checkpointInterval) files, not O(stream
    * lifetime). */
  private def snapshotFull(): Snap = {
    val ckpt = latestCheckpoint()
    foldInto(
      ckpt.map(c => Snap(c.tables, c.schemas, c.stats)).getOrElse(Snap(Map.empty,
        Map.empty)),
      readDeltas(ckpt.map(_.n).getOrElse(-1L)))
  }

  private def snapshot(): Map[String, Seq[String]] = snapshotFull().files

  /** (latest checkpoint version, delta files a fold reads) — exposed so
    * ManifestCheckpointSpec can assert the O(interval) bound. */
  private[sinks] def logStats(): (Option[Long], Int) = {
    val ckpt = latestCheckpoint().map(_.n)
    (ckpt, readDeltas(ckpt.getOrElse(-1L)).size)
  }

  // Next version number, tracked in memory after the first disk read —
  // O(1) commits while this writer keeps winning. -2 = not yet read;
  // reset to -2 after losing a version race to force a disk refresh.
  private var nextVersion: Long = -2L

  /** Atomic commit with optimistic concurrency. The body is staged to a
    * temp file, then PUBLISHED by hard-linking it to the next version
    * number: `Files.createLink` fails atomically when the target exists
    * — across processes, not just threads (a POSIX rename, by contrast,
    * silently REPLACES an existing target, so `Files.move` cannot detect
    * a second writer). Losing the race refreshes the version counter
    * from disk, validates the commit against what landed in between
    * ([[validateLostRace]]), and retries at the next number:
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
    * A single writer never pays for any of this: the in-memory counter
    * stays warm and a commit is one link + one unlink. Every
    * `checkpointInterval`-th version also materializes a checkpoint
    * (checkpoints are derived data — two writers racing on the same
    * checkpoint number produce identical content, so the plain rename
    * there is benign).
    *
    * `readVersion` is the OTHER half of the conflict story: a snapshot
    * transaction (compaction, MERGE, DELETE — anything that read the
    * table, computed a rewrite, and now commits `removed`/`replace`)
    * records the manifest version it READ at. Versions that landed
    * AFTER that read are conflicts to validate even when this writer's
    * counter is fresh and the link publish wins first try — a losing
    * link race is merely one way to discover intervening commits, not
    * the definition of them (two compactions serialized by a long
    * rewrite job would otherwise BOTH land, duplicating every row).
    * Append-only commits read nothing and pass None: order-independent
    * by construction. */
  private[sinks] def commitVersion(batchId: Option[Long],
      add: Map[String, Seq[String]],
      replace: Map[String, Seq[String]] = Map.empty,
      removed: Map[String, Seq[String]] = Map.empty,
      schemas: Map[String, String] = Map.empty,
      stats: Map[String, String] = Map.empty,
      readVersion: Option[Long] = None): Unit = synchronized {
    manifestDir.mkdirs()
    var attempt = 0
    while (attempt < ManifestCatalog.MaxCommitAttempts) {
      if (nextVersion < 0)
        nextVersion = versionFiles().lastOption
          .map(_.getName.stripPrefix("v").stripSuffix(".json").toLong + 1)
          .orElse(latestCheckpoint().map(_.n + 1))
          .getOrElse(0L)
      val next = nextVersion
      // the transaction's base: everything after it is unseen. Non-
      // snapshot commits base at next-1 (nothing older concerns them).
      val base = readVersion.getOrElse(next - 1)
      // pre-publish validation: versions in (base, next) landed after
      // this transaction's read — winning the link race does NOT make
      // them compatible. Re-runs on every retry so each attempt
      // validates against whatever has landed by then.
      if (base < next - 1 &&
          validateConflicts(batchId, replace, removed, schemas, after = base))
        return // batch id already committed by another writer
      val body = render(Version(next, batchId, add, replace, removed, schemas,
        stats))
      val tmp = Files.createTempFile(manifestDir.toPath, ".tmp-v", ".json")
      Files.write(tmp, body.getBytes(UTF_8))
      val won = publish(manifestDir.toPath.resolve(f"v$next%020d.json"), tmp,
        body)
      Files.deleteIfExists(tmp)
      if (won) {
        nextVersion = next + 1
        if ((next + 1) % checkpointInterval == 0) writeCheckpoint(next)
        return
      }
      nextVersion = -2L // another writer took this number: refresh from disk
      if (validateConflicts(batchId, replace, removed, schemas, after = base))
        return // already effectively applied (batch replayed by the winner)
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
      replace: Map[String, Seq[String]],
      removed: Map[String, Seq[String]],
      schemas: Map[String, String],
      after: Long): Boolean = {
    if (batchId.exists(batchCommitted)) return true
    if (removed.nonEmpty) {
      val live = snapshot()
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
    val intervening = readDeltas(after)
    if (replace.nonEmpty && intervening.exists(v =>
        (v.add.keySet ++ v.replace.keySet ++ v.removed.keySet)
          .exists(replace.keySet)))
      throw new java.util.ConcurrentModificationException(
        "concurrent change to a table this commit replaces outright")
    // identical schemas may race (two writers creating the same table);
    // DIVERGENT ones may not — last-wins would drop one writer's column
    if (schemas.nonEmpty && intervening.exists(_.schemas.exists {
        case (t, s) => schemas.get(t).exists(_ != s)
      }))
      throw new java.util.ConcurrentModificationException(
        "concurrent divergent schema change to the same table")
    false
  }

  /** Materialize the fold at version `n` to `c<n>.json` (tmp + atomic
    * rename). Failure is non-fatal: the checkpoint is derived data and
    * readers fall back to the delta fold. */
  private def writeCheckpoint(n: Long): Unit =
    try {
      val prev = latestCheckpoint()
      val deltas = readDeltas(prev.map(_.n).getOrElse(-1L)).filter(_.n <= n)
      val snap = foldInto(
        prev.map(c => Snap(c.tables, c.schemas, c.stats))
          .getOrElse(Snap(Map.empty, Map.empty)), deltas)
      val bids = (prev.map(_.batchIds).getOrElse(Nil) ++
        deltas.flatMap(_.batchId))
        .takeRight(ManifestCatalog.MaxRetainedBatchIds)
      // stats are pruned to files still live at the checkpoint, so the
      // materialized fold never accumulates entries for vacuumed files
      val liveKeys = snap.files.flatMap { case (t, fs) =>
        fs.map(f => s"$t/$f")
      }.toSet
      val body = renderCheckpoint(Checkpoint(n, snap.files, bids,
        snap.schemas, snap.stats.filter(e => liveKeys.contains(e._1))))
      val tmp = Files.createTempFile(manifestDir.toPath, ".tmp-c", ".json")
      Files.write(tmp, body.getBytes(UTF_8))
      Files.move(tmp, manifestDir.toPath.resolve(f"c$n%020d.json"),
        StandardCopyOption.ATOMIC_MOVE)
      ()
    } catch {
      case e: Throwable =>
        System.err.println(s"[manifest] checkpoint at v$n failed " +
          s"(non-fatal, fold continues from deltas): $e")
    }

  // ------------------------------------------------- deferred batch mode

  // Between beginBatch and commitBatch every append only STAGES file
  // moves and records the adds here; commitBatch publishes them together
  // with the batch id in one atomic rename. Guarded by `this` — the
  // router's append pool calls appendRouted concurrently.
  private val pendingAdds =
    scala.collection.mutable.Map.empty[String, Seq[String]]
  private val pendingSchemas =
    scala.collection.mutable.Map.empty[String, String]
  private var deferring = false

  override def defersAppends: Boolean = true

  override def beginBatch(batchId: Long): Unit = synchronized {
    // pending adds from a previous FAILED batch are dropped — their
    // part files are unreachable orphans until vacuum()
    pendingAdds.clear()
    pendingSchemas.clear()
    deferring = true
  }

  /** Record adds into the open batch; false → caller commits directly. */
  private def recordPending(added: Map[String, Seq[String]],
      schemas: Map[String, String]): Boolean =
    synchronized {
      if (!deferring) false
      else {
        added.foreach { case (t, fs) =>
          pendingAdds(t) = pendingAdds.getOrElse(t, Nil) ++ fs
        }
        schemas.foreach { case (t, s) => pendingSchemas(t) = s }
        true
      }
    }

  // -------------------------------------------------------- TableCatalog

  override def listTables(): Seq[String] = snapshot().keys.toSeq.sorted

  override def describe(table: String): Seq[ColumnDef] = {
    val schema: StructType = read(table).schema
    schema.fields.toSeq.map(f =>
      ColumnDef(f.name, graft.ingest.TypeMapping.toClickHouse(f.dataType)))
  }

  override def createTable(table: String, cols: Seq[ColumnDef]): Unit = {
    val _ = (table, cols) // tables materialize at first committed append
  }

  /** Read ONLY the files the manifest lists — uncommitted (orphaned)
    * part files in the directory are invisible by construction. When the
    * log records a schema, the read is PINNED to it (no footer scans,
    * no mergeSchema): files written before a column was added surface
    * NULL for it — add-column schema evolution without rewriting data. */
  def read(table: String): DataFrame = {
    val snap = snapshotFull()
    val files = snap.files.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))
    readWithSchema(table, files, snap.schemas.get(table))
  }

  private def decodeSchema(b64: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(new String(
      java.util.Base64.getDecoder.decode(b64), UTF_8))
      .asInstanceOf[StructType]

  private def encodeSchema(s: StructType): String =
    java.util.Base64.getEncoder.encodeToString(s.json.getBytes(UTF_8))

  private def readWithSchema(table: String, files: Seq[String],
      schemaB64: Option[String]): DataFrame = {
    val reader = schemaB64 match {
      case Some(b) => spark.read.schema(decodeSchema(b))
      case None => spark.read
    }
    reader.parquet(files.map(f => s"$root/$table/$f"): _*)
  }

  /** Highest committed manifest version, or -1 for an empty log. */
  def latestVersion(): Long =
    versionFiles().lastOption
      .map(_.getName.stripPrefix("v").stripSuffix(".json").toLong)
      .orElse(latestCheckpoint().map(_.n))
      .getOrElse(-1L)

  /** Snapshot pinned at `version` (time travel): fold from the newest
    * retained checkpoint ≤ version plus the deltas in (ckpt, version].
    * Versions are consecutive, so a fold that comes up short means
    * [[vacuum]] reclaimed part of the chain — that fails LOUDLY here
    * rather than returning a silently incomplete file list. */
  def snapshotAt(version: Long): Map[String, Seq[String]] =
    snapFullAt(version).files

  private def snapFullAt(version: Long): Snap = {
    if (version > latestVersion())
      throw new IllegalArgumentException(s"unknown version: $version")
    val base = checkpointFiles()
      .map(f => f.getName.stripPrefix("c").stripSuffix(".json").toLong -> f)
      .filter(_._1 <= version).lastOption
      .map { case (n, f) =>
        parseCheckpoint(n, new String(Files.readAllBytes(f.toPath), UTF_8))
      }
    val after = base.map(_.n).getOrElse(-1L)
    val deltas = readDeltas(after).filter(_.n <= version)
    if (deltas.size != version - after)
      throw new IllegalStateException(
        s"version $version is no longer reachable: expected " +
          s"${version - after} deltas after checkpoint $after, found " +
          s"${deltas.size} (reclaimed by vacuum)")
    foldInto(base.map(c => Snap(c.tables, c.schemas, c.stats))
      .getOrElse(Snap(Map.empty, Map.empty)), deltas)
  }

  /** Time-travel read: the table as of manifest `version`, under the
    * schema RECORDED at that version (a later add-column does not leak
    * into the past). Valid while the version's delta chain and data
    * files are retained — [[vacuum]] trims the travel window to what the
    * latest checkpoint + live snapshot still reference (the same
    * contract a Delta VACUUM has). */
  def readAt(table: String, version: Long): DataFrame = {
    val snap = snapFullAt(version)
    val files = snap.files.getOrElse(table,
      throw new IllegalArgumentException(s"no such table at v$version: $table"))
    readWithSchema(table, files, snap.schemas.get(table))
  }

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
    val stored = snapshotFull().schemas
    val (aligned, recorded) =
      evolveFor(stored.get(table).map(decodeSchema), df)
    val moved = writeParts(table, aligned)
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
    spark.read.schema(schema)
      .parquet(moved.map(f => s"$root/$table/$f"): _*)
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
    val snap = snapshotFull()
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
    val snap = snapshotFull()
    val files = snap.files.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))
    // column type: the recorded schema, or the parquet footers when the
    // table predates schema recording. An unknown column keeps all
    // files — the downstream filter raises the analysis error.
    val dt = snap.schemas.get(table).map(decodeSchema)
      .orElse(if (files.nonEmpty)
        Some(readWithSchema(table, files, None).schema) else None)
      .flatMap(_.fields.find(_.name == column).map(_.dataType))
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
    (kept, files)
  }

  /** Point-lookup read: prune the file list by per-file blooms (and by
    * min/max where recorded via the normal filter pushdown), then apply
    * `col = value` normally — identical semantics to
    * `read(table).filter`, minus the skipped I/O. */
  def readPoint(table: String, column: String, value: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = bloomPrunedFiles(table, column, value)
    val snap = snapshotFull()
    // compare against the bare literal: type coercion promotes the
    // LITERAL to the column type, so the equality still pushes down to
    // the parquet scan (casting the column would block pushdown)
    if (kept.isEmpty)
      read(table).filter(col(column) === lit(value)).limit(0)
    else readWithSchema(table, kept, snap.schemas.get(table))
      .filter(col(column) === lit(value))
  }

  /** File list after zone-map pruning for `lo <= col <= hi`: a file is
    * skipped only when its recorded stats PROVE no overlap; files
    * without stats (streaming appends, fresh compactions) are always
    * kept — skipping is an optimization, never a correctness input.
    * @return (kept files, all files) */
  def statsPrunedFiles(table: String, column: String,
      lo: BigDecimal, hi: BigDecimal): (Seq[String], Seq[String]) = {
    val snap = snapshotFull()
    val files = snap.files.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))
    val kept = files.filter { f =>
      snap.stats.get(s"$table/$f")
        .flatMap(b => decodeColStats(b).get(column)) match {
        case Some((mn, mx)) =>
          try BigDecimal(mx) >= lo && BigDecimal(mn) <= hi
          catch { case _: NumberFormatException => true }
        case None => true
      }
    }
    (kept, files)
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
    val snap = snapshotFull()
    val kept = preds.foldLeft(snap.files.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))) {
      case (files, (c, lo, hi)) => files.filter { f =>
        snap.stats.get(s"$table/$f")
          .flatMap(b => decodeColStats(b).get(c)) match {
          case Some((mn, mx)) =>
            try BigDecimal(mx) >= BigDecimal(lo) &&
              BigDecimal(mn) <= BigDecimal(hi)
            catch { case _: NumberFormatException => true }
          case None => true
        }
      }
    }
    val filterExpr = preds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (kept.isEmpty)
      // empty relation under the recorded schema (filter keeps semantics)
      read(table).filter(filterExpr).limit(0)
    else readWithSchema(table, kept, snap.schemas.get(table))
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
    val stored = snapshotFull().schemas
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
      table -> writeParts(table, df)
    }.filter(_._2.nonEmpty).toMap
    if ((added.nonEmpty || batchId.isDefined || schemas.nonEmpty) &&
        !recordPending(added, schemas))
      commitVersion(batchId, added, schemas = schemas)
  }

  override def appendRouted(df: DataFrame, tables: Seq[String]): Boolean = {
    val added = withStaging(".staging-") { staging =>
      df.write.partitionBy("tableName")
        .mode(SaveMode.Overwrite).parquet(staging.toString)
      Option(staging.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("tableName=")).map { pdir =>
          val table = WarehouseCatalog.unescapePartitionName(
            pdir.getName.stripPrefix("tableName="))
          val dest = new File(rootDir, table)
          dest.mkdirs()
          val moved = pdir.listFiles().filter(_.getName.endsWith(".parquet"))
            .map { f =>
              if (!f.renameTo(new File(dest, f.getName)))
                throw new java.io.IOException(s"move failed: $f")
              f.getName
            }.toSeq
          table -> moved
        }.toMap
    }
    if (added.nonEmpty && !recordPending(added, Map.empty))
      commitVersion(None, added)
    true
  }

  override def batchCommitted(batchId: Long): Boolean = {
    val ckpt = latestCheckpoint()
    ckpt.exists(_.batchIds.contains(batchId)) ||
      readDeltas(ckpt.map(_.n).getOrElse(-1L))
        .exists(_.batchId.contains(batchId))
  }

  /** Publish the open batch (rows staged since [[beginBatch]]) together
    * with the batch id in ONE atomic rename — outside a batch this is
    * just the bare marker version. */
  override def commitBatch(batchId: Long): Unit = {
    val (adds, schs) = synchronized {
      val a = (pendingAdds.toMap, pendingSchemas.toMap)
      pendingAdds.clear()
      pendingSchemas.clear()
      deferring = false
      a
    }
    commitVersion(Some(batchId), adds, schemas = schs)
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
    // read version captured BEFORE the snapshot: any version landing
    // in between is (conservatively) treated as unseen and validated
    // at commit — see commitVersion's readVersion contract
    val readV = latestVersion()
    val snap = snapshotFull()
    val files = snap.files.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))
    val schemaB64 = snap.schemas.get(table)
    val live = readWithSchema(table, files, schemaB64)
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
      else readWithSchema(table, touched, schemaB64)
        .join(keyFrame, keys, "left_anti")
        .unionByName(src)
    val moved = writeParts(table, rewritten)
    commitVersion(None, add = Map(table -> moved),
      removed = Map(table -> touched), readVersion = Some(readV))
  }

  /** Copy-on-write DELETE: remove rows where `predicate` is TRUE (rows
    * where it is FALSE or NULL are kept — SQL DELETE semantics). Only
    * files containing at least one matching row are rewritten; a
    * predicate matching nothing commits nothing. Same atomicity /
    * time-travel / vacuum story as [[merge]]. */
  def delete(table: String,
      predicate: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val readV = latestVersion() // see merge: captured before the snapshot
    val snap = snapshotFull()
    val files = snap.files.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))
    val schemaB64 = snap.schemas.get(table)
    val live = readWithSchema(table, files, schemaB64)
    val touched = live.filter(predicate)
      .select(col("_metadata.file_name").as("_file"))
      .distinct().collect().map(_.getString(0)).toSeq
    if (touched.nonEmpty) {
      val keep = readWithSchema(table, touched, schemaB64)
        .filter(not(coalesce(predicate, lit(false))))
      val moved = writeParts(table, keep)
      commitVersion(None, add = Map(table -> moved),
        removed = Map(table -> touched), readVersion = Some(readV))
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
    val toSnap = snapFullAt(toV)
    val fromSnap = snapFullAt(fromV)
    val before = fromSnap.files.getOrElse(table, Seq.empty[String])
    val after = toSnap.files.getOrElse(table, Seq.empty[String])
    // both sides read under the `toV` schema so the diff's columns line
    // up across an add-column evolution (old files surface NULLs)
    val schemaB64 = toSnap.schemas.get(table)
      .orElse(fromSnap.schemas.get(table))
    val removedF = before.filterNot(after.toSet)
    val addedF = after.filterNot(before.toSet)
    def readFiles(fs: Seq[String], schemaFrom: Seq[String]): DataFrame =
      if (fs.nonEmpty) readWithSchema(table, fs, schemaB64)
      else if (schemaFrom.nonEmpty)
        readWithSchema(table, schemaFrom, schemaB64).limit(0)
      else throw new IllegalArgumentException(
        s"no such table in either version: $table")
    if (removedF.isEmpty && addedF.isEmpty)
      return readFiles(Nil, before ++ after)
        .withColumn("_op", lit("")).limit(0)
    val schemaDonor = if (addedF.nonEmpty) addedF else removedF
    val newSide = readFiles(addedF, schemaDonor)
    val oldSide = readFiles(removedF, schemaDonor)
    newSide.exceptAll(oldSide).withColumn("_op", lit("insert"))
      .unionByName(oldSide.exceptAll(newSide).withColumn("_op", lit("delete")))
      .select(col("_op") +: newSide.columns.toSeq.map(col): _*)
  }

  /** Write `df` to a staging dir and move the part files into the table
    * directory (invisible until a manifest commit references them). */
  private def writeParts(table: String, df: DataFrame): Seq[String] = {
    withStaging(".rewrite-") { staging =>
      df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val dest = new File(rootDir, table)
      dest.mkdirs()
      Option(staging.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map { f =>
          if (!f.renameTo(new File(dest, f.getName)))
            throw new java.io.IOException(s"move failed: $f")
          f.getName
        }.toSeq
    }
  }

  /** Run `write` against a fresh root-level staging directory
    * (`<prefix><uuid>`, one of [[ManifestCatalog.StagingPrefixes]]) and
    * remove the directory afterwards, also when the write fails. A failed
    * Spark job returns while its other tasks are still being killed, and
    * a task being killed can still create directories under its output
    * path; so after a failure the removal first waits, for at most
    * [[ManifestCatalog.StagingSettleMs]], until the write's jobs have ended
    * and none of their tasks runs. A write that failed before any job
    * ran (or whose job the status tracker has not seen yet) is not waited
    * for; what a late task re-creates is left to [[vacuum]]. */
  private def withStaging[T](prefix: String)(write: File => T): T = {
    val staging = new File(rootDir, s"$prefix${java.util.UUID.randomUUID()}")
    val tag = staging.getName
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try write(staging)
    catch { case NonFatal(e) => awaitTasksEnded(tag); throw e }
    finally { sc.removeJobTag(tag); rm(staging) }
  }

  private def awaitTasksEnded(tag: String): Unit = {
    val st = spark.sparkContext.statusTracker
    def settled: Boolean = {
      val jobs = st.getJobIdsForTag(tag).toSeq.flatMap(st.getJobInfo(_))
      jobs.forall(_.status != JobExecutionStatus.RUNNING) &&
        jobs.flatMap(_.stageIds).flatMap(st.getStageInfo(_))
          .forall(_.numActiveTasks == 0)
    }
    val deadline = System.currentTimeMillis() + ManifestCatalog.StagingSettleMs
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(10)
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
    val readV = latestVersion() // see merge: captured before the snapshot
    val snap = snapshotFull()
    val consumed = snap.files.getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))
    val compacted = readWithSchema(table, consumed, snap.schemas.get(table))
      .coalesce(math.max(1, targetFiles))
    val moved = writeParts(table, compacted)
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
      readVersion = Some(readV))
  }

  /** Remove data files no manifest version can reach (compacted-away or
    * orphaned by a crashed append), staging directories of writers that
    * died mid-write, delta versions already folded into the latest
    * checkpoint, and superseded checkpoints.
    *
    * `retentionMs` protects IN-FLIGHT writers: [[writeParts]] moves part
    * files into the table directory under their final names BEFORE the
    * manifest commit references them, so to a concurrent vacuum an
    * about-to-be-committed part is indistinguishable from a crashed
    * append's orphan. Files younger than the retention window (mtime-
    * based, the Delta tombstone-retention shape) are skipped — a
    * maintenance vacuum can therefore run beside live writers as long
    * as no single write job stages parts for longer than the window.
    * Pass 0 only when provably no writer is in flight (tests, single-
    * process teardown). The window must also exceed the longest
    * reader's snapshot age: compacted-away files a pinned reader still
    * lists become eligible once older than the window. */
  def vacuum(retentionMs: Long = ManifestCatalog.DefaultVacuumRetentionMs)
      : Int = {
    val live = snapshot()
    val cutoff = System.currentTimeMillis() - retentionMs
    var removed = 0
    // log reclamation: deltas ≤ checkpoint are folded in; older
    // checkpoints are superseded by the latest
    latestCheckpoint().foreach { ckpt =>
      versionFiles()
        .filter(_.getName.stripPrefix("v").stripSuffix(".json")
          .toLong <= ckpt.n)
        .foreach { f => if (f.delete()) removed += 1 }
      checkpointFiles().dropRight(1)
        .foreach { f => if (f.delete()) removed += 1 }
    }
    // staging directories a killed process left behind (a failing write
    // removes its own); an in-flight one keeps touching its files, so only
    // trees whose newest entry is older than the window go
    val dirs = Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    dirs.filter(d => ManifestCatalog.StagingPrefixes
        .exists(d.getName.startsWith) && newestMtime(d) <= cutoff)
      .foreach { d => rm(d); removed += 1 }
    // scan every table directory on disk, not just committed tables — a
    // crashed first-append leaves orphans under a table no manifest knows
    dirs.filter(d => !d.getName.startsWith("_") && !d.getName.startsWith("."))
      .foreach { dir =>
        val liveSet = live.getOrElse(dir.getName, Nil).toSet
        Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.endsWith(".parquet") &&
            !liveSet.contains(f.getName) && f.lastModified() <= cutoff)
          .foreach { f => if (f.delete()) removed += 1 }
      }
    removed
  }

  def fileCount(table: String): Int = snapshot().getOrElse(table, Nil).size

  private def newestMtime(f: File): Long =
    (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty[File])
      .toSeq.map(newestMtime)).max

  private def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }
}

object ManifestCatalog {
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
    * writer cannot delete parts staged (moved into the table directory)
    * but not yet referenced by a commit. 20 minutes bounds the longest
    * single write job the default tolerates; deployments with longer
    * rewrites (a multi-hour compaction) should pass a larger window. */
  val DefaultVacuumRetentionMs: Long = 20L * 60 * 1000

  /** Name prefixes of the root-level write staging directories
    * (`appendRouted`, and `writeParts` under compaction and row-level
    * rewrites) that [[ManifestCatalog.vacuum]] reclaims once stale. */
  private[sinks] val StagingPrefixes: Seq[String] =
    Seq(".staging-", ".rewrite-")

  /** Longest wait, after a failed write, for its tasks to end before its
    * staging directory is removed. What a task still re-creates after it
    * is left to [[ManifestCatalog.vacuum]]. */
  val StagingSettleMs: Long = 10L * 1000
}
