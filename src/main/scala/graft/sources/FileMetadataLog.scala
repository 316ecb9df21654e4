package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonGenerator}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** Persistent batch-id -> file-list log with a file-presence index.
  *
  * Contract mirrors the reference's S3MetadataLog trait
  * (S3MetadataLog.scala:25-44): add/get/getLatest plus the two dedup
  * queries isNewFile/getFile, duplicate-batch refusal, and horizon-driven
  * cleanup.
  */
trait FileMetadataLog extends AutoCloseable {
  /** Persist one batch. Throws GraftMetalogAddException on duplicate id. */
  def add(batchId: Long, entries: Array[FileEntry]): Boolean
  def get(batchId: Long): Option[Array[FileEntry]]
  /** Inclusive range; throws if a batch in range is missing. */
  def get(startId: Long, endId: Long): Array[(Long, Array[FileEntry])]
  def getLatestBatchId: Option[Long]
  /** A file is new iff not in the log, or logged but older than the purge
    * horizon (the log no longer vouches for expired files). */
  def isNewFile(path: String, lastPurgeTimestampMs: Long): Boolean
  def getFile(path: String): Option[FileEntry]
  /** The newest timestamp among the logged files; -1 when none. */
  def newestTimestampMs: Long
  /** Remove batches entirely below the horizon; bounded per call. */
  def purgeBefore(horizonMs: Long): Int
  /** Operational counters (live batches, compactions, restore reads);
    * published in the source's progress metrics. */
  def metrics: Seq[(String, Long)] = Seq.empty

  /** [[metrics]] as one JSON object; logged by the source at every commit
    * so log behavior is observable at runtime, not only spec-asserted. */
  def metricsJson: String =
    metrics.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

object FileBackedMetadataLog {
  /** Amortized cleanup bound per add (reference parity:
    * RocksDBS3SourceLog.scala:489). */
  val MaxBatchesRemovedPerPurge = 20

  /** Every Nth batch folds the whole live log into one `<id>.compact`
    * file, so restart reads O(1) files instead of O(batches). */
  val DefaultCompactInterval = 5

  /** On-disk compact-file format version (reference discipline: its
    * metadata logs version their payloads, RocksDBS3SourceLog.scala:257-270).
    * v1 = legacy bare JSON array of entries (no batch-boundary list);
    * v2 = `{"version":2,"batchIds":[...],"entries":[...]}`. */
  val CompactFormatVersion = 2
}

/** Metadata log over atomic one-file-per-batch JSON in the checkpoint dir
  * (HDFSMetadataLog-style, the §7.1 stage-1 design).
  *
  * Why not RocksDB (the reference's choice): the reference forked ~1,600
  * LoC of Spark state-store internals to get a local KV store with
  * incremental DFS checkpointing (RocksDB.scala, RocksDBFileManager.scala).
  * At the data volumes this log actually sees — one small JSON file per
  * micro-batch, bounded by maxFileAge cleanup — Spark's own pattern for
  * exactly this job (HDFSMetadataLog: atomic rename per batch) has the
  * same durability with zero native deps and no checkpoint-sync machinery.
  * The in-memory file index is rebuilt from the batch files on restart,
  * and its size is bounded by the age horizon, not total history.
  *
  * Layout: <metadataPath>/graft-batches/<batchId>, one JSON array per
  * batch, written via CheckpointFileManager.createAtomic (rename-based,
  * crash-safe). Batch files are immutable once written. Every
  * `compactInterval`th batch additionally writes `<batchId>.compact`
  * holding the entire live log (HDFSMetadataLog's compaction idea), then
  * deletes the folded per-batch files and older compacts — restart reads
  * one compact plus at most `compactInterval - 1` tail files, instead of
  * every batch file a long-lived low-volume query ever wrote.
  */
final class FileBackedMetadataLog(
    metadataPath: String,
    hadoopConf: Configuration,
    compactInterval: Int = FileBackedMetadataLog.DefaultCompactInterval)
  extends FileMetadataLog with org.apache.spark.internal.Logging {
  import FileBackedMetadataLog._

  private val mapper = new ObjectMapper()
  // the generator must not close its target: closing the createAtomic
  // stream IS the rename that publishes the file
  private val jsonFactory = new JsonFactory().disable(JsonGenerator.Feature.AUTO_CLOSE_TARGET)
  private val logDir = new Path(metadataPath, "graft-batches")
  private val fm = CheckpointFileManager.create(logDir, hadoopConf)
  if (!fm.exists(logDir)) fm.mkdirs(logDir)

  // path -> entry, for O(1) dedup checks; bounded by horizon cleanup
  private val fileIndex = new ConcurrentHashMap[String, FileEntry]()
  // batchId -> entries; same bound
  private val batches = new java.util.concurrent.ConcurrentSkipListMap[Long, Array[FileEntry]]()
  @volatile private var latestBatchId: Option[Long] = None

  // Batch ids removed by purgeBefore (age horizon), persisted to a
  // `_purged` sidecar so the fallback-gap audit can tell a legitimately
  // horizon-purged batch (absent on purpose) from one deleted by a torn
  // compact's cleanup (absent = unrestorable state). Pruned at each
  // completed compaction to ids above the surviving compact — older ids
  // can never appear in a future audit gap — so the sidecar stays
  // O(compactInterval), not O(history).
  private val purgedIds = mutable.Set[Long]()
  private def purgedFile: Path = new Path(logDir, "_purged")

  private def writePurgedSidecar(): Unit =
    writeAtomic(purgedFile, overwrite = true) { g =>
      g.writeStartArray()
      purgedIds.toSeq.sorted.foreach(id => g.writeNumber(id))
      g.writeEndArray()
    }

  /** Files opened by the last restore — the observable restart cost. */
  @volatile var lastRestoreFilesRead: Int = 0
  private var compactions = 0L

  // ---- init: newest readable compact (if any) + the per-batch tail ----
  // Torn-write discipline: createAtomic (rename-based) makes a torn final
  // file unreachable on rename-atomic filesystems, but an object store
  // without atomic rename can tear a compact mid-crash. In that crash the
  // post-compact deletes never ran, so every per-batch file the torn
  // compact would have folded still exists — falling back to the previous
  // readable compact plus the full tail reconstructs the exact pre-crash
  // state. If a compact exists but NONE is readable, the folded files may
  // be gone and continuing from the tail alone would silently forget
  // admitted files (duplicate ingestion at the source) — refuse instead.
  locally {
    var filesRead = 0
    // purge sidecar first: the fallback-gap audit below needs it. An
    // unreadable sidecar degrades to "no exemptions" — the audit may then
    // refuse spuriously on a purged batch, which is the conservative
    // direction (operator intervention), never silent wrong state.
    if (fm.exists(purgedFile)) {
      try readJson(purgedFile).elements().asScala
        .foreach(n => purgedIds += n.asLong())
      catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"purge sidecar $purgedFile is unreadable (${e.getMessage}); " +
            "treating as empty — the fallback-gap audit loses its purge exemptions")
      }
    }
    val compactIds = listCompactIds().sorted(Ordering[Long].reverse)
    val corrupt = mutable.ArrayBuffer[String]()
    val compactId: Option[Long] = compactIds.find { cid =>
      try {
        val (ids, all) = readCompactFile(cid)
        val grouped = all.groupBy(_.batchId)
        // a batch purged after this compact folded it stays purged
        ids.filterNot(purgedIds).foreach { id =>
          val entries = grouped.getOrElse(id, Array.empty[FileEntry])
          batches.put(id, entries)
          entries.foreach(e => fileIndex.put(e.path, e))
        }
        filesRead += 1
        true
      } catch {
        case e: GraftCheckpointCorruptException =>
          corrupt += e.getMessage
          logWarning(s"${e.getMessage}; falling back to the previous compact")
          false
      }
    }
    if (compactId.isEmpty && compactIds.nonEmpty) {
      throw new GraftSourceException(
        s"metadata log restore failed: no readable compact among " +
          s"${compactIds.map(compactFile).mkString(", ")} (${corrupt.mkString("; ")}) — " +
          "restore the checkpoint dir from backup; deleting the torn compacts would " +
          "silently re-admit already-ingested files")
    }
    // Fallback-gap audit: the fallback above assumed the torn compact's
    // post-write cleanup never ran (crash model: tear happens between the
    // atomic rename and the delete loops), which guarantees every batch it
    // folded still exists as a per-batch file. VERIFY that instead of
    // trusting it — if cleanup ran (crash inside the delete loops, or the
    // newest compact rotted long after a successful compaction), some of
    // those files are gone and continuing would silently regress
    // latestBatchId and re-admit already-ingested files, exactly what the
    // no-readable-compact branch refuses. A batch in the gap that was
    // removed by purgeBefore (age horizon) before the torn compact was
    // written is exempt — the `_purged` sidecar records exactly those ids,
    // so its absence is deliberate, not evidence that cleanup ran.
    for (chosen <- compactId; newest = compactIds.head; if chosen < newest) {
      val present = listBatchIds().toSet
      val missing = ((chosen + 1) to newest).filterNot(present).filterNot(purgedIds)
      if (missing.nonEmpty) {
        throw new GraftSourceException(
          s"metadata log restore failed: compact ${compactFile(newest)} is unreadable and " +
            s"per-batch file(s) ${missing.mkString(", ")} it folded are already deleted — " +
            s"its cleanup ran, so falling back to ${compactFile(chosen)} would silently " +
            "rebuild stale state and re-admit already-ingested files; restore the " +
            "checkpoint dir from backup")
      }
    }
    val tailIds = listBatchIds().filter(id => compactId.forall(id > _))
    tailIds.sorted.foreach { id =>
      val entries = try readBatchFile(id) catch {
        case e: GraftCheckpointCorruptException =>
          throw new GraftSourceException(
            s"metadata log restore failed: ${e.getMessage} — if $id is the final batch " +
              "of an incomplete commit, delete that batch file to resume from the " +
              "previous offset; mid-log corruption needs a checkpoint restore", e)
      }
      batches.put(id, entries)
      entries.foreach(e => fileIndex.put(e.path, e))
      filesRead += 1
    }
    latestBatchId = (tailIds ++ batches.keySet().asScala).maxOption
    lastRestoreFilesRead = filesRead
  }

  private def batchFile(batchId: Long): Path = new Path(logDir, batchId.toString)
  private def compactFile(batchId: Long): Path = new Path(logDir, s"$batchId.compact")

  private def listBatchIds(): Seq[Long] =
    if (!fm.exists(logDir)) Seq.empty
    else fm.list(logDir).toSeq.flatMap(s => s.getPath.getName.toLongOption)

  private def listCompactIds(): Seq[Long] =
    if (!fm.exists(logDir)) Seq.empty
    else fm.list(logDir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".compact")).flatMap(_.stripSuffix(".compact").toLongOption)

  private def readJson(p: Path): JsonNode = {
    val in = fm.open(p)
    try mapper.readTree(in) finally in.close()
  }

  /** Stream one JSON document into `p` through `createAtomic`: the file
    * becomes visible (the rename in `out.close()`) only after the last
    * byte is written, and any failure cancels the temp file instead. */
  private def writeAtomic(p: Path, overwrite: Boolean)(body: JsonGenerator => Unit): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try {
      val g = jsonFactory.createGenerator(out: java.io.OutputStream, JsonEncoding.UTF8)
      body(g)
      g.close() // flushes into `out`, which stays open
      out.close()
    } catch { case t: Throwable => out.cancel(); throw t }
  }

  private def writeEntries(g: JsonGenerator, entries: Iterator[FileEntry]): Unit = {
    g.writeStartArray()
    entries.foreach { e =>
      g.writeStartObject()
      g.writeStringField("path", e.path)
      g.writeNumberField("timestampMs", e.timestampMs)
      g.writeNumberField("batchId", e.batchId)
      g.writeEndObject()
    }
    g.writeEndArray()
  }

  private def readBatchFile(batchId: Long): Array[FileEntry] =
    try parseEntries(readJson(batchFile(batchId)), batchId) catch {
      case e: GraftSourceException => throw e
      case scala.util.control.NonFatal(e) =>
        throw new GraftCheckpointCorruptException(
          s"metadata batch file ${batchFile(batchId)} is torn or corrupt (${e.getMessage})", e)
    }

  /** A compact file records explicit batch boundaries alongside the
    * entries (`{"version":2,"batchIds":[...],"entries":[...]}`), so a
    * zero-entry batch survives compaction: without the boundary list, an
    * empty batch would vanish from the folded representation and `get` /
    * `getLatestBatchId` would regress after restart. Each entry's own
    * `batchId` field is authoritative for grouping.
    *
    * Restore accepts two on-disk shapes: the current versioned object,
    * and the legacy v1 bare array (a checkpoint written before the
    * boundary list existed) — legacy compacts are migrated in place by
    * deriving the batch-id list from each entry's own `batchId` (a
    * zero-entry batch could not be represented in v1, so none is lost
    * by this derivation). Anything else fails with a descriptive
    * versioned error rather than an opaque NPE. */
  private def readCompactFile(compactId: Long): (Seq[Long], Array[FileEntry]) = {
    val root = try readJson(compactFile(compactId)) catch {
      case scala.util.control.NonFatal(e) =>
        throw new GraftCheckpointCorruptException(
          s"metadata compact file ${compactFile(compactId)} is torn or corrupt (${e.getMessage})", e)
    }
    def entriesOf(node: JsonNode): Array[FileEntry] =
      node.elements().asScala.map { n =>
        FileEntry(n.get("path").asText(), n.get("timestampMs").asLong(), n.get("batchId").asLong())
      }.toArray
    if (root.isArray) {
      // v1 legacy: bare array of entries, no version marker, no boundary list
      val entries = entriesOf(root)
      (entries.map(_.batchId).distinct.sorted.toSeq, entries)
    } else if (root.isObject && root.hasNonNull("batchIds") && root.hasNonNull("entries")) {
      val version = if (root.hasNonNull("version")) root.get("version").asInt() else CompactFormatVersion
      if (version > CompactFormatVersion) {
        throw new GraftSourceException(
          s"metadata compact file ${compactFile(compactId)} has format version $version, " +
            s"but this build reads at most version $CompactFormatVersion — " +
            "the checkpoint was written by a newer release")
      }
      val ids = root.get("batchIds").asInstanceOf[ArrayNode]
        .elements().asScala.map(_.asLong()).toSeq
      (ids, entriesOf(root.get("entries")))
    } else {
      // a shape that is valid JSON but neither known layout: rot, not a
      // future format (those carry a version marker and fail above)
      throw new GraftCheckpointCorruptException(
        s"metadata compact file ${compactFile(compactId)} is neither a legacy v1 entry array " +
          s"nor a versioned {version, batchIds, entries} object (known versions: 1..$CompactFormatVersion)")
    }
  }

  private def parseEntries(json: JsonNode, batchId: Long): Array[FileEntry] =
    json.asInstanceOf[ArrayNode].elements().asScala.map { n =>
      FileEntry(n.get("path").asText(), n.get("timestampMs").asLong(), batchId)
    }.toArray

  // ---- contract -------------------------------------------------------
  override def add(batchId: Long, entries: Array[FileEntry]): Boolean = synchronized {
    if (batches.containsKey(batchId) || fm.exists(batchFile(batchId))) {
      throw new GraftMetalogAddException(batchId)
    }
    val tagged = entries.map(_.copy(batchId = batchId))
    writeAtomic(batchFile(batchId), overwrite = false)(writeEntries(_, tagged.iterator))
    batches.put(batchId, tagged)
    tagged.foreach(e => fileIndex.put(e.path, e))
    latestBatchId = Some(latestBatchId.fold(batchId)(math.max(_, batchId)))
    if ((batchId + 1) % compactInterval == 0) compact(batchId)
    true
  }

  /** Fold the live log into `<batchId>.compact`, then drop the folded
    * per-batch files and superseded compacts. The live log is streamed
    * once into the atomic stream, so a compaction costs the bytes it
    * writes, with no intermediate tree or string. The compact is
    * atomically renamed into place BEFORE anything is deleted, so a crash
    * at any point leaves a readable log (at worst both representations
    * exist and restore prefers the newest compact). */
  private def compact(batchId: Long): Unit = {
    writeAtomic(compactFile(batchId), overwrite = false) { g =>
      g.writeStartObject()
      g.writeNumberField("version", CompactFormatVersion)
      g.writeArrayFieldStart("batchIds")
      batches.keySet().asScala.foreach(id => g.writeNumber(id))
      g.writeEndArray()
      g.writeFieldName("entries")
      writeEntries(g, batches.values().asScala.iterator.flatMap(_.iterator))
      g.writeEndObject()
    }
    listBatchIds().filter(_ <= batchId).foreach(id => fm.delete(batchFile(id)))
    listCompactIds().filter(_ < batchId).foreach(id => fm.delete(compactFile(id)))
    // a completed compaction bounds every future audit gap to ids above
    // this compact — purge exemptions at or below it are dead weight
    if (purgedIds.exists(_ <= batchId)) {
      purgedIds.filterInPlace(_ > batchId)
      writePurgedSidecar()
    }
    compactions += 1
  }

  override def get(batchId: Long): Option[Array[FileEntry]] =
    Option(batches.get(batchId)).orElse {
      if (fm.exists(batchFile(batchId))) Some(readBatchFile(batchId)) else None
    }

  override def get(startId: Long, endId: Long): Array[(Long, Array[FileEntry])] = {
    (startId to endId).map { id =>
      id -> get(id).getOrElse(
        throw new GraftSourceException(s"batch $id missing from metadata log [$startId, $endId]"))
    }.toArray
  }

  override def getLatestBatchId: Option[Long] = latestBatchId

  override def isNewFile(path: String, lastPurgeTimestampMs: Long): Boolean = {
    val e = fileIndex.get(path)
    e == null || e.timestampMs < lastPurgeTimestampMs
  }

  override def getFile(path: String): Option[FileEntry] = Option(fileIndex.get(path))

  override def newestTimestampMs: Long =
    fileIndex.values().asScala.foldLeft(-1L)((m, e) => math.max(m, e.timestampMs))

  override def purgeBefore(horizonMs: Long): Int = synchronized {
    var removed = 0
    val toRemove = mutable.ArrayBuffer[Long]()
    val it = batches.entrySet().iterator()
    // only remove a batch when ALL its files are below the horizon
    // (reference parity: RocksDBS3SourceLog.scala:426-455), never the
    // latest batch (it defines the restart offset)
    while (it.hasNext && toRemove.size < MaxBatchesRemovedPerPurge) {
      val e = it.next()
      val isLatest = latestBatchId.contains(e.getKey)
      if (!isLatest && e.getValue.forall(_.timestampMs < horizonMs)) toRemove += e.getKey
    }
    toRemove.foreach { id =>
      val entries = batches.remove(id)
      if (entries != null) {
        entries.foreach { e =>
          // only drop from the index if the index still points at this batch
          fileIndex.computeIfPresent(e.path, (_, cur) => if (cur.batchId == id) null else cur)
        }
      }
      fm.delete(batchFile(id))
      removed += 1
    }
    if (toRemove.nonEmpty) {
      purgedIds ++= toRemove
      writePurgedSidecar()
    }
    removed
  }

  override def metrics: Seq[(String, Long)] = Seq(
    "batches" -> batches.size().toLong,
    "compactions" -> compactions,
    "lastRestoreFilesRead" -> lastRestoreFilesRead.toLong)

  override def close(): Unit = ()
}
