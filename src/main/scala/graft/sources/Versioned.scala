package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.sql.types.{DataType, StructType}

/** Snapshot-versioned parquet tables: manifest-based commits giving
  * plain parquet the three table-format properties the engine's sinks
  * otherwise lack — atomic commits, snapshot-isolated reads, and time
  * travel — without Delta/Iceberg (no external dependencies here).
  *
  * Layout:
  * {{{
  *   <dir>/data/<commit-uuid>-part-*.parquet   immutable data files
  *   <dir>/_manifests/v<N>.json                schema + file list per version
  * }}}
  *
  * Manifest: `{"schema":<StructType json>,"files":[{"name":"f",
  * "stats":{"col":[mn,mx]}}]}` — the table schema of that version and
  * the files it names (stats only where [[commitAppendStats]] lifted
  * them). Manifests written before the schema was recorded (v1
  * `["f", ...]`, v2 `{"files":[...]}`) still read, with the schema
  * inferred from the files; the next append to such a table stores it.
  *
  * Protocol: a commit writes its data files into `data/` under a fresh
  * unique prefix (never touching existing files), derives the version's
  * schema on the driver — the Spark schema in one new file's footer,
  * merged with the base version's schema by Spark's own parquet
  * schema-merge rule, so a type conflict fails the commit instead of
  * every later read — then publishes `v<N>.json` via write-temp +
  * atomic hard-link — createLink FAILS if the target exists, so
  * concurrent committers race safely: the loser rebases (files and
  * schema) on the winner's manifest and retries as v<N+1> (a plain
  * rename would silently replace the winner and lose its commit).
  * Readers list manifests, pick the highest N (or an explicit
  * version), and read exactly the files it names with the schema it
  * records: planning a read touches no data file and runs no Spark job,
  * a reader never observes a half-written commit, and a crash before
  * the link leaves only unreferenced data files (cost: storage until
  * vacuum — never wrong results). This is the Iceberg/Delta commit
  * protocol reduced to one manifest level; on an object store the link
  * becomes a putIfAbsent / conditional-write of the manifest object.
  *
  * At 100 TB: the manifest holds file NAMES and the schema only, so
  * commit cost is O(files touched), reads plan from one small JSON
  * object, and old snapshots stay readable until [[vacuum]] — which
  * deletes only data files no retained manifest references.
  */
object Versioned {

  private type Entry = (String, Map[String, (Long, Long)])

  /** One version: its files (with any footer-lifted stats) and its table
    * schema, absent only in manifests written before it was recorded. */
  private final case class Manifest(entries: Seq[Entry], schema: Option[StructType]) {
    def files: Seq[String] = entries.map(_._1)
  }

  /** Append `df` as a new version; returns the new version number. */
  def commitAppend(spark: SparkSession, dir: String, df: DataFrame): Int =
    commit(spark, dir, df, keepExisting = true)._1

  /** Append `df` as a new version unless it has no rows. The write is
    * the only Spark action: the rows are counted from the staged files'
    * footers, and an empty write is discarded without publishing.
    * Returns (version after, rows appended). */
  def commitAppendNonEmpty(spark: SparkSession, dir: String, df: DataFrame): (Int, Long) =
    commit(spark, dir, df, keepExisting = true, skipEmpty = true)

  /** Replace the table contents as a new version (the old snapshot
    * remains time-travel readable); returns the new version number. */
  def commitOverwrite(spark: SparkSession, dir: String, df: DataFrame): Int =
    commit(spark, dir, df, keepExisting = false)._1

  /** Append `df` as a new version AND lift per-file min/max for
    * `statCols` (integer-typed columns) out of the parquet FOOTERS into
    * the manifest — the Delta/Iceberg data-skipping design reduced to
    * one manifest level. The writers already paid for these statistics
    * (parquet records them per row group unconditionally); the commit
    * just aggregates them per file so a reader can prune files from the
    * manifest alone, without opening a single footer. Pair with a
    * `repartitionByRange` on the stat column so files cover disjoint
    * ranges — clustered data is what makes min/max pruning selective.
    * Footer reads run on the driver at commit time: O(files-touched)
    * metadata-only reads, the same cost profile as Delta's stats
    * collection, and never on the read path. */
  def commitAppendStats(spark: SparkSession, dir: String, df: DataFrame,
      statCols: Seq[String]): Int =
    commit(spark, dir, df, keepExisting = true, statCols)._1

  /** Read one version with manifest-level file skipping for the range
    * predicate `lo <= colName <= hi`: files whose recorded [min,max]
    * cannot intersect the range are never handed to the scan (files
    * without stats for the column are conservatively kept). The range
    * filter is still applied to the surviving files — skipping is an
    * optimization, the predicate is the semantics. Returns
    * (filtered frame, total files in manifest, files actually read). */
  def readSkipping(spark: SparkSession, dir: String, colName: String,
      lo: Long, hi: Long, version: Option[Int] = None): (DataFrame, Int, Int) = {
    val m = manifest(dir, resolve(dir, version))
    val kept = m.entries.filter { case (_, stats) =>
      stats.get(colName) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None           => true // unknown → must read
      }
    }
    val pred = col(colName) >= lo && col(colName) <= hi
    val df =
      if (kept.nonEmpty) scan(spark, dir, m.schema, kept.map(_._1)).filter(pred)
      else // every file pruned: keep the schema, return zero rows
        scan(spark, dir, m.schema, m.files).filter(org.apache.spark.sql.functions.lit(false))
    (df, m.entries.size, kept.size)
  }

  /** The production ingest step: append `batch` as a new version,
    * keeping only rows whose `fpCol` fingerprint is new — not already
    * present in the latest snapshot, and first (by `tieBreak`) within
    * the batch itself. Re-ingesting the same batch is a no-op (returns
    * the current version, commits nothing), which makes at-least-once
    * upstream delivery safe. The existing-fingerprint side is read
    * from the snapshot's parquet and used as a join side — at corpus
    * scale this is the fingerprint column only (pruned scan), shuffled
    * against the (much smaller) batch, or broadcast when the batch is
    * tiny. The window + anti-join run once, inside the write (see
    * [[commitAppendNonEmpty]]). Returns (version, rowsAppended). */
  def commitDedupAppend(spark: SparkSession, dir: String, batch: DataFrame,
      fpCol: String, tieBreak: String): (Int, Long) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val w = Window.partitionBy(fpCol).orderBy(tieBreak)
    val inBatch = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val fresh = latestVersion(dir) match {
      case None => inBatch
      case Some(v) =>
        inBatch.join(read(spark, dir, Some(v)).select(col(fpCol)),
          Seq(fpCol), "left_anti")
    }
    commitAppendNonEmpty(spark, dir, fresh)
  }

  /** Read the latest version, or an explicit one (time travel), with the
    * schema its manifest records — planning runs no Spark job. SCHEMA
    * EVOLUTION: an appended commit may carry new columns; the recorded
    * schema is the merge of every append's schema, so the read null-fills
    * them for files written before the column existed (a version whose
    * files all predate the column never shows it — time travel sees the
    * schema of its era). A manifest without a schema falls back to
    * `mergeSchema` inference, one footer-reading Spark job per read. */
  def read(spark: SparkSession, dir: String, version: Option[Int] = None): DataFrame = {
    val m = manifest(dir, resolve(dir, version))
    scan(spark, dir, m.schema, m.files)
  }

  /** All committed version numbers, ascending. */
  def versions(dir: String): Seq[Int] = {
    val mdir = Paths.get(dir, "_manifests")
    if (!Files.exists(mdir)) Seq.empty
    else listDir(mdir).map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)
      .sorted
  }

  def latestVersion(dir: String): Option[Int] = versions(dir).lastOption

  /** Drop all but the last `keepLast` versions and delete data files no
    * surviving manifest references. Returns deleted data-file count. */
  def vacuum(dir: String, keepLast: Int): Int = {
    require(keepLast >= 1, "must retain at least the latest version")
    val vs = versions(dir)
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - keepLast))
    val live = keep.flatMap(manifest(dir, _).files).toSet
    drop.foreach(v => Files.deleteIfExists(Paths.get(dir, "_manifests", s"v$v.json")))
    val dataDir = Paths.get(dir, "data")
    val dead =
      if (!Files.exists(dataDir)) Seq.empty
      else listDir(dataDir).filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !live.contains(p.getFileName.toString))
    dead.foreach(Files.delete)
    dead.size
  }

  /** OPTIMIZE: rewrite the latest version's files into a range-clustered
    * layout on `clusterCol` with fresh footer-lifted stats — the
    * compaction + re-cluster pass a versioned table runs after many
    * small appends degrade its file skipping. Publishes as a new
    * version with the same schema (old snapshots stay time-travel
    * readable until vacuum); returns (new version, files before, files
    * after). */
  def optimize(spark: SparkSession, dir: String, clusterCol: String,
      nFiles: Int): (Int, Int, Int) = {
    val v = resolve(dir, None)
    val m = manifest(dir, v)
    val schema = schemaOf(spark, dir, m)
    val rewritten = scan(spark, dir, Some(schema), m.files)
      .repartitionByRange(nFiles, col(clusterCol))
    val (nv, _) = commit(spark, dir, rewritten, keepExisting = false, Seq(clusterCol),
      fixedSchema = Some(schema))
    (nv, m.entries.size, manifest(dir, nv).entries.size)
  }

  /** Targeted row delete (the right-to-be-forgotten path): remove every
    * row with `lo <= colName <= hi` by rewriting ONLY the files whose
    * manifest [min,max] can intersect the range — all other files carry
    * over into the new version BY REFERENCE (same names, zero I/O), and
    * the version keeps the base schema. Old versions still contain the
    * rows until [[vacuum]] drops their manifests and reclaims the
    * rewritten-away files; that two-step is the auditable deletion story
    * every table format ships. Returns (new version, files rewritten,
    * files shared). On a stats-less v1 manifest every file is
    * conservatively rewritten — correct, just not pruned. */
  def deleteWhere(spark: SparkSession, dir: String, colName: String,
      lo: Long, hi: Long): (Int, Int, Int) = {
    val v = resolve(dir, None)
    val m = manifest(dir, v)
    val (touched, shared) = m.entries.partition { case (_, stats) =>
      stats.get(colName) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None           => true // unknown → may contain the range
      }
    }
    if (touched.isEmpty) return (v, 0, shared.size)
    val schema = schemaOf(spark, dir, m)
    val survivors = scan(spark, dir, Some(schema), touched.map(_._1))
      .filter(!(col(colName) >= lo && col(colName) <= hi))
    val keepStats = touched.headOption
      .map(_._2.keys.toSeq.sorted).getOrElse(Seq.empty)
    val (nv, _) = commit(spark, dir, survivors, keepExisting = false, keepStats,
      extraEntries = shared, fixedSchema = Some(schema))
    (nv, touched.size, shared.size)
  }

  private def resolve(dir: String, version: Option[Int]): Int =
    version.getOrElse(latestVersion(dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $dir")))

  /** The scan of `files` under the recorded schema, or — for a manifest
    * that predates it — under the schema `mergeSchema` infers. */
  private def scan(spark: SparkSession, dir: String, schema: Option[StructType],
      files: Seq[String]): DataFrame = {
    val paths = files.map(f => s"$dir/data/$f")
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** A version's table schema: recorded, or inferred once (a Spark job)
    * for a manifest written before schemas were recorded. */
  private def schemaOf(spark: SparkSession, dir: String, m: Manifest): StructType =
    m.schema.getOrElse(scan(spark, dir, None, m.files).schema)

  /** Write `df`, move its files into `data/` and publish them as the next
    * version: appended to the latest version's files when
    * `keepExisting`, else alongside `extraEntries` only. The version's
    * schema is `fixedSchema` when given (rewrites of one version), the
    * written schema merged into the base version's on append, else the
    * written schema alone (overwrite). With `skipEmpty`, a write of zero
    * rows publishes nothing. Returns (version after, rows written). */
  private def commit(spark: SparkSession, dir: String, df: DataFrame,
      keepExisting: Boolean, statCols: Seq[String] = Seq.empty,
      extraEntries: Seq[Entry] = Seq.empty, fixedSchema: Option[StructType] = None,
      skipEmpty: Boolean = false): (Int, Long) = {
    val dataDir = Paths.get(dir, "data")
    Files.createDirectories(dataDir)
    Files.createDirectories(Paths.get(dir, "_manifests"))
    // stage under a unique prefix, then MOVE files in: the data dir only
    // ever gains whole files that no manifest references yet
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val staging = Paths.get(dir, s"_staging-$commitId")
    df.write.parquet(staging.toString)
    val staged = listDir(staging)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
      .map(p => p -> footer(spark, p))
    val rows = staged.map(_._2.getBlocks.asScala.map(_.getRowCount).sum).sum
    if (skipEmpty && rows == 0) {
      deleteRecursively(staging)
      return (latestVersion(dir).getOrElse(0), 0L)
    }
    val written = PlanShim.asNullable(sparkSchema(staged.head._2))
    val newEntries = staged.map { case (p, meta) =>
      val name = s"$commitId-${p.getFileName.toString}"
      Files.move(p, dataDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      name -> footerStats(meta, statCols)
    }
    deleteRecursively(staging)
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    // publish with a compare-and-swap: createLink is atomic and FAILS
    // if v<N>.json already exists (rename would silently replace it —
    // a concurrent committer's manifest would be lost). On collision,
    // re-read the latest version and retry against the new base: its
    // files AND its schema.
    @annotation.tailrec
    def publish(attempt: Int): Int = {
      val latest = latestVersion(dir)
      val base = if (keepExisting) latest.map(manifest(dir, _)) else None
      val schema = fixedSchema.getOrElse(base.filter(_.entries.nonEmpty) match {
        case None => written
        case Some(b) =>
          try PlanShim.mergeSchema(schemaOf(spark, dir, b), written, caseSensitive)
          catch { case e: Exception =>
            newEntries.foreach(n => Files.deleteIfExists(dataDir.resolve(n._1)))
            throw new IllegalArgumentException(
              s"append to $dir conflicts with the schema of v${latest.get}: ${e.getMessage}", e)
          }
      })
      val v = latest.getOrElse(0) + 1
      val entries = base.map(_.entries).getOrElse(Seq.empty) ++ extraEntries ++ newEntries
      val tmp = Paths.get(dir, "_manifests", s".v$v-$commitId.json.tmp")
      Files.writeString(tmp, renderManifest(Manifest(entries, Some(schema))))
      val won =
        try { Files.createLink(Paths.get(dir, "_manifests", s"v$v.json"), tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      Files.delete(tmp)
      if (won) v
      else { // lost the race: rebase on the winner and retry
        require(attempt + 1 < 100, s"commit contention on $dir did not resolve")
        publish(attempt + 1)
      }
    }
    (publish(0), rows)
  }

  /** The footer of one data file (driver-side metadata read, no data
    * pages touched). */
  private def footer(spark: SparkSession, file: Path): ParquetMetadata = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri),
      spark.sessionState.newHadoopConf())
    val reader = ParquetFileReader.open(in)
    try reader.getFooter finally reader.close()
  }

  /** The Spark schema a Spark writer records in every parquet footer —
    * the schema `mergeSchema` inference reads back per file. */
  private def sparkSchema(meta: ParquetMetadata): StructType = {
    val s = meta.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    require(s != null, "parquet footer carries no Spark schema")
    DataType.fromJson(s).asInstanceOf[StructType]
  }

  /** Per-file min/max for integer-typed `cols`, aggregated across the
    * file's row-group footers. A column is recorded only when EVERY row
    * group carries usable stats — a single stats-less chunk makes the
    * file's true range unknown, and recording a partial range would
    * prune wrongly. */
  private def footerStats(meta: ParquetMetadata,
      cols: Seq[String]): Map[String, (Long, Long)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val blocks = meta.getBlocks.asScala.toSeq
    cols.flatMap { c =>
      val chunks = blocks.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == c))
      val ok = chunks.nonEmpty && chunks.forall { ch =>
        val t = ch.getPrimitiveType.getPrimitiveTypeName
        (t == PrimitiveTypeName.INT64 || t == PrimitiveTypeName.INT32) &&
          ch.getStatistics != null && !ch.getStatistics.isEmpty &&
          ch.getStatistics.hasNonNullValue
      }
      if (!ok) None
      else {
        val mins = chunks.map(_.getStatistics.genericGetMin.asInstanceOf[Number].longValue)
        val maxs = chunks.map(_.getStatistics.genericGetMax.asInstanceOf[Number].longValue)
        Some(c -> (mins.min, maxs.max))
      }
    }.toMap
  }

  private val json = new ObjectMapper()

  /** Manifests render as `{"schema":{...},"files":[{"name":"f"},
    * {"name":"g","stats":{"col":[mn,mx]}}]}`. Stats survive append
    * rebases verbatim. */
  private def renderManifest(m: Manifest): String = {
    val root = json.createObjectNode()
    m.schema.foreach(s => root.set[JsonNode]("schema", json.readTree(s.json)))
    val files = root.putArray("files")
    m.entries.foreach { case (f, stats) =>
      val e = files.addObject().put("name", f)
      if (stats.nonEmpty) {
        val st = e.putObject("stats")
        stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) => st.putArray(c).add(mn).add(mx) }
      }
    }
    json.writeValueAsString(root)
  }

  /** Reads every manifest shape this layer has written: v1 `["f", ...]`
    * (no stats, no schema), v2 `{"files":[{"name":"f","stats":{...}}]}`
    * (no schema) and the current `{"schema":{...},"files":[...]}`. */
  private def manifest(dir: String, v: Int): Manifest = {
    val m = Paths.get(dir, "_manifests", s"v$v.json")
    require(Files.exists(m), s"version $v does not exist under $dir")
    val root = json.readTree(Files.readString(m))
    val files = if (root.isArray) root else root.path("files")
    require(files.isArray, s"malformed manifest $m")
    val entries = files.elements().asScala.map { e =>
      if (e.isTextual) e.asText -> Map.empty[String, (Long, Long)]
      else {
        require(e.hasNonNull("name"), s"manifest entry without name in $m: $e")
        e.get("name").asText -> e.path("stats").properties().asScala
          .map(s => s.getKey -> (s.getValue.get(0).asLong, s.getValue.get(1).asLong)).toMap
      }
    }.toSeq
    val schema = Option(root.get("schema")).filter(_.isObject)
      .map(s => DataType.fromJson(s.toString).asInstanceOf[StructType])
    Manifest(entries, schema)
  }

  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(Files.delete)
    }
  }
}
